package graft

/** Package-private program hooks the benchmark needs for clean timing. */
object PerfbenchHooks {
  /** Block until the server's background suggestion-cache warm is done,
    * so set-up work does not overlap the first timed request. */
  def awaitWarm(ws: graft.api.WebServer): Unit = ws.awaitSuggestionWarm()
}
