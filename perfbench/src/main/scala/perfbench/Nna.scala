package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.api.{NNAQuery, Renderers, Security, Suggestions, SuggestionsService, WebServer}
import graft.engine.{Aggregates, PathStructure, SqlShim}
import graft.ingest.{EditLogSource, FsImageBinary}
import graft.inodes.InodeView

/** `nna`: the paper's own use. A namespace is ingested from a binary
  * fsimage into the cached snapshot and served by an in-process
  * [[WebServer]] to closed-loop REST clients, while a tailer, also closed
  * loop, keeps a second copy fresh from OEV-XML edit segments: per segment
  * parse, apply, checkpoint, fold the suggestions census, then a fixed
  * read set on the fresh snapshot. The REST answers (first of each
  * distinct request) and the census after each segment go back to
  * `run.py` for their oracles. */
object Nna {

  final case class Req(key: String, endpoint: String, query: String,
                       kind: String) {
    def params: Map[String, String] =
      query.split('&').filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), UTF_8) ->
          java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap
  }

  val Clients = 2
  /** Segments every timed window applies, however long they take. */
  val MinSegments = 2
  /** The traced pass: a fixed prefix of the request mix and of the
    * segments, so its Spark counts repeat exactly for a seed. */
  val TracedRequests = 24
  val TracedSegments = 2

  /** The fixed reads a dashboard issues against each fresh snapshot. */
  val ReadSet: Seq[NNAQuery] = Seq(
    NNAQuery(sum = Seq("count", "fileSize", "diskspaceConsumed")),
    NNAQuery(histType = Some("user")),
    NNAQuery(histType = Some("fileSize")),
    NNAQuery(histType = Some("modTime"), timeRange = "monthly"),
    NNAQuery(filters = "modTime:daysAgo:30", sum = Seq("count", "numBlocks")),
    NNAQuery(histType = Some("parentDir"), parentDirDepth = 3, top = Some(10)))

  /** `applyEdits` maintains the core columns only; the census also reads
    * the dir quota/usage columns, filled the way the program's own census
    * specs fill them. */
  def widen(df: DataFrame): DataFrame = df
    .withColumn("hasQuota", col("nsQuota") > 0 || col("dsQuota") > 0)
    .withColumn("dirNumChildren", lit(0L))
    .withColumn("nsQuotaUsed", lit(0L))
    .withColumn("dsQuotaUsed", lit(0L))

  def readRequests(inputs: String): Array[Req] = {
    val byKey = Files.readAllLines(Paths.get(inputs, "requests.tsv")).asScala
      .map(_.split('\t')).map(a => a(0) -> Req(a(0), a(1), a(2), a(3))).toMap
    Files.readAllLines(Paths.get(inputs, "sequence.txt")).asScala
      .map(byKey).toArray
  }

  /** The DataFrame the REST handler of `r`'s endpoint builds — the same
    * public engine calls [[WebServer]] makes, without HTTP. */
  def build(spark: SparkSession, dir: String, snap: DataFrame,
            r: Req): DataFrame = {
    val p = r.params
    r.endpoint match {
      case "filter" => NNAQuery.execute(NNAQuery.fromParams(p), snap)
      case "histogram" =>
        NNAQuery.execute(NNAQuery.fromParams(p).copy(histType = p.get("type")), snap)
      case "histogram2" => NNAQuery.execute(NNAQuery.fromParams(p)
        .copy(histType = p.get("type"), histType2 = p.get("type2")), snap)
      case "divide" =>
        def q(i: Int) = NNAQuery(set = p.getOrElse(s"set$i", "files"),
          filters = p.getOrElse(s"filters$i", ""),
          sum = Seq(p.getOrElse(s"sum$i", "count")))
        NNAQuery.divide(q(1), q(2), snap)
      case "contentSummary" => Aggregates.contentSummary(snap, p("path"))
      case "dump" =>
        val path = p("path")
        snap.where(col("path") === path || col("path").startsWith(path + "/"))
          .select(col("path")).orderBy(col("path")).limit(p("limit").toInt)
      case "sql" => SqlShim.execute(spark, dir, p("sqlStatement")).toOption.get
      case "directories" => Suggestions.topDirectories(snap, 3, p("limit").toInt)
    }
  }

  /** The endpoints whose handlers answer through [[Renderers]]; the
    * others write their few values inline. */
  val Rendered = Set("histogram", "histogram2", "sql")

  /** The handler's rendering of the collected `rows` of a [[Rendered]]
    * endpoint, over a local relation so no Spark job runs again. */
  def render(spark: SparkSession, r: Req, df: DataFrame, rows: Array[Row]): String = {
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    val p = r.params
    r.endpoint match {
      case "histogram" =>
        val sum = p.getOrElse("sum", "count")
        Renderers.toChartJsJson(local, s"${p("type")} | $sum | ${p("set")}", sum)
      case "histogram2" => Renderers.twoLevelToJson(local)
      case "sql" => Renderers.toCsv(local)
    }
  }

  def run(spark: SparkSession, cfg: Main.Config, res: Main.Result): Unit = {
    val image = cfg.str("fsimage")
    val loc = s"oivbin:$image"
    val seq = readRequests(cfg.inputs)
    val segments = Files.readAllLines(Paths.get(cfg.inputs, "segments.tsv"))
      .asScala.map(_.split('\t')).map(a => (a(0), a(1).toLong)).toIndexedSeq
    val tracer = res.tracer
    def span[T](name: String, req: Long = -1L)(body: => T): T =
      tracer.fold(body)(_.span(name, req)(body))

    // ---- set-up, repeated: the namespace load — fsimage ingest into the
    // cached snapshot, plus the quota-gate priming
    var snap: DataFrame = null
    for (rep <- 0 until Main.WarmupReps + Main.SetupReps) {
      val counted = rep >= Main.WarmupReps
      def timed[T](name: String)(body: => T): T = if (counted) span(name)(body) else body
      if (snap != null) InodeView.invalidate(loc)
      if (counted) tracer.foreach(_.span("ingest.fsimage_decode") {
        FsImageBinary.readInodesFull(image); FsImageBinary.readDirLinks(image)
      })
      val (_, ms) = Main.timeMs {
        snap = timed("inodes.snapshot") {
          val s = InodeView.snapshot(spark, loc); s.count(); s
        }
        timed("inodes.gates") { PathStructure.primeQuotaGates(snap) }
      }
      if (counted) res.add("setup_s", ms / 1000)
    }
    res.values("cache_mb") = Main.cacheMb(spark)
    // once, untimed: the server (its background suggestion-cache warm ends
    // before the first request) and the full census the tailer folds onto
    val ws = new WebServer(spark, snap, loc,
      new Security.Context(Nil, "perfbench".getBytes(UTF_8)))
    ws.start()
    graft.PerfbenchHooks.awaitWarm(ws)
    var cur = widen(snap)
    var state = Await.result(SuggestionsService.cycleWithState(spark, cur,
      None, InodeView.NowMs).result, Duration.Inf)._1

    // ---- the REST clients
    val base = s"http://127.0.0.1:${ws.boundPort}"
    def client(): HttpClient =
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def get(http: HttpClient, r: Req): (Int, String) = {
      val rsp = http.send(HttpRequest.newBuilder(
        URI.create(s"$base/${r.endpoint}?${r.query}")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (rsp.statusCode(), rsp.body())
    }
    val answers = new ConcurrentHashMap[String, String]()
    val occurrences, differs = new ConcurrentHashMap[String, AtomicLong]()
    val nextReq = new AtomicLong()
    /** Send `r` and return its latency. Every answer is checked: the first
      * of each distinct request later against its oracle, each later one
      * here against the first (the served snapshot does not change). A
      * failed request counts against `failed`, a differing answer in
      * `differs`. */
    def send(http: HttpClient, r: Req): Double = {
      val (reply, ms) = Main.timeMs(scala.util.Try(get(http, r)))
      occurrences.computeIfAbsent(r.key, _ => new AtomicLong()).incrementAndGet()
      reply match {
        case scala.util.Success((200, body)) =>
          val first = answers.putIfAbsent(r.key, body)
          if (first != null && first != body)
            differs.computeIfAbsent(r.key, _ => new AtomicLong()).incrementAndGet()
        case other => res.failure(s"${r.key}: $other")
      }
      ms
    }
    /** One closed-loop REST caller while `running()`; latencies go to
      * sample `name`. */
    def restClient(running: () => Boolean, name: String): Unit = {
      val http = client()
      while (running())
        res.add(name, send(http, seq((nextReq.getAndIncrement() % seq.length).toInt)))
    }

    // ---- the tailer
    var nextSeg = 0
    /** Apply segments until `seconds` pass and at least `min` are done, or
      * `max` are. Each segment's edit rate (ops over its apply-to-reads
      * cycle) goes to sample `write_rate`: a run holds only a few
      * segments, so a whole-run rate would jump with their count. */
    def tailLoop(seconds: Double, min: Int, max: Int, suffix: String): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (n < max && nextSeg < segments.size &&
          (n < min || System.nanoTime() < deadline)) {
        val (path, nOps) = segments(nextSeg)
        val before = cur
        val t0 = System.nanoTime()
        val (_, visibleMs) = Main.timeMs {
          val ops = span("ingest.editlog_parse") {
            EditLogSource.ops(spark, s"${cfg.inputs}/$path")
              .localCheckpoint(eager = true)
          }
          cur = span("ingest.editlog_apply") {
            widen(EditLogSource.applyEdits(before, ops))
              .localCheckpoint(eager = true)
          }
          state = span("api.census_fold") {
            def fold() = Await.result(SuggestionsService.incrementalCycle(
              spark, before, cur, ops, state, InodeView.NowMs, None).result,
              Duration.Inf)._1
            // the cycle runs on the program's query-guard pool
            tracer.fold(fold())(_.routeGroup("graft-suggestions-cycle")(fold()))
          }
        }
        res.add(s"visible_ms$suffix", visibleMs)
        for (q <- ReadSet) {
          val (_, ms) = Main.timeMs(span("tail.read")(NNAQuery.execute(q, cur).collect()))
          res.add(s"tail_read_ms$suffix", ms)
        }
        res.add(s"write_rate$suffix", nOps / ((System.nanoTime() - t0) / 1e9))
        // the folded census, for the replay check (outside the timings):
        // the file metrics are every census column before the dir metrics
        val row = state.census.head()
        val names = state.census.columns.toSeq.takeWhile(_ != "numDirs")
        res.values(s"census_$nextSeg") = names.map(c => c -> row.getAs[Long](c)).toMap
        nextSeg += 1
        n += 1
      }
    }

    /** The REST clients and the tailer at once: reads served beside the
      * writes. The tailer starts no segment after `seconds` once it has
      * applied `MinSegments`; the clients stop with it, so every read runs
      * beside the writes. */
    def together(seconds: Double): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val tailDone = new java.util.concurrent.atomic.AtomicBoolean()
      val t0 = System.nanoTime()
      val restEnd = new AtomicLong()
      Main.concurrently(
        (() => try tailLoop(seconds, MinSegments, Int.MaxValue, "")
               finally tailDone.set(true)) +:
          Seq.fill(Clients)(() => {
            restClient(() => !tailDone.get || System.nanoTime() < deadline, "read_ms")
            restEnd.accumulateAndGet(System.nanoTime(), (a, b) => math.max(a, b))
            ()
          }): _*)
      res.values("read_per_s") = res.samples("read_ms").size / ((restEnd.get - t0) / 1e9)
      res.values("write_per_s") = Main.median(res.samples("write_rate").toSeq)
    }

    tracer match {
      case None => together(cfg.seconds)
      case Some(tr) =>
        val http = client()
        tracedPass(spark, loc, snap, seq, tr, res, send(http, _))
        tailLoop(0, TracedSegments, TracedSegments, "_traced_pass")
        tailLayers(tr, res)
    }
    Main.log(s"timed part done after $nextSeg segments")
    ws.stop()
    res.values("answers") = answers.asScala.toMap
    res.values("occurrences") = occurrences.asScala.map { case (k, v) => k -> v.get }.toMap
    res.values("differs") = differs.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  /** One call per layer for a fixed prefix of the mix: REST first, then the
    * same request through the engine calls directly, one span each. The
    * direct call also runs untraced, before or after the traced one in
    * turn: `trace.overhead_ms` is the median of their differences. Requests
    * the server answers from its suggestion cache have no engine call. */
  private def tracedPass(spark: SparkSession, dir: String, snap: DataFrame,
                         seq: Array[Req], tr: Tracer, res: Main.Result,
                         rest: Req => Double): Unit = {
    val httpOver, overhead = scala.collection.mutable.ArrayBuffer[Double]()
    val engineMs = scala.collection.mutable.Map[String, List[Double]]()
    // the prefix, plus the first request of any kind it lacks
    val prefix = seq.take(TracedRequests)
    val traced = prefix ++ seq.groupBy(_.kind).values.map(_.head)
      .filterNot(r => prefix.exists(_.kind == r.kind)).toSeq.sortBy(seq.indexOf(_))
    def direct(r: Req, i: Int): Double = {
      val (df, b) = Main.timeMs(tr.span("api.build", i)(build(spark, dir, snap, r)))
      val (_, p) = Main.timeMs(tr.span("api.plan", i)(df.queryExecution.executedPlan))
      val (rows, e) = Main.timeMs(tr.span("api.exec", i)(df.collect()))
      val (_, rd) = Main.timeMs(
        if (Rendered(r.endpoint)) tr.span("api.render", i)(render(spark, r, df, rows)))
      b + p + e + rd
    }
    val queried = traced.filter(_.kind != "cache")
    for (r <- traced) {
      val httpMs = rest(r)
      val i = queried.indexOf(r)
      if (i >= 0) {
        def tracedCall() = Main.timeMs(tr.span("api.request", i)(direct(r, i)))
        def plainCall() = tr.untraced(Main.timeMs(direct(r, i)))._2
        val ((engine, wall), plain) =
          if (i % 2 == 0) { val p = plainCall(); (tracedCall(), p) }
          else { val t = tracedCall(); (t, plainCall()) }
        httpOver += httpMs - engine
        overhead += wall - plain
        engineMs(r.kind) = engine :: engineMs.getOrElse(r.kind, Nil)
      }
    }
    val n = queried.length
    val spans = tr.spans
    val totals = tr.inclusive(spans)
    def med(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    val sum = spans.filter(_.name == "api.request").map(s => totals(s.id))
      .foldLeft(Tracer.Totals())(_ + _)
    val snapshotMs = med("inodes.snapshot")
    val decodeMs = med("ingest.fsimage_decode")
    res.layers ++= Seq(
      "api.http_ms" -> Main.median(httpOver.toSeq),
      "api.build_ms" -> med("api.build"),
      "api.plan_ms" -> med("api.plan"),
      "api.exec_ms" -> med("api.exec"),
      "api.render_ms" -> med("api.render"),
      "spark.jobs_per_query" -> sum.jobs.toDouble / n,
      "spark.tasks_per_query" -> sum.tasks.toDouble / n,
      "spark.shuffle_bytes_per_query" -> sum.shuffleBytes.toDouble / n,
      "spark.gc_ms" -> sum.gcMs.toDouble / n,
      "inodes.snapshot_s" -> snapshotMs / 1000,
      "inodes.gates_s" -> med("inodes.gates") / 1000,
      "ingest.fsimage_decode_s" -> decodeMs / 1000,
      "ingest.fsimage_derive_s" -> (snapshotMs - decodeMs) / 1000,
      "trace.overhead_ms" -> Main.median(overhead.toSeq))
    for (k <- Seq("filter", "histogram", "histogram2", "sql", "dump", "pathjoin"))
      res.layers(s"engine.${k}_ms") = Main.median(engineMs.getOrElse(k, Nil))
  }

  private def tailLayers(tr: Tracer, res: Main.Result): Unit = {
    val spans = tr.spans
    val totals = tr.inclusive(spans)
    def med(name: String) = Main.median(spans.filter(_.name == name).map(_.ms))
    def jobsPer(name: String) = {
      val ss = spans.filter(_.name == name)
      ss.map(s => totals(s.id).jobs).sum.toDouble / ss.size
    }
    res.layers ++= Seq(
      "ingest.editlog_parse_ms" -> med("ingest.editlog_parse"),
      "ingest.editlog_apply_ms" -> med("ingest.editlog_apply"),
      "ingest.editlog_apply_jobs" -> jobsPer("ingest.editlog_apply"),
      "api.census_fold_ms" -> med("api.census_fold"),
      "api.census_fold_jobs" -> jobsPer("api.census_fold"),
      "tail.read_jobs_per_query" -> jobsPer("tail.read"))
  }
}
