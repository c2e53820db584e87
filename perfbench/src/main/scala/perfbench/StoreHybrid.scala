package perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.pipeline.{Bm25Index, Maintenance, Retrieval, Similarity}
import graft.streaming.IndexMaintenanceStream

/** `store_hybrid`: a BM25 store and full-vector, IVF-PQ and SQ8 vector
  * stores bootstrapped from generated documents/embeddings. Then a writer
  * applies mixed add/delete/update ticks through
  * `IndexMaintenanceStream.applyBatch` while one closed-loop caller per
  * tier sends batched hybrid probes. After the last tick the exact tier
  * must equal a hybrid built from scratch over the live corpus, replayed
  * here from the same ticks, and the code tiers' recall is measured
  * against it. */
object StoreHybrid {

  val NBuckets = 64
  val NList = 16
  val PqM = 8
  val K = 10
  val LegK = 20
  val NProbe = 4
  val RerankC = 40
  /** A small delta budget, so the size-tiered compaction runs within the
    * few ticks of one run (and of the traced pass) instead of only after
    * sixteen. */
  val MaxDeltas = 2
  val TracedTicks = 2
  /** Query batches the final exact-tier check covers (8 queries each). */
  val CheckedBatches = 4
  /** The vector tiers probed, each by its own hybrid. */
  val Tiers = Seq("full", "pq", "sq8")

  final case class Tier(name: String, door: Maintenance.Door, write: Writer)
  type Writer = (DataFrame, String, String) => Unit

  private val cellWrite: Writer =
    (df, dst, mode) => df.write.partitionBy("cell").mode(mode).parquet(dst)
  private val oldText: DataFrame => DataFrame =
    u => u.select(col("doc_id"), col("old_text").as("text"))

  def run(spark: SparkSession, cfg: Main.Config, res: Main.Result): Unit = {
    val tables = s"${cfg.inputs}/tables"
    val docs = Tables.documents(spark, tables).select("doc_id", "text")
    val emb = Tables.embeddings(spark, tables).select("vec_id", "embedding")
    val ticks = Files.readAllLines(Paths.get(cfg.inputs, "ticks.tsv")).asScala
      .map(_.split('\t')).map(a => (a(0), a(1).toLong)).toIndexedSeq
    val batches = Files.readAllLines(Paths.get(cfg.inputs, "queries.tsv")).asScala
      .map(_.split('\t')).map(a => a(0).toInt -> (a(1).toLong, a(2).split(' ').toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toSeq).toIndexedSeq
    val queryVecs = spark.read.parquet(s"${cfg.inputs}/query_vecs.parquet").cache()
    queryVecs.count()
    val tracer = res.tracer
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name)(body))

    // ---- set-up, repeated: train the frozen quantizers and bootstrap the
    // four stores into fresh directories
    var root = ""
    var cents: Seq[(Long, Array[Double])] = Nil
    var cbs: Array[Array[Array[Double]]] = null
    var tiers: Seq[Tier] = Nil
    def dir(t: Tier) = s"$root/${t.name}"
    def bootstrap(): Unit = {
      cents = Similarity.centroids(emb, NList)
      cbs = Similarity.pqCodebooksFromSeeds(cents.map(_._2).toArray, PqM)
      tiers = Seq(
        Tier("bm25", new Maintenance.Bm25Door(col("text"), NBuckets), Bm25Index.write),
        Tier("full", new Maintenance.IvfDoor(cents), cellWrite),
        Tier("pq", new Maintenance.IvfPqDoor(cents, cbs), cellWrite),
        Tier("sq8", new Maintenance.IvfSq8Door(cents), cellWrite))
      for (t <- tiers) IndexMaintenanceStream.bootstrap(spark, t.door, dir(t),
        t.write, if (t.name == "bm25") docs else emb)
    }
    for (rep <- 0 until Main.WarmupReps + Main.SetupReps) {
      if (root.nonEmpty) Main.deleteTree(root)
      root = s"${cfg.work}/stores/rep$rep"
      if (rep < Main.WarmupReps) bootstrap()
      else res.add("setup_s", Main.timeMs(span("store.bootstrap")(bootstrap()))._2 / 1000)
    }
    val Seq(bm, full, pq, sq8) = tiers

    def probe(tier: String, batch: Seq[(Long, Seq[String])]): Array[Row] = {
      val qv = queryVecs.where(col("vec_id").isin(batch.map(_._1): _*))
      val df = tier match {
        case "full" => Retrieval.hybridFromStoresBatch(spark, bm.door, dir(bm),
          NBuckets, full.door, dir(full), cents, qv, batch, K, LegK, NProbe)
        case "pq" => Retrieval.hybridFromStoresPqBatch(spark, bm.door, dir(bm),
          NBuckets, pq.door, dir(pq), cents, cbs, full.door, dir(full), qv,
          batch, K, LegK, RerankC, NProbe)
        case "sq8" => Retrieval.hybridFromStoresSq8Batch(spark, bm.door, dir(bm),
          NBuckets, sq8.door, dir(sq8), cents, qv, batch, K, LegK, NProbe)
      }
      df.select("qid", "doc_id", "rrf_ppm", "rank").collect()
    }
    def topIds(rows: Array[Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    // each store's chain on its own thread: the directories are independent,
    // as the program's own multi-store fixtures overlap them
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tiers.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    var nextTick = 0
    /** Apply the next tick to every store; returns the rows it carried. */
    def tick(suffix: String): Long = {
      val (name, nRows) = ticks(nextTick)
      val batchId = nextTick.toLong
      val dBatch = spark.read.parquet(s"${cfg.inputs}/$name/docs.parquet")
      val vBatch = spark.read.parquet(s"${cfg.inputs}/$name/vecs.parquet")
      val (_, ms) = Main.timeMs(span("store.apply") {
        val chains = tiers.map(t => Future(span(s"store.apply.${t.name}") {
          val isBm = t.name == "bm25"
          IndexMaintenanceStream.applyBatch(spark, t.door, dir(t), t.write,
            if (isBm) dBatch else vBatch, batchId,
            oldVersion = if (isBm) Some(oldText) else None,
            maxDeltas = MaxDeltas,
            // every tick adds rows to both stores, so no delta is empty
            knownDeltaEmpty = Some(false))
        }))
        chains.foreach(Await.result(_, Duration.Inf))
      })
      res.add(s"tick_ms$suffix", ms)
      nextTick += 1
      nRows
    }
    val nextBatch = new java.util.concurrent.atomic.AtomicLong()
    /** The writer and one closed-loop prober per tier: probes are served
      * beside the writes, each at the newest batch its stores have
      * committed; each tier's latencies go to sample `read_ms_<tier>`. The
      * probers start no probe after `seconds`; the writer keeps ticking
      * until the last probe is answered, so every probe runs beside the
      * writes. */
    def together(seconds: Double): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val probing = new java.util.concurrent.atomic.AtomicInteger(Tiers.size)
      var rows = 0L
      var writeSecs, readSecs = 1.0
      val t0 = System.nanoTime()
      val writer = () => {
        while ((System.nanoTime() < deadline || probing.get > 0) && nextTick < ticks.size)
          rows += tick("")
        writeSecs = (System.nanoTime() - t0) / 1e9
      }
      val probers = Tiers.map(tier => () =>
        try while (System.nanoTime() < deadline) {
          val batch = batches((nextBatch.getAndIncrement() % batches.size).toInt)
          res.add(s"read_ms_$tier", Main.timeMs(probe(tier, batch))._2)
        } finally if (probing.decrementAndGet() == 0) readSecs = (System.nanoTime() - t0) / 1e9)
      Main.concurrently(writer +: probers: _*)
      res.values("read_per_s") = Tiers.map(t => res.samples(s"read_ms_$t").size).sum / readSecs
      res.values("write_per_s") = rows / writeSecs
    }

    tracer match {
      case None => together(cfg.seconds)
      case Some(tr) => tracedPass(spark, cfg, tr, res, tiers, dir, ticks, () => tick("_traced_pass"),
        (tier, t) => probe(tier, batches(t % batches.size)))
    }
    pool.shutdown()
    res.values("ticks_applied") = nextTick
    Main.log(s"timed part done after $nextTick ticks")

    // ---- the exact tier against a from-scratch hybrid over the live
    // corpus, for the first CheckedBatches query batches at once; each
    // query's answer is one checked operation
    val (liveDocs, liveEmb) = replay(spark, cfg.inputs, ticks.take(nextTick).map(_._1),
      docs, emb)
    val (postings, stats) = Bm25Index.build(liveDocs, col("doc_id"), col("text"), NBuckets)
    val ivf = Similarity.ivfAssign(liveEmb, cents)
    val all = batches.take(CheckedBatches).flatten
    val scratch = Retrieval.hybridTopKBatch(postings, stats, NBuckets, ivf, cents,
      queryVecs.where(col("vec_id").isin(all.map(_._1): _*)), all, K, LegK, NProbe).select("qid", "doc_id", "rrf_ppm", "rank").collect()
    val exact = probe("full", all)
    def byQuery(rows: Array[Row]) = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.toSeq).toSet }
    val (want, got) = (byQuery(scratch), byQuery(exact))
    for ((q, _) <- all)
      res.check(got.get(q) == want.get(q),
        s"qid $q: exact tier ${got.get(q)} != from-scratch ${want.get(q)}")
    if (tracer.isDefined) {
      // the code tiers' top-10 against the exact tier's, same queries and state
      val exactIds = topIds(exact)
      val recalls = for (tier <- Seq("pq", "sq8"); got = topIds(probe(tier, all));
                         (q, ids) <- exactIds if ids.nonEmpty)
        yield (got.getOrElse(q, Set.empty[Long]) intersect ids).size.toDouble / ids.size
      res.layers("serve.recall_at_10") = recalls.sum / math.max(1, recalls.size)
      // store bytes on disk over the live corpus written once as parquet
      liveDocs.write.parquet(s"${cfg.work}/live/docs")
      liveEmb.write.parquet(s"${cfg.work}/live/emb")
      res.layers("store.space_ratio") = tiers.map(t => Main.duBytes(dir(t))).sum.toDouble /
        Main.duBytes(s"${cfg.work}/live")
    }
    Main.deleteTree(root)
  }

  /** The fixed pass of the traced run: ticks, each followed by the store
    * views and one probe per tier, one span each, so the Spark counts
    * repeat exactly for a seed. Each probe also runs untraced, before or
    * after the traced one in turn: `trace.overhead_ms` is the mean over
    * the tiers of the median of their differences. */
  private def tracedPass(spark: SparkSession, cfg: Main.Config, tr: Tracer,
                         res: Main.Result, tiers: Seq[Tier], dir: Tier => String,
                         ticks: IndexedSeq[(String, Long)], tick: () => Unit,
                         probe: (String, Int) => Array[Row]): Unit = {
    val overhead = scala.collection.mutable.Map[String, List[Double]]()
    for (t <- 0 until TracedTicks) {
      tick()
      tr.span("store.view") {
        for (s <- tiers) IndexMaintenanceStream.currentView(spark, s.door, dir(s))
      }
      for ((tier, i) <- Tiers.zipWithIndex) {
        def traced() = Main.timeMs(tr.span(s"serve.probe_$tier")(probe(tier, t)))._2
        def plain() = tr.untraced(Main.timeMs(probe(tier, t)))._2
        val diff = if ((t + i) % 2 == 0) { val p = plain(); traced() - p }
                   else { val x = traced(); x - plain() }
        overhead(tier) = diff :: overhead.getOrElse(tier, Nil)
      }
    }
    // the ticks' payload written once as plain parquet: the write
    // amplification's denominator
    tr.span("store.payload") {
      for (t <- 0 until TracedTicks; part <- Seq("docs", "vecs"))
        spark.read.parquet(s"${cfg.inputs}/${ticks(t)._1}/$part.parquet")
          .write.parquet(s"${cfg.work}/payload/$t-$part")
    }
    val spans = tr.spans
    val totals = tr.inclusive(spans)
    def of(name: String) = spans.filter(_.name == name)
    def med(name: String) = Main.median(of(name).map(_.ms))
    def total(names: Seq[String], f: Tracer.Totals => Long) =
      names.flatMap(of).map(s => f(totals(s.id))).sum.toDouble
    val applies = tiers.map(t => s"store.apply.${t.name}")
    val probes = Tiers.map(t => s"serve.probe_$t")
    res.layers ++= Seq(
      "store.bootstrap_s" -> med("store.bootstrap") / 1000,
      "store.bootstrap_jobs" -> total(Seq("store.bootstrap"), _.jobs) / Main.SetupReps,
      "store.apply_ms" -> med("store.apply"),
      "store.apply_jobs" -> total(applies, _.jobs) / TracedTicks,
      "store.compactions" -> tiers.map(t => compactions(spark, dir(t))).sum.toDouble,
      "store.write_amp" -> total(applies, _.outputBytes) /
        math.max(1.0, total(Seq("store.payload"), _.outputBytes)),
      "store.view_ms" -> med("store.view"),
      "serve.probe_full_ms" -> med("serve.probe_full"),
      "serve.probe_pq_ms" -> med("serve.probe_pq"),
      "serve.probe_sq8_ms" -> med("serve.probe_sq8"),
      "serve.jobs_per_probe" -> total(probes, _.jobs) / (Tiers.size * TracedTicks),
      "trace.overhead_ms" -> Tiers.map(t => Main.median(overhead(t))).sum / Tiers.size)
  }

  private def compactions(spark: SparkSession, dir: String): Long =
    Maintenance.loadState(spark, s"$dir/state/${
      graft.streaming.DocsStream.readPointer(spark, s"$dir/state").get}").compactions

  /** The live corpus after `applied` ticks, replayed in plain maps one
    * mutation at a time — independent of the store's own bookkeeping. */
  private def replay(spark: SparkSession, inputs: String, applied: Seq[String],
                     docs: DataFrame, emb: DataFrame): (DataFrame, DataFrame) = {
    val d = scala.collection.mutable.LinkedHashMap[Long, String]()
    docs.collect().foreach(r => d(r.getLong(0)) = r.getString(1))
    val v = scala.collection.mutable.LinkedHashMap[Long, Array[Float]]()
    emb.collect().foreach(r => v(r.getLong(0)) = r.getSeq[Float](1).toArray)
    for (name <- applied) {
      spark.read.parquet(s"$inputs/$name/docs.parquet").collect().foreach { r =>
        val id = r.getAs[Long]("doc_id")
        if (r.getAs[String]("op") == "delete") d.remove(id)
        else d(id) = r.getAs[String]("text")
      }
      spark.read.parquet(s"$inputs/$name/vecs.parquet").collect().foreach { r =>
        val id = r.getAs[Long]("vec_id")
        if (r.getAs[String]("op") == "delete") v.remove(id)
        else v(id) = r.getAs[Seq[Float]]("embedding").toArray
      }
    }
    import spark.implicits._
    (d.toSeq.toDF("doc_id", "text"), v.toSeq.toDF("vec_id", "embedding"))
  }
}
