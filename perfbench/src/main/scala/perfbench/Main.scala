package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: `perfbench.Main <config.json>`.
  *
  * `run.py` generates the seeded inputs, writes the config and starts this
  * JVM; the JVM runs one workload, closed-loop, and writes raw samples,
  * counters and the answers to be checked to the config's `out` file.
  * Statistics and oracle checks happen back in `run.py`.
  */
object Main {

  final case class Config(raw: java.util.Map[String, Object]) {
    def str(k: String): String = raw.get(k).toString
    def int(k: String): Int = raw.get(k).toString.toInt
    def workload: String = str("workload")
    def seconds: Double = str("seconds").toDouble
    def traced: Boolean = int("trace") == 1
    def inputs: String = str("inputs")
    def work: String = str("work")
  }

  /** Set-up runs `WarmupReps` uncounted times (the first runs cold: class
    * loading, JIT, Spark's first jobs) and then `SetupReps` counted times;
    * `setup_s` is the median of the counted ones. */
  val WarmupReps = 1
  val SetupReps = 3

  /** What a workload hands back: raw samples (ms unless named otherwise),
    * scalars, per-layer values (traced run only) and check outcomes. */
  final class Result(val tracer: Option[Tracer]) {
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val values = mutable.LinkedHashMap[String, Any]()
    val layers = mutable.LinkedHashMap[String, Double]()
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer[String]()
    def add(name: String, v: Double): Unit = synchronized {
      if (name == "setup_s") log(f"set-up $v%.2fs")
      samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
    }
    def check(ok: Boolean, what: => String): Unit = synchronized {
      attempted += 1
      if (!ok) failure(what)
    }
    /** A failed operation whose attempt is counted elsewhere. */
    def failure(what: String): Unit = synchronized {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** Run `bodies` on threads of their own and wait for all; the first
    * failure is rethrown here instead of dying with its thread. */
  def concurrently(bodies: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map { b =>
      new Thread(() => try b() catch { case e: Throwable => errors.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  private val started = System.nanoTime()
  /** Progress to the JVM log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - started) / 1e9}%.1fs] $msg")

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spark storage memory in use across the block managers, MB. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / (1 << 20)

  /** Bytes under a local directory. */
  def duBytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => duBytes(c.getPath)).sum).getOrElse(0L)
  }

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(dir))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val cfg = Config(mapper.readValue(new File(args(0)),
      classOf[java.util.Map[String, Object]]))
    val cpus = cfg.int("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(s"session ready: ${cfg.workload}")
    val res = new Result(if (cfg.traced) Some(new Tracer(spark)) else None)
    res.tracer.foreach(spark.sparkContext.addSparkListener)
    try {
      cfg.workload match {
        case "nna" => Nna.run(spark, cfg, res)
        case "store_hybrid" => StoreHybrid.run(spark, cfg, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      log("workload done")
      val out = Map(
        "samples" -> res.samples.map { case (k, v) => k -> v.toSeq },
        "values" -> res.values,
        "layers" -> res.layers,
        "attempted" -> res.attempted,
        "failed" -> res.failed,
        "failures" -> res.failures.toSeq)
      mapper.writeValue(new File(cfg.str("out")), toJava(out))
      res.tracer.foreach { tr =>
        val spans = tr.spans
        val totals = tr.inclusive(spans)
        val lines = spans.map { s =>
          val t = totals(s.id)
          mapper.writeValueAsString(toJava(Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "request" -> s.request, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs, "jobs" -> t.jobs, "tasks" -> t.tasks,
            "shuffle_bytes" -> t.shuffleBytes, "output_bytes" -> t.outputBytes,
            "gc_ms" -> t.gcMs)))
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(cfg.str("spans")),
          lines.asJava)
      }
      spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    // the program's server and query pools keep non-daemon threads
    System.exit(0)
  }
}
