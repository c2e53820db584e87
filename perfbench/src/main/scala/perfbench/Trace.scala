package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans and Spark counters for the traced run.
  *
  * A span is one call into a layer's public function: name, start, end,
  * parent span and request id. Spans stay in memory until [[spans]] is
  * read at the end of the run. The listener attributes every Spark job,
  * task, shuffle byte, output byte and task GC millisecond to the
  * innermost open span of the thread that submitted it, through a local
  * property; [[inclusive]] folds a span's descendants into its totals.
  * Spark local properties are inherited by the threads Spark itself
  * starts (broadcasts, adaptive stages), so their jobs land in the span too.
  * [[untraced]] switches spans and the listener off around a call, to
  * measure what tracing costs against the same call traced.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val groupRoutes = new ConcurrentHashMap[String, Long]()
  @volatile private var enabled = true

  private def countsOf(id: Long): Counts =
    counts.computeIfAbsent(id, _ => new Counts)

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap { p =>
      val group = Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
      groupRoutes.asScala.collectFirst {
        case (prefix, id) if group.startsWith(prefix) => id
      }.orElse(Option(p.getProperty(Key)).map(_.toLong))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) spanOf(e.properties).foreach(countsOf(_).jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (enabled && stageSpan.containsKey(e.stageId)) {
      val c = countsOf(stageSpan.get(e.stageId))
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  /** Run `body` as one span named `name`. */
  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, request, t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Run `body` with spans and the listener off. Call it only while no
    * other thread is traced: the listener bus is drained on both sides,
    * so every event of a traced call is counted and none of `body`'s. */
  def untraced[T](body: => T): T = {
    PerfbenchBridge.drainListeners(sc)
    enabled = false
    try body
    finally {
      PerfbenchBridge.drainListeners(sc)
      enabled = true
    }
  }

  /** Attribute the jobs of Spark job groups named `prefix…` to the
    * innermost open span of this thread while `body` runs: the program
    * runs some layers on its own thread pool under a job group, where
    * this thread's local properties do not reach. */
  def routeGroup[T](prefix: String)(body: => T): T = {
    groupRoutes.put(prefix, open.get().headOption.getOrElse(0L))
    try body finally groupRoutes.remove(prefix)
  }

  /** Every finished span, after all queued listener events are delivered. */
  def spans: Seq[Span] = {
    PerfbenchBridge.drainListeners(sc)
    done.asScala.toSeq.sortBy(_.id)
  }

  /** A span's own counters plus those of all its descendants. */
  def inclusive(all: Seq[Span]): Map[Long, Totals] = {
    val children = all.groupBy(_.parent)
    def total(id: Long): Totals = {
      val own = Option(counts.get(id)).map(_.totals).getOrElse(Totals())
      children.getOrElse(id, Nil).map(s => total(s.id)).foldLeft(own)(_ + _)
    }
    all.map(s => s.id -> total(s.id)).toMap
  }
}

object Tracer {
  val Key = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, request: Long,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Totals(jobs: Long = 0, tasks: Long = 0,
                          shuffleBytes: Long = 0, outputBytes: Long = 0,
                          gcMs: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks,
      shuffleBytes + o.shuffleBytes, outputBytes + o.outputBytes,
      gcMs + o.gcMs)
  }

  final class Counts {
    val jobs, tasks, shuffleBytes, outputBytes, gcMs = new AtomicLong()
    def totals: Totals = Totals(jobs.get, tasks.get, shuffleBytes.get,
      outputBytes.get, gcMs.get)
  }
}
