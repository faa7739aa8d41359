package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `parent` is the enclosing span on the
  * same thread (-1 at the top); `counters` hold the engine counters the
  * call moved (Spark jobs, tasks, CPU, ...).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, counters: Map[String, Double]) {
  def durationNs: Long = endNs - startNs
}

object Span {

  /** Span duration minus the part of its interval its children cover.
    * Children may overlap each other (concurrent calls) or run past the
    * parent's end; only the union of their clipped intervals counts.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs),
        math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durationNs - covered
  }
}

/** Engine-wide counters from a benchmark-registered SparkListener.
  * Totals only; a span records how much they moved while it ran.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val executorCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      executorCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** current totals in the units the per-layer metrics use. */
  def totals: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executor_cpu_s" -> executorCpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.shuffle_write_mb" -> shuffleWriteBytes.get / 1048576.0,
    "spark.spill_mb" -> spillBytes.get / 1048576.0)
}

/** Per-micro-batch progress of the tail query, from a
  * benchmark-registered StreamingQueryListener.
  */
final class StreamCounters(lagOf: String => Long)
    extends StreamingQueryListener {
  private val lock = new Object
  private val addBatchMs = mutable.ArrayBuffer[Double]()
  private val latestOffsetMs = mutable.ArrayBuffer[Double]()
  private val rows = mutable.ArrayBuffer[Double]()
  @volatile var lagBytesMax: Long = 0L

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val n = p.numInputRows
    lock.synchronized {
      Option(p.durationMs.get("latestOffset"))
        .foreach(v => latestOffsetMs += v.doubleValue)
      if (n > 0) {
        rows += n.toDouble
        Option(p.durationMs.get("addBatch"))
          .foreach(v => addBatchMs += v.doubleValue)
      }
    }
    p.sources.headOption.foreach { s =>
      lagBytesMax = math.max(lagBytesMax, lagOf(s.endOffset))
    }
  }

  def metrics: Map[String, Double] = lock.synchronized {
    def pct(xs: Seq[Double], p: Double) =
      if (xs.isEmpty) 0.0 else Stats.percentile(xs.toSeq, p)
    Map(
      "streaming.batches" -> rows.size.toDouble,
      "streaming.rows_per_batch_mean" ->
        (if (rows.isEmpty) 0.0 else rows.sum / rows.size),
      "streaming.add_batch_ms_p50" -> pct(addBatchMs.toSeq, 50),
      "streaming.add_batch_ms_p99" -> pct(addBatchMs.toSeq, 99),
      "streaming.latest_offset_ms_p50" -> pct(latestOffsetMs.toSeq, 50),
      "sources.tail_lag_bytes_max" -> lagBytesMax.toDouble)
  }
}

/** Span recorder. Disabled, it only runs the body: the end-to-end
  * metrics are measured with tracing off. Spans of one run share
  * `runId`, stay in memory and are written out once at the end.
  */
final class Tracer(val runId: String, val enabled: Boolean,
    counters: () => Map[String, Double]) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new AtomicLong
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement().toInt
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val before = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = counters()
        stack.set(stack.get.tail)
        val moved = after.map { case (k, v) =>
          k -> (v - before.getOrElse(k, 0.0)) }
        spans.synchronized {
          spans += Span(id, parent, name, t0, t1, moved)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** self time of every recorded span, in seconds, by span id. */
  def selfSeconds: Map[Int, Double] = {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    ss.map(s => s.id ->
      Span.selfNs(s, byParent.getOrElse(s.id, Nil)) / 1e9).toMap
  }

  /** The span log as JSON lines, one per span. */
  def jsonLines: Seq[String] = {
    val self = selfSeconds
    all.sortBy(_.id).map { s =>
      val cs = s.counters.toSeq.sorted.map { case (k, v) =>
        "\"" + k + "\":" + Json.num(v) }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_s":${Json.num(s.startNs / 1e9)},""" +
        s""""dur_s":${Json.num(s.durationNs / 1e9)},""" +
        s""""self_s":${Json.num(self(s.id))},"counters":{$cs}}"""
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
