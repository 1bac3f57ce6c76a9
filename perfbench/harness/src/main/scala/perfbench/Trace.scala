package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional for spans the benchmark times itself; Spark's listener
  * events carry whole milliseconds). `op` ties a span to the operation
  * (query execution or micro-batch) it belongs to; `group` is the Spark
  * job group the work ran under.
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
    var parent: Int, op: String, group: String) {
  def dur: Double = end - start
}

/** Per-job-group task counters, summed from task-end events. */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRows = 0L
}

/** Epoch-millisecond clock with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Peak block-manager storage of cached and checkpointed data: the sum
  * over live RDD blocks of memory plus disk size, updated from
  * block-update and unpersist events (broadcast pieces are left out:
  * when they are freed depends on garbage collection). Always on: it
  * feeds the end-to-end `storage_peak_mb`, and costs O(1) per block
  * event on the listener bus.
  */
final class StoragePeak extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  @volatile var peak = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (!i.blockId.isRDD) return
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    val key = i.blockId.name
    total += size - sizes.getOrElse(key, 0L)
    if (size == 0L) sizes.remove(key) else sizes(key) = size
    if (total > peak) peak = total
  }
  // unpersisting an RDD drops its blocks without a block-update event
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    sizes.keys.filter(_.startsWith(prefix)).toList.foreach(k => total -= sizes.remove(k).get)
  }
}

/** The traced run's recorder: spans kept in memory and written out when
  * the run ends, fed by the benchmark's own timers and by listeners it
  * registers (jobs, stages and tasks; query-planning phases). Nothing
  * inside the engine is instrumented.
  */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]

  def add(name: String, start: Double, end: Double, op: String, group: String = ""): Unit =
    synchronized { spans += Span(spans.size, name, start, end, -1, op, group) }

  /** Times `body` as one span. */
  def span[T](name: String, op: String)(body: => T): T = {
    val t0 = Clock.ms
    try body finally add(name, t0, Clock.ms, op)
  }

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = groupOf(e.properties)
      jobStart(e.jobId) = (e.time, g)
      e.stageIds.foreach(stageGroup(_) = g)
      stats(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, g) =>
        spans += Span(spans.size, "operators.job", t0.toDouble, e.time.toDouble, -1, "", g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stats(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stats(stageGroup.getOrElse(e.stageId, ""))
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val phases = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"plans.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble, "")
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Links every span to the innermost op-level span that contains it:
    * spans the benchmark times carry their op, listener spans (jobs,
    * planning phases) inherit the op of the span they fall inside, and
    * jobs must also match the op's job group when it has one.
    */
  def link(): Seq[Span] = {
    val ss = all.sortBy(s => (s.start, -s.dur))
    val byOp = ss.groupBy(_.op)
    def inside(a: Span, b: Span) = a.id != b.id && b.start <= a.start && a.end <= b.end &&
      (a.dur < b.dur || (a.dur == b.dur && a.id > b.id))
    for (s <- ss) {
      val candidates =
        if (s.op.nonEmpty) byOp(s.op).filter(inside(s, _))
        else ss.filter(p => p.op.nonEmpty && inside(s, p) &&
          (s.group.isEmpty || p.group.isEmpty || p.group == s.group))
      if (candidates.nonEmpty) s.parent = candidates.minBy(_.dur).id
    }
    ss
  }
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Self time per layer name: each span's duration minus the part of
    * its interval that its child spans cover.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.dur - unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      }.sum / 1000.0
    }
  }
}

/** Streaming progress, kept for every trigger of every query: the raw
  * sink's commit times give the end-to-end event latency, and the
  * per-phase durations feed the traced breakdown.
  */
final class StreamProgress extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized(events.toList)
}
