package wirebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

object Stats {
  /** Linear-interpolated quantile of an unsorted sample (0 when empty). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * q
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(x.max(1e-9))).sum / xs.size)

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Memory the engine holds once its work is done, in MB: the heap still
    * live after a full collection, and the peak of the non-heap pools
    * (metaspace, code cache). Unlike RSS it does not depend on how far the
    * collector lets the heap grow before collecting.
    */
  def liveMemMb(): (Double, Double) = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (heap / 1048576.0, nonHeap / 1048576.0)
  }
}

/** Engine-side recorders for the traced run: a StreamingQueryListener
  * for per-micro-batch phases and state-store figures, and a
  * SparkListener for jobs, stages and task metrics. `attach`/`detach`
  * bracket the traced window, so untraced stretches of the same run pay
  * nothing and serve as the overhead baseline.
  */
final class Tracer(spark: SparkSession, sentNow: () => Long) {
  import Tracer._

  val progress = new ArrayBuffer[Progress]()
  val jobs = new ArrayBuffer[Job]()
  // summed task metrics
  var tasks = 0L
  var runMs, cpuMs, gcMs, fetchWaitMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L

  private val qListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        // the Forward source's offsets count records; numInputRows counts
        // every scan of them
        def offset(o: String): Long = Option(o).flatMap(_.trim.toLongOption).getOrElse(0L)
        val read = p.sources.headOption.map(s => offset(s.endOffset)).getOrElse(0L)
        val start = p.sources.headOption.map(s => offset(s.startOffset)).getOrElse(0L)
        val st = p.stateOperators
        Tracer.this.synchronized {
          progress += Progress(read - start,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
            st.map(_.allUpdatesTimeMs).sum, st.map(_.allRemovalsTimeMs).sum,
            st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum,
            sentNow() - read)
        }
      }
    }
  }

  private val sListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val streaming = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).isDefined
      val roots = e.stageInfos.filter(_.parentIds.isEmpty).map(_.numTasks).sum
      Tracer.this.synchronized { jobs += Job(e.jobId, e.time, streaming, roots, e.stageInfos.size) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += 1
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1e6
        gcMs += m.jvmGCTime
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    spark.streams.addListener(qListener)
    spark.sparkContext.addSparkListener(sListener)
    attached = true
  }

  /** Detach after the listener bus has drained what was posted so far. */
  def detach(): Unit = if (attached) {
    drain()
    spark.streams.removeListener(qListener)
    spark.sparkContext.removeSparkListener(sListener)
    attached = false
  }

  /** Wait (bounded) until queued listener events have been delivered. */
  def drain(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext, 10000L)
  }

  /** Wall time inside `[from, to]` covered by no running job (ms). */
  def driverGapMs(from: Long, to: Long): Double = synchronized {
    val iv = jobs.filter(j => j.end >= from && j.start <= to)
      .map(j => (j.start.max(from), j.end.min(to))).sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    ((to - from) - covered).max(0L).toDouble
  }
}

object Tracer {
  final case class Progress(rows: Long, durations: Map[String, Long],
                            stateRows: Long, stateMem: Long, updatesMs: Long,
                            removalsMs: Long, commitMs: Long, dropped: Long,
                            backlog: Long)
  final case class Job(id: Int, start: Long, streamingBatch: Boolean,
                       rootTasks: Int, stages: Int, var end: Long = -1L)
}
