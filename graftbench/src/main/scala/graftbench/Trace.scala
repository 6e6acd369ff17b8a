package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a run. Times are epoch milliseconds; `parent` is -1
  * for a root. Spans stay in memory until the run ends. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, var endMs: Double)

/** Per-stage task counters, summed over the stage's finished tasks. */
final class StageAcc(val stageId: Int, val jobId: Int) {
  var tasks = 0L; var failures = 0L
  var deserMs = 0L; var runMs = 0L; var cpuNs = 0L
  var shWriteBytes = 0L; var shWriteRecords = 0L; var shWriteNs = 0L
  var shReadBytes = 0L; var fetchWaitMs = 0L
  var spillMem = 0L; var spillDisk = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  var startMs = 0.0; var endMs = 0.0
}

/** Span tree plus Spark's public listeners (`SparkListener`,
  * `QueryExecutionListener`, `StreamingQueryListener`).
  *
  * The client thread opens spans with [[within]]; the open span's id
  * rides every job it submits as a local property, so jobs and their
  * stages hang under the span that caused them. Catalyst phases are
  * attributed by time (each action's tracker reports its own phase
  * intervals). Collection is off until [[attach]] and costs nothing
  * before it. */
final class Trace(spark: SparkSession) {
  val SpanKey = "graftbench.span"
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch ms at sub-ms resolution on the monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1

  def open(kind: String, name: String, parent: Int = current): Int = synchronized {
    val s = Span(spans.size, parent, kind, name, nowMs, Double.NaN)
    spans += s
    s.id
  }
  def close(id: Int): Unit = synchronized { spans(id).endMs = nowMs }

  /** Runs `f` inside a new span that is the parent of every span and
    * job started meanwhile from this thread. */
  def within[T](kind: String, name: String)(f: => T): T = {
    val id = open(kind, name)
    val prev = current
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    current = id
    sc.setLocalProperty(SpanKey, id.toString)
    try f finally {
      close(id)
      current = prev
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  // ---- listener state (guarded by `this`) ----
  val jobSpan = mutable.Map.empty[Int, Int]         // jobId -> span id of the job
  val stageAcc = mutable.Map.empty[Int, StageAcc]   // stageId (+attempt folded) -> counters
  private val stageJob = mutable.Map.empty[Int, Int]
  var jobs = 0L
  private val blocks = mutable.Map.empty[String, Long]
  var cachedBytes = 0L; var cachedBytesPeak = 0L
  val blocksEver = mutable.Set.empty[String]
  /** (start ms of analysis, analysis ms, optimization ms, planning ms). */
  val catalyst = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += 1
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(_.toIntOption).getOrElse(-1)
      val s = Span(spans.size, parent, "job", s"job ${e.jobId}", e.time.toDouble, Double.NaN)
      spans += s
      jobSpan(e.jobId) = s.id
      e.stageIds.foreach(st => stageJob(st) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).foreach(id => spans(id).endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val acc = stageAcc.getOrElseUpdate(i.stageId, new StageAcc(i.stageId, stageJob.getOrElse(i.stageId, -1)))
      acc.startMs = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      acc.endMs = i.completionTime.map(_.toDouble).getOrElse(acc.startMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val acc = stageAcc.getOrElseUpdate(e.stageId, new StageAcc(e.stageId, stageJob.getOrElse(e.stageId, -1)))
      acc.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) acc.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.deserMs += m.executorDeserializeTime
        acc.runMs += m.executorRunTime
        acc.taskRunMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        acc.shWriteNs += m.shuffleWriteMetrics.writeTime
        acc.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spillMem += m.memoryBytesSpilled
        acc.spillDisk += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cachedBytes += size - blocks.getOrElse(key, 0L)
        if (size > 0) { blocks(key) = size; blocksEver += key } else blocks.remove(key)
        cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = ph.get("analysis").orElse(ph.get("optimization"))
        .map(_.startTimeMs.toDouble).getOrElse(0.0)
      Trace.this.synchronized { catalyst += ((start, d("analysis"), d("optimization"), d("planning"))) }
    }
  }

  /** Collects the progress of every streaming query in the session;
    * used untraced too, since the stream workload's latency is read
    * from the progress reports. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress }
  }

  private var attached = false
  /** Starts collecting scheduler, Catalyst and storage events. */
  def attach(): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = if (attached) {
    drain()
    attached = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
  def drain(): Unit = org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

  /** Stage spans under their jobs (built once the run has ended). */
  def stageSpans(): Unit = synchronized {
    stageAcc.values.toSeq.sortBy(_.stageId).foreach { a =>
      val parent = jobSpan.getOrElse(a.jobId, -1)
      spans += Span(spans.size, parent, "stage", s"stage ${a.stageId}", a.startMs, a.endMs)
    }
  }

  /** Span time minus the time covered by its direct children (children
    * of one parent run one after another on the closed-loop client;
    * overlapping children are merged before subtracting). */
  def selfMs(): Map[Int, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).filter(k => !k.endMs.isNaN)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) { if (!curA.isNaN) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, (if (s.endMs.isNaN) s.startMs else s.endMs) - s.startMs - covered)
    }.toMap
  }

  /** The span of kind `kind` enclosing time `t`, if any. */
  def spanAt(kind: String, t: Double): Option[Span] = synchronized {
    spans.find(s => s.kind == kind && s.startMs <= t && !s.endMs.isNaN && t <= s.endMs)
  }

  def stageAccs: Seq[StageAcc] = synchronized(stageAcc.values.toSeq)
}

object Trace {
  /** JVM-wide counters for the `jvm` layer. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
