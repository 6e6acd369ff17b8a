package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, timestamp_millis}
import org.apache.spark.sql.types.StructType

import graft.sql.VeloContext

/** stream: one continuous dialect job over a JSON file source.
  *
  * `run.py` writes the inputs and is the open-loop generator; this side
  * only drives the engine and reports. Hand-offs go through marker
  * files in `work`: `live.go` (written here once the backlog has been
  * drained) and `gen.done` (written by the generator after its last
  * live file).
  *
  * Keys: `in` (job input dir), `warm` (warm-up input dir), `state`
  * (job state root), `backlog_rows`, `warm_rows`, `grace`, `window`,
  * `max_files`, `warm_max_files`, `seconds`.
  */
object Stream {
  val Schema: StructType = StructType.fromDDL("key STRING, amount DECIMAL(18,4), ts_ms BIGINT")

  def jobSql(name: String, source: String, window: String): String =
    s"""START JOB $name AS
       |SELECT key, COUNT(*) AS n, SUM(amount) AS total
       |FROM $source
       |GROUP BY key
       |WINDOW TUMBLING(INTERVAL '$window' SECOND)
       |EMIT CHANGES""".stripMargin

  private def waitFor(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  def run(spark: SparkSession, tr: Trace, opt: Map[String, String], trace: Boolean,
          out: mutable.Map[String, Any]): Unit = {
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    spark.conf.set("graft.jobs.stateRoot", opt("state"))
    val ctx = new VeloContext(spark)
    def source(dir: String, maxFiles: String) = spark.readStream.schema(Schema)
      .option("maxFilesPerTrigger", maxFiles).json(dir)
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
    def rowsOf(job: String): Long = tr.synchronized(
      tr.progress.filter(_.name == s"graft-job-$job").map(_.numInputRows).sum)

    // warm-up (JIT, codegen): the same job shape over a finished input,
    // in many small batches
    val w0 = System.nanoTime()
    ctx.registerStream("warm_in", source(opt("warm"), opt("warm_max_files")), "ts", s"${opt("grace")} seconds")
    ctx.sql(jobSql("warm", "warm_in", opt("window")))
    waitFor("warm-up rows", 120)(rowsOf("warm") >= opt("warm_rows").toLong)
    ctx.sql("STOP JOB warm")
    out("warmup_s") = (System.nanoTime() - w0) / 1e9

    ctx.registerStream("events_in", source(opt("in"), opt("max_files")), "ts", s"${opt("grace")} seconds")
    out("sentinel_before") = Main.sentinels(spark, 3)
    val s0 = tr.nowMs
    ctx.sql(jobSql("bench", "events_in", opt("window")))
    val startedMs = tr.nowMs
    out("job_start_ms") = s0
    out("sql.job_start_s") = (startedMs - s0) / 1e3
    val backlog = opt("backlog_rows").toLong
    waitFor("backlog drain", 120)(rowsOf("bench") >= backlog)
    Json.write(s"$work/live.go", Map("t_ms" -> tr.nowMs))

    // traced run: the listeners are attached in alternate one-second
    // windows of the live phase, so files created in the detached
    // windows give the untraced baseline in the same warm state
    val liveStart = tr.nowMs
    val done = new java.io.File(s"$work/gen.done")
    val windows = mutable.ArrayBuffer.empty[Seq[Double]]
    Trace.resetHeapPeak()
    var gcMs = 0L; var jitMs = 0L
    val genEnd = System.nanoTime() + ((seconds + 120) * 1e9).toLong
    var on = false
    var flipAt = tr.nowMs + 1000
    while (!done.exists()) {
      if (System.nanoTime() > genEnd) throw new IllegalStateException("timed out waiting for generator end")
      if (trace && tr.nowMs >= flipAt) {
        if (on) {
          tr.detach(); gcMs += Trace.gcMs(); jitMs += Trace.jitMs()
          windows(windows.size - 1) = Seq(windows.last.head, tr.nowMs)
        } else {
          gcMs -= Trace.gcMs(); jitMs -= Trace.jitMs()
          windows += Seq(tr.nowMs, Double.NaN); tr.attach()
        }
        on = !on
        flipAt += 1000
      }
      Thread.sleep(5)
    }
    val total = scala.io.Source.fromFile(done).mkString.trim.toLong
    waitFor("all rows", 120)(rowsOf("bench") >= total)
    val liveEnd = tr.nowMs
    val k0 = tr.nowMs
    ctx.sql("STOP JOB bench")
    out("sql.job_stop_s") = (tr.nowMs - k0) / 1e3
    // recorded only, to tell a run made in a slow window: no probe can run
    // during the job without slowing it
    out("sentinel_after") = Main.sentinels(spark)
    if (trace) {
      if (on) {
        tr.detach(); gcMs += Trace.gcMs(); jitMs += Trace.jitMs()
        windows(windows.size - 1) = Seq(windows.last.head, liveEnd)
      }
      out("traced_windows_ms") = windows.toSeq
      Layers.streamSpans(tr, "graft-job-bench", s0, tr.nowMs)
      tr.stageSpans()
      val tracedMs = windows.map(w => w(1) - w(0)).sum
      out("layers") = Map("api.session_build_s" -> out("session_build_s")) ++
        Layers.scheduler(tr, tr.stageAccs, tr.jobs, tracedMs, opt("cores").toInt) ++
        Layers.catalyst(tr, None) ++
        Layers.jvm(gcMs / 1e3, jitMs / 1e3, Trace.heapPeakMb())
      out("spans") = Layers.spanRecords(tr)
    }
    out("live_ms") = liveEnd - liveStart

    // final per-(window, key) state: the latest changelog row of each
    val log = ctx.jobManager.sinkDf("bench")
    val latest = Window.partitionBy(col("window_start"), col("key")).orderBy(col("_batch_id").desc)
    val state = log.withColumn("_rk", row_number().over(latest)).where(col("_rk") === 1)
      .select(col("window_start").cast("long"), col("key"), col("n"), col("total").cast("string"))
      .collect()
    Json.write(s"$work/final_state.json", state.map(r =>
      Seq(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq)
    out("checkpoint") = s"${opt("state")}/bench"
    ctx.close()
  }
}
