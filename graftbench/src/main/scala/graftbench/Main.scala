package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.api.GraftSession

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes everything it measured to
  * `<work>/jvm.json`. `run.py` launches it, prepares inputs, checks
  * results and prints the metric line.
  *
  * Arguments are `--key value` pairs: `workload`, `seed`, `seconds`,
  * `trace` (0|1), `work` (output dir), `cores`, plus per-workload keys
  * (see [[batch]] and [[Stream]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]
    Trace.resetHeapPeak()
    val t0 = System.nanoTime()
    val spark = GraftSession(s"local[$cores]", cores)
    out("session_build_s") = (System.nanoTime() - t0) / 1e9
    val tr = new Trace(spark)
    spark.streams.addListener(tr.streamListener)
    // the sentinel's own code paths warm up here, so its probes read the
    // machine and not the JIT
    Seq.fill(5)(sentinel(spark))
    workload match {
      case "catalog" => batch(spark, tr, opt, trace, out)
      case "stream" => Stream.run(spark, tr, opt, trace, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    out("peak_rss_mb") = peakRssMb()
    out("progress") = progressRecords(tr)
    Json.write(s"${opt("work")}/jvm.json", out)
    spark.stop()
  }

  /** Bench's fixed CPU-bound sentinel job (no I/O, no shuffle): its wall
    * varies only with the machine, so it tells how fast the machine was
    * while a run measured. One probe, in seconds. */
  def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 4000000, 1, 4).selectExpr("sum(id * id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` probes in a row, taken right before or right after a workload's
    * timed phase. */
  def sentinels(spark: SparkSession, n: Int = 10): Seq[Double] = Seq.fill(n)(sentinel(spark))

  /** Process high-water resident set, from the kernel's accounting. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  def progressRecords(tr: Trace): Seq[Map[String, Any]] = tr.synchronized {
    import scala.jdk.CollectionConverters._
    tr.progress.toSeq.map { p =>
      val st = p.stateOperators.headOption
      Map(
        "name" -> Option(p.name).getOrElse(""),
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse(""),
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
    }
  }

  final case class QueryRun(name: String, buildS: Double, actionS: Double, rows: Long,
                            err: Option[String]) {
    def wallS: Double = buildS + actionS
    def toMap: Map[String, Any] = Map("build_s" -> buildS, "action_s" -> actionS,
      "wall_s" -> wallS, "rows" -> rows, "err" -> err)
  }

  /** Dialect-built queries of the catalog (the `sql` layer's share of
    * DataFrame construction). */
  val dialectQueries: Set[String] = Set("q45_sql_agg", "q46_sql_tumbling", "q47_sql_sliding",
    "q48_sql_rows_window", "q49_sql_join_in", "q50_sql_ctas", "q51_sql_headers",
    "q54_sql_stream", "q59_sql_distinct")

  /** One query: closure call (DataFrame construction, including any
    * eager jobs an operator runs) plus the noop-sink action, which
    * materializes every output column. An Observation rides the same
    * action for the row count. Cached data is dropped afterwards,
    * outside the wall, so queries do not feed each other. */
  def runQuery(spark: SparkSession, dir: String, name: String, seq: Int,
               tr: Option[Trace]): QueryRun = {
    def phase[T](kind: String)(f: => T): T = tr match {
      case Some(t) => t.within(kind, name)(f)
      case None => f
    }
    val t0 = System.nanoTime()
    var t1 = t0
    try phase("query") {
      val df = phase("build")(SparkEntry.queries(name)(spark, dir))
      t1 = System.nanoTime()
      val obs = Observation(s"rows_${name}_$seq")
      phase("action")(df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      val rows = obs.get("n").asInstanceOf[Number].longValue
      QueryRun(name, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows, None)
    } catch {
      case NonFatal(e) =>
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        QueryRun(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, -1L,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
    } finally {
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
    }
  }

  /** catalog: `names` (comma list) over `data` in a seed-permuted
    * order, one closed-loop client. Set-up ends with one untimed warm-up
    * pass; `passes` timed passes follow, each in a fresh permutation,
    * with one sentinel probe after every query (outside its wall). A
    * traced run instead runs the interleaved traced/untraced pass
    * described below. */
  def batch(spark: SparkSession, tr: Trace, opt: Map[String, String], trace: Boolean,
            out: mutable.Map[String, Any]): Unit = {
    val dir = opt("data")
    val names = opt("queries").split(",").toSeq
    val rnd = new scala.util.Random(opt("seed").toLong)
    var seq = 0
    def pass(order: Seq[String], data: String): Seq[QueryRun] =
      order.map { n => seq += 1; runQuery(spark, data, n, seq, None) }

    // warm-up (JIT, codegen cache): one pass over the same query plans
    // on `warm_data`, a smaller copy of the same tables
    val w0 = System.nanoTime()
    val warm = pass(names, opt("warm_data"))
    // the session's dialect context is built per table directory, so the
    // first dialect query after a warm-up on other tables would pay for
    // rebuilding it: point it at the timed tables now (building one
    // dialect query's DataFrame does)
    names.find(dialectQueries).foreach(n => SparkEntry.queries(n)(spark, dir))
    out("warmup_s") = (System.nanoTime() - w0) / 1e9
    out("warmup") = warm.map(r => r.name -> r.toMap).toMap

    // timed passes (a traced run reports per-layer metrics only and
    // skips them)
    out("sentinel_before") = sentinels(spark, 3)
    out("setup_end_ms") = tr.nowMs
    val m0 = System.nanoTime()
    val probes = mutable.ArrayBuffer.empty[Double]
    val timed = (1 to (if (trace) 0 else opt("passes").toInt)).map { _ =>
      val order = rnd.shuffle(names)
      val runs = order.map { n =>
        seq += 1
        val r = runQuery(spark, dir, n, seq, None)
        probes += sentinel(spark)
        r
      }
      Map("order" -> order, "queries" -> runs.map(r => r.name -> r.toMap).toMap)
    }
    out("measure_s") = (System.nanoTime() - m0) / 1e9
    out("passes") = timed
    out("sentinel_during") = probes.toSeq

    if (trace) {
      // Interleaved A/B: each query runs once untraced and once traced,
      // back to back (alternating which goes first), so the tracing
      // overhead is read in the same warm state and ambient window. The
      // listeners are attached only around the traced runs, which
      // together form the traced pass.
      val order = rnd.shuffle(names)
      Trace.resetHeapPeak()
      var gcMs = 0L; var jitMs = 0L; var tracedMs = 0.0
      val windows = mutable.ArrayBuffer.empty[Seq[Double]]
      def traced(n: String): QueryRun = {
        tr.attach()
        val gc0 = Trace.gcMs(); val jit0 = Trace.jitMs(); val p0 = tr.nowMs
        seq += 1
        val r = runQuery(spark, dir, n, seq, Some(tr))
        windows += Seq(p0, tr.nowMs)
        tracedMs += tr.nowMs - p0; gcMs += Trace.gcMs() - gc0; jitMs += Trace.jitMs() - jit0
        tr.detach()
        r
      }
      def untraced(n: String): QueryRun = { seq += 1; runQuery(spark, dir, n, seq, None) }
      val ab = tr.within("workload", opt("workload")) {
        order.zipWithIndex.map { case (n, i) =>
          if (i % 2 == 0) { val u = untraced(n); (u, traced(n)) }
          else { val t = traced(n); (untraced(n), t) }
        }
      }
      out("traced_windows_ms") = windows.toSeq
      val runs = ab.map(_._2)
      tr.stageSpans()
      out("traced_pass") = Map("order" -> order,
        "queries" -> runs.map(r => r.name -> r.toMap).toMap,
        "untraced" -> ab.map { case (u, _) => u.name -> u.toMap }.toMap)
      out("layers") = Layers.batch(tr, runs, tracedMs, opt("cores").toInt,
        gcMs / 1e3, jitMs / 1e3, Trace.heapPeakMb(), out("session_build_s").asInstanceOf[Double])
      out("per_query_layers") = Layers.perQuery(tr)
      out("spans") = Layers.spanRecords(tr)
    }
    out("sentinel_after") = sentinels(spark)
  }
}
