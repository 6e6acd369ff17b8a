package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Entry-point knob parsing (no Spark session needed). */
class HarnessKnobsSpec extends AnyFunSuite {

  test("r17 review: cpusFromEnv is the ONE positive-integer gate for SPARK_GRAFT_CPUS") {
    // pre-fix: Verify and Bench kept drifted copies, and 0/-2 passed
    // integer-ness only to die inside session construction with an
    // error that never named the knob
    assert(SparkEntry.cpusFromEnv(Some("8")) == 8)
    assert(SparkEntry.cpusFromEnv(None) == 4) // documented default
    for (bad <- Seq("0", "-2", "x", "4.5", ""))
      assert(intercept[IllegalArgumentException](SparkEntry.cpusFromEnv(Some(bad)))
        .getMessage.contains("SPARK_GRAFT_CPUS"), bad)
  }

  test("r17 verdict: checkpoint-I/O tunings (manager class, checksum sidecars) key on a LOCAL master") {
    // cluster deployments must keep Spark's defaults — FileContext
    // rename atomicity and the end-to-end checkpoint checksum tripwire
    // both matter on HDFS/S3, and losing them silently was the r17
    // verdict's "what's wrong" item 2
    for (local <- Seq("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"))
      assert(graft.api.GraftSession.localCheckpointTuning(local), local)
    for (cluster <- Seq("spark://host:7077", "yarn", "k8s://https://host:443", "mesos://host"))
      assert(!graft.api.GraftSession.localCheckpointTuning(cluster), cluster)
  }

  test("a GraftSession-built session pins spark.shuffle.sort.bypassMergeThreshold=1") {
    // a core conf: it applies only to the session GraftSession itself
    // creates, and this JVM already runs the shared test session — so
    // the session is built in a child JVM on the same classpath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens="))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.HarnessKnobsSpec")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "child JVM did not exit")
    assert(proc.exitValue() == 0, s"child JVM failed: $out")
    assert(out.contains("spark.shuffle.sort.bypassMergeThreshold=1"), out)
  }

  test("querySubsetFromEnv validates names and treats empty as no filter") {
    assert(SparkEntry.querySubsetFromEnv(None).isEmpty)
    assert(SparkEntry.querySubsetFromEnv(Some(" , ")).isEmpty)
    assert(SparkEntry.querySubsetFromEnv(Some("q1_agg, q2_filter_project"))
      .contains(Set("q1_agg", "q2_filter_project")))
    assert(intercept[IllegalArgumentException](
      SparkEntry.querySubsetFromEnv(Some("q1_agg,zz_bogus")))
      .getMessage.contains("zz_bogus"))
  }
}

object HarnessKnobsSpec {
  /** Child-JVM side of the bypassMergeThreshold case: builds a
    * GraftSession and prints the conf the session's context runs with. */
  def main(args: Array[String]): Unit = {
    val spark = graft.api.GraftSession("local[1]", shufflePartitions = 1)
    try {
      val key = "spark.shuffle.sort.bypassMergeThreshold"
      println(s"$key=${spark.sparkContext.getConf.get(key, "unset")}")
    } finally spark.stop()
  }
}
