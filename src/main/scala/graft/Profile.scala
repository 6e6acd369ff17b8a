package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only micro-profiler for operator stages. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.api.GraftSession("local[32]", shufflePartitions = 32)
    def t(name: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[prof] $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    val d = graft.api.Tables.load(spark, sfDir, "documents")
    d.write.format("noop").mode("overwrite").save() // warmup
    t("scan+repartition")(d)
    t("kernel sigs")(d.select(col("doc_id"),
      graft.functions.GraftKernels.minhashSigCol(col("text"), 3, 16).as("sig")))
    t("kernel shingles")(d.select(col("doc_id"),
      graft.operators.Dedup.shingles(col("text"), 3).as("sh")))
    val lsh = graft.operators.Dedup.minhashLsh(d, "text", "doc_id")
    t("minhashLsh full")(lsh)
    // persist+materialize the candidate pairs so the next line times
    // ngramJaccard ITSELF — without this, the stage silently re-runs the
    // whole LSH candidate pipeline and misattributes its cost to the
    // verify step (the one number this profiler exists to isolate)
    val cand = lsh.select("id_a", "id_b").persist()
    cand.count()
    t("ngramJaccard on cand")(graft.operators.Dedup.ngramJaccard(cand, d, "text", "doc_id"))
    cand.unpersist()
    t("q24 full")(SparkEntry.queries("q24_dedup_minhash")(spark, sfDir))
    spark.stop()
  }
}
