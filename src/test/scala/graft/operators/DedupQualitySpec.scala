package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Quality bounds for the dedup operators: exact-dedup normalization,
  * MinHash estimate accuracy vs true Jaccard, LSH candidate recall on
  * planted near-duplicates, SimHash Hamming behavior.
  */
class DedupQualitySpec extends AnyFunSuite with SparkTestSession {

  private val rnd = new scala.util.Random(7)
  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  private def doc(words: Int): String =
    Seq.fill(words)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  /** Perturb ~frac of the words — a near-duplicate. */
  private def perturb(text: String, frac: Double): String =
    text.split(" ").map(w =>
      if (rnd.nextDouble() < frac) vocab(rnd.nextInt(vocab.size)) else w).mkString(" ")

  private def jaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(t: String) = t.split(" ").sliding(k).map(_.mkString(" ")).toSet
    val (sa, sb) = (sh(a), sh(b))
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exact dedup collapses case/whitespace variants and counts members") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "the quick   brown fox"),
      (3L, "  THE QUICK BROWN FOX  "),
      (4L, "a different document")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "text", "doc_id").collect()
    assert(out.length == 2)
    val big = out.find(_.getAs[Long]("dup_count") == 3L).get
    assert(big.getAs[Long]("keep_id") == 1L)
  }

  test("duplicatedSpanStats: shared boilerplate spans counted, unique text scores 0") {
    import spark.implicits._
    // docs 1 and 2 share the 5-gram "one two three four five" inside
    // otherwise-different text; doc 3 is fully unique
    val docs = Seq(
      (1L, "alpha one two three four five beta gamma"),
      (2L, "delta one two three four five epsilon zeta"),
      (3L, "totally unrelated words in this document here now")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(docs, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getAs[Long]("n_spans"), r.getAs[Double]("dup_span_frac"))).toMap
    // 8 words → 4 distinct 5-shingles per doc; exactly one is shared
    assert(out(1L) == ((4L, 0.25)) && out(2L) == ((4L, 0.25)))
    assert(out(3L) == ((4L, 0.0)))
    // identical docs: every span duplicated
    val dup = Seq((1L, "x y z w v u"), (2L, "x y z w v u")).toDF("doc_id", "text")
    val d = Dedup.duplicatedSpanStats(dup, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("dup_span_frac")).toMap
    assert(d == Map(1L -> 1.0, 2L -> 1.0))
  }

  test("exactKeepBest: max score wins, ties break to lowest id — at large ids and fractional scores") {
    import spark.implicits._
    // ids far beyond 10^6 and sub-integer score deltas: the old
    // score*1e6-id packing picked (score 5.0, id 10) over (score 5.5, id 2e9)
    val docs = Seq(
      (10L, "same doc", 5.0),
      (2000000000L, "same doc", 5.5),
      (3000000001L, "other doc", 1.0),
      (3000000000L, "other doc", 1.0)).toDF("doc_id", "text", "q")
    val out = Dedup.exactKeepBest(docs, "text", "doc_id", col("q"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count"))).toSet
    assert(out == Set((2000000000L, 2L), (3000000000L, 2L)))
  }

  test("exactKeepBest: STRING ids take the two-phase path — ties break to the lexicographic min") {
    import spark.implicits._
    // the numeric path's decimal-negation tie-break would throw under
    // ANSI (or null the tie-break in legacy mode) on string ids
    val docs = Seq(
      ("doc-b", "same doc", 5.0),
      ("doc-a", "same doc", 5.0),   // tie → lexicographic min wins
      ("doc-z", "same doc", 1.0),
      ("doc-q", "other doc", 2.0)).toDF("doc_id", "text", "q")
    val out = Dedup.exactKeepBest(docs, "text", "doc_id", col("q"))
      .collect().map(r => (r.getAs[String]("keep_id"), r.getAs[Long]("dup_count"))).toSet
    assert(out == Set(("doc-a", 3L), ("doc-q", 1L)))
    // all-NULL scores keep the lowest id instead of dropping the group
    val nulls = Seq(("n2", "x", null.asInstanceOf[java.lang.Double]),
      ("n1", "x", null.asInstanceOf[java.lang.Double])).toDF("doc_id", "text", "q")
    val kept = Dedup.exactKeepBest(nulls, "text", "doc_id", col("q")).collect()
    assert(kept.length == 1 && kept.head.getAs[String]("keep_id") == "n1")
  }

  test("exactKeepBest r13 review fixes: null-hash group survives string path; fractional ids tie-break exactly; working-column names don't collide") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // (null text, null id) group: hashes NULL by design — the old
    // null-unsafe USING join dropped it on the STRING-id path while
    // the numeric path kept it (output diverged on id type)
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("q", DoubleType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(null, null, 1.0),
      org.apache.spark.sql.Row(null, null, 2.0),
      org.apache.spark.sql.Row("a", "real", 3.0))
    val out = Dedup.exactKeepBest(spark.createDataFrame(rows, schema), "text", "doc_id", col("q"))
      .collect()
    assert(out.length == 2, s"null-hash group must survive: ${out.toSeq}")
    assert(out.exists(r => r.isNullAt(r.fieldIndex("content_hash")) && r.getAs[Long]("dup_count") == 2L))
    // fractional DOUBLE ids: 7.1 vs 7.2 at equal score must keep 7.1
    // (the decimal(38,0) negation rounded both to -7 → arbitrary)
    val frac = Seq((7.2, "same", 5.0), (7.1, "same", 5.0)).toDF("doc_id", "text", "q")
    val keptF = Dedup.exactKeepBest(frac, "text", "doc_id", col("q")).collect()
    assert(keptF.length == 1 && keptF.head.getAs[Double]("keep_id") == 7.1)
    // a frame ALREADY carrying dup_count (re-dedup after exact()) must
    // not become an ambiguous reference on the two-phase path
    val redo = Seq(("a", "t", 1.0, 9L), ("b", "t", 2.0, 9L))
      .toDF("doc_id", "text", "q", "dup_count")
    val keptR = Dedup.exactKeepBest(redo, "text", "doc_id", col("q")).collect()
    assert(keptR.length == 1 && keptR.head.getAs[String]("keep_id") == "b")
  }

  test("clusterPairs drops null-endpoint edges uniformly — driver-local path must not NPE (r13 review)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id_a", LongType, nullable = true),
      StructField("id_b", LongType, nullable = true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, 2L),
      org.apache.spark.sql.Row(null, 3L),
      org.apache.spark.sql.Row(4L, null))
    val pairs = spark.createDataFrame(rows, schema)
    // below the local threshold: used to crash with NPE in getLong
    val local = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == Set((1L, 1L), (2L, 1L)), local)
    // distributed path agrees
    val dist = Dedup.clusterPairs(pairs, localThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == local)
  }

  test("minhashLsh rejects non-positive band geometry loudly (r13 review)") {
    import spark.implicits._
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException](
      Dedup.minhashLsh(docs, "text", "doc_id", numBands = 0)).getMessage.contains("numBands"))
    assert(intercept[IllegalArgumentException](
      Dedup.minhashLsh(docs, "text", "doc_id", rowsPerBand = 0)).getMessage.contains("rowsPerBand"))
  }

  test("r17 review: band-geometry product gated in Long — an Int-wrapping product rejects") {
    import spark.implicits._
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    // 128 * 33554433 = 2^32 + 128, which wraps to 128 in Int arithmetic
    // and sailed past the <= 256 gate pre-fix (the kernel then built a
    // 128-hash signature while banding sliced with the caller's huge
    // rowsPerBand — silent wrong buckets in legacy, mid-job overflow
    // under ANSI). The gate must fire with the CALLER's parameters.
    val e = intercept[IllegalArgumentException](
      Dedup.minhashLsh(docs, "text", "doc_id", numBands = 128, rowsPerBand = 33554433))
    assert(e.getMessage.contains("33554433"))
    assert(e.getMessage.contains("256"))
  }

  test("clusterPairs: 1000-node path graph converges to one cluster within 15 rounds") {
    import spark.implicits._
    // adversarial diameter: plain min-propagation needs ~999 rounds;
    // pointer doubling must finish in O(log n)
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localThreshold = 0 forces the DISTRIBUTED pointer-doubling loop
    val labels = Dedup.clusterPairs(pairs, maxIterations = 15, localThreshold = 0L).collect()
    assert(labels.length == 1000)
    assert(labels.forall(_.getAs[Long]("cluster_id") == 0L))
  }

  test("clusterPairs == union-find on random graphs (property)") {
    import spark.implicits._
    val prnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val n = 60 + prnd.nextInt(60)
      val edges = Seq.fill(n)((prnd.nextInt(200).toLong, prnd.nextInt(200).toLong))
        .filter { case (a, b) => a != b }
      // local union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .groupBy(find).values
        .flatMap(members => { val m = members.min; members.map(_ -> m) }).toMap
      // both execution paths must agree with the oracle: the adaptive
      // driver-local finish (default threshold) AND the distributed
      // pointer-doubling loop (threshold 0)
      val gotLocal = Dedup.clusterPairs(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      assert(gotLocal == expected)
      val gotDist = Dedup.clusterPairs(edges.toDF("id_a", "id_b"), localThreshold = 0L)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      assert(gotDist == expected)
    }
  }

  test("r18: fused closure round == the unfused r17 loop — same labels, same round count") {
    import spark.implicits._
    // The r18 fusion rewrote each round (union+agg propagate, observed
    // convergence count) claiming a BIT-IDENTICAL label trajectory.
    // Reference: the r17 loop replayed verbatim below. The trajectory
    // pin is (a) identical final labels and (b) identical convergence
    // round — asserted by running the production loop with
    // maxIterations == the reference's round count (must succeed) and
    // == count-1 (must throw non-convergence).
    def referenceRounds(pairs: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
      val edges = pairs
        .where(col("id_a").isNotNull && col("id_b").isNotNull)
        .select(explode(array(
          struct(col("id_a").as("u"), col("id_b").as("v")),
          struct(col("id_b").as("u"), col("id_a").as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
        .distinct().localCheckpoint()
      var labels = edges.groupBy(col("u").as("id"))
        .agg(least(min(col("v")), col("u")).as("cluster_id")).cache()
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val neighborMin = edges
          .join(labels.withColumnRenamed("id", "v").withColumnRenamed("cluster_id", "nl"), Seq("v"))
          .groupBy(col("u").as("id")).agg(min(col("nl")).as("nmin"))
        val prop = labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"), least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
        val hop = prop.select(col("id").as("cluster_id"), col("cluster_id").as("_grand"))
        val doubled = prop.join(hop, Seq("cluster_id"), "left")
          .select(col("id"),
            least(col("cluster_id"), coalesce(col("_grand"), col("cluster_id"))).as("cluster_id"))
        val next = if ((iter + 1) % 4 == 0) doubled.localCheckpoint() else doubled.cache()
        val changed = next.join(labels.withColumnRenamed("cluster_id", "old"), Seq("id"))
          .where(col("cluster_id") =!= col("old")).count()
        labels.unpersist()
        labels = next
        converged = changed == 0
        iter += 1
      }
      assert(converged)
      (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, iter)
    }
    val prnd = new scala.util.Random(23)
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      // multi-round: a 64-node path needs several doubling rounds
      "path64" -> (0L until 63L).map(i => (i, i + 1)),
      "two components + duplicate edges" ->
        (Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L)) ++ Seq((2L, 1L), (3L, 2L))),
      "random" -> Seq.fill(80)((prnd.nextInt(100).toLong, prnd.nextInt(100).toLong))
        .filter { case (a, b) => a != b })
    graphs.foreach { case (tag, edges) =>
      val pairs = edges.toDF("id_a", "id_b")
      val (want, rounds) = referenceRounds(pairs)
      val got = Dedup.clusterPairs(pairs, maxIterations = rounds, localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"graph '$tag': labels diverge from the unfused reference")
      if (rounds > 1) {
        val e = intercept[IllegalStateException](
          Dedup.clusterPairs(pairs, maxIterations = rounds - 1, localThreshold = 0L).collect())
        assert(e.getMessage.contains("did not converge"), s"graph '$tag': round count drifted")
      }
    }
  }

  test("clusterPairs: disjoint cliques get distinct min-id labels") {
    import spark.implicits._
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    val pairs = (clique(Seq(5L, 9L, 12L)) ++ clique(Seq(100L, 101L)) ++ Seq((7L, 3L)))
      .toDF("id_a", "id_b")
    val m = Dedup.clusterPairs(pairs.toDF("id_a", "id_b")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(m == Map(5L -> 5L, 9L -> 5L, 12L -> 5L, 100L -> 100L, 101L -> 100L, 7L -> 3L, 3L -> 3L))
  }

  test("null-text docs never pair: LSH buckets, simhash bands, and the verify join all exclude them") {
    import spark.implicits._
    // three null-text docs would all share one per-band bucket (the hash
    // of a null slice degenerates to the band constant) and pair up with
    // null est_jaccard — they must produce NO candidates at all
    val docs = Seq((1L, "the quick brown fox jumps over the dog"),
      (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(docs, "text", "doc_id").count() == 0)
    assert(Dedup.simhashPairs(docs, "text", "doc_id").count() == 0)
    // the verify pass drops pairs touching a null-text doc instead of
    // scoring them null (ANSI) or 1.0 (legacy sizeOfNull false positive)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    assert(Dedup.ngramJaccard(pairs, docs, "text", "doc_id").count() == 0)
  }

  test("exact dedup: null-text docs stay singletons, not one merged cluster") {
    import spark.implicits._
    // md5(NULL) = NULL would group every null-text doc into ONE cluster
    // (keep_id = min id) — a keep-one pass would then drop two unrelated
    // documents. Each null doc must form its own singleton group.
    val docs = Seq((1L, "same text"), (2L, "same text"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ex = Dedup.exact(docs, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(ex == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val kb = Dedup.exactKeepBest(docs, "text", "doc_id",
      org.apache.spark.sql.functions.col("doc_id").cast("double")).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(kb == Map(2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("clusterPairs rejects zero checkpoint cadence and non-positive iteration caps") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](Dedup.clusterPairs(pairs, checkpointEvery = 0))
    intercept[IllegalArgumentException](Dedup.clusterPairs(pairs, maxIterations = 0))
  }

  test("r15 review: case-variant idCol resolves; negative maxHamming rejects at the call site") {
    import spark.implicits._
    val docs = Seq((1L, "same text here", 0.5), (2L, "same text here", 0.9))
      .toDF("doc_id", "text", "q")
    // the exact docs.schema(idCol) lookup threw for a case the session
    // resolver accepts (the r14 packIntoShards fix, applied here)
    val out = Dedup.exactKeepBest(docs, "text", "DOC_ID", col("q")).collect()
    assert(out.length == 1 && out.head.getAs[Long]("keep_id") == 2L, out.toSeq.toString)
    // a negative maxHamming ran the full kernel + self-join and then
    // filtered every pair — silent empty
    val e = intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = -1))
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("minhash est_jaccard tracks true jaccard within the sampling bound") {
    import spark.implicits._
    val base = Seq.fill(40)(doc(120))
    val pairs = base.zipWithIndex.map { case (t, i) => (i, t, perturb(t, 0.04)) }
    val docs = pairs.flatMap { case (i, a, b) => Seq((i * 2L, a), (i * 2L + 1L, b)) }
      .toDF("doc_id", "text")
    // 32 hashes → stderr ≈ sqrt(j(1-j)/32) ≤ 0.09; assert within 4σ
    val est = Dedup.minhashLsh(docs, "text", "doc_id", numBands = 8, rowsPerBand = 4)
      .where(col("id_b") === col("id_a") + 1 && col("id_a") % 2 === 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Double]("est_jaccard"))).toMap
    val checked = pairs.count { case (i, a, b) =>
      val j = jaccard(a, b)
      est.get(i * 2L).exists(e => math.abs(e - j) < 0.36)
    }
    // high-similarity pairs must be found as candidates AND estimated well
    assert(checked >= 36, s"only $checked/40 pairs within bound")
  }

  test("minhash LSH finds planted near-duplicates (recall) and no self-noise") {
    import spark.implicits._
    val uniques = Seq.tabulate(100)(i => (i.toLong, doc(80)))
    val dups = uniques.take(20).map { case (i, t) => (1000L + i, perturb(t, 0.05)) }
    val docs = (uniques ++ dups).toDF("doc_id", "text")
    val cand = Dedup.minhashLsh(docs, "text", "doc_id")
      .where(col("id_b") === col("id_a") + 1000L)
    assert(cand.count() >= 18, "LSH missed planted near-dups")
  }

  test("simhash: near-duplicates land within the Hamming threshold, unrelated docs don't pair") {
    import spark.implicits._
    val uniques = Seq.tabulate(60)(i => (i.toLong, doc(100)))
    val dups = uniques.take(15).map { case (i, t) => (1000L + i, perturb(t, 0.03)) }
    val docs = (uniques ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
    val planted = pairs.where(col("id_b") === col("id_a") + 1000L).count()
    assert(planted >= 12, s"simhash found only $planted/15 planted near-dups")
  }

  /** Rows out of the largest join in `df`'s executed plan (AQE stages
    * included) — read after an action has run it. */
  private def maxJoinOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    object walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    walk.collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)
  }

  test("LSH bucket cap boundary: maxBucket docs pair fully, maxBucket + 1 and singletons never pair") {
    import spark.implicits._
    // identical texts share every band bucket (minhash) and every chunk
    // (simhash); each group's words are its own, so groups never share one
    val maxBucket = 4
    def group(g: Int, ids: Range): Seq[(Long, String)] = {
      val text = (0 until 40).map(w => s"g${g}w$w").mkString(" ")
      ids.map(i => (i.toLong, text))
    }
    val atCap = group(1, 1 to maxBucket)
    val overCap = group(2, 101 to 101 + maxBucket)
    val single = group(3, 201 to 201)
    val hot = group(4, 301 until 341) // 40 docs: 780 pairs per band if expanded
    val docs = (atCap ++ overCap ++ single ++ hot).toDF("doc_id", "text")
    val want = (for (a <- 1 to maxBucket; b <- a + 1 to maxBucket) yield (a.toLong, b.toLong)).toSet

    val mh = Dedup.minhashLsh(docs, "text", "doc_id", maxBucket = maxBucket)
    val mhPairs = mh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhPairs == want, s"minhashLsh pairs $mhPairs")
    val sh = Dedup.simhashPairs(docs, "text", "doc_id", maxBucket = maxBucket)
    val shPairs = sh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shPairs == want, s"simhashPairs pairs $shPairs")
    // the cap applies BEFORE pair generation: no join ever sees the hot
    // bucket's rows (expanded, one band alone would emit 780 rows)
    for ((name, df) <- Seq("minhashLsh" -> mh, "simhashPairs" -> sh))
      assert(maxJoinOutputRows(df) < 780, s"$name expanded a hot bucket")
  }

  test("ngram jaccard verify matches the scala definition on candidate pairs") {
    import spark.implicits._
    val a = doc(50); val b = perturb(a, 0.1)
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val row = Dedup.ngramJaccard(pairs, docs, "text", "doc_id").collect().head
    assert(math.abs(row.getAs[Double]("jaccard") - jaccard(a, b)) < 1e-12)
  }
}
