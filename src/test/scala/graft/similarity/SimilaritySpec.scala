package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("signBuckets is deterministic and lshTopK ranks within bucket") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val b1 = Similarity.signBuckets(e, "vec_id", "embedding", nBits = 4, dim = 64)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Similarity.signBuckets(e, "vec_id", "embedding", nBits = 4, dim = 64)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1) // spreads across buckets

    val q = e.filter(col("vec_id") % 100 === 0)
    val approx = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 3, nBits = 4, dim = 64)
      .collect()
    assert(approx.nonEmpty)
    // ranks are 1..k per query, no self-matches
    assert(approx.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 3))
    assert(approx.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("ivfTopK is deterministic and overlaps brute force") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val r1 = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val r2 = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r1 == r2)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = r1.map(t => (t._1, t._3))
    assert((exact & approx).nonEmpty)
  }

  test("trained (KMeans) vs deterministic coarse quantizer: the recall trade ivfTopK exists for") {
    // ivfTopK is the one operator with no oracle entry (KMeans.fit is
    // not expressible in portable SQL) — this spec is its contract:
    // trained centroids must hold their own against the md5-sampled
    // deterministic quantizer at the same nLists, single-probe. On
    // clustered real-world embeddings trained centroids WIN (balanced
    // cells -> fewer cross-cell misses); on near-uniform synthetic
    // vectors the two are close, so the assertion is parity-with-slack
    // rather than strict dominance.
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .persist()
    try {
      def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
        Similarity.recallReport(exact, approx)
          .agg(sum("n_hit").cast("double") / sum("n_exact"))
          .collect()(0).getDouble(0)
      val trained = recallOf(
        Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8))
      val sampled = recallOf(
        Similarity.ivfDeterministicTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8))
      assert(trained > 0.0 && sampled > 0.0)
      assert(trained >= sampled - 0.15,
        s"trained-quantizer recall $trained fell far below deterministic $sampled")
    } finally exact.unpersist()
  }

  test("lshTopK recall vs brute force is nontrivial at nBits=4") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 3, nBits = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // single-probe sign-LSH at nBits=4 trades recall for a 16x candidate
    // cut; ~0.2-0.5 on these embeddings. Multi-probe raises it at scale.
    assert(recall >= 0.2, s"recall=$recall")

    val multi = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 3,
        nBits = 4, dim = 64, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallMulti = (exact & multi).size.toDouble / exact.size
    assert(recallMulti >= recall,
      s"multi-probe should not lose recall: $recallMulti < $recall")
    assert(recallMulti > 0.5, s"recallMulti=$recallMulti")
  }

  test("sq8TopK matches an independent JVM re-implementation on real vectors") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val out = Similarity.sq8TopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val (mns, mxs) = Similarity.sq8Ranges(e, "embedding")
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quant(x: Float, i: Int): Long = {
      val span = mxs(i) - mns(i)
      if (span == 0.0) 0L
      else math.min(255.0, math.max(0.0, math.floor((x.toDouble - mns(i)) * 255.0 / span))).toLong
    }
    def dist(a: Array[Float], b: Array[Float]): Long =
      a.indices.map { i => val d = quant(a(i), i) - quant(b(i), i); d * d }.sum
    val expected = for {
      (qid, qv) <- vecs.toSeq.filter(_._1 % 50 == 0)
      ((nid, d), rk) <- vecs.toSeq.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, dist(qv, nv)) }
        .sortBy { case (nid, d) => (d, nid) }.take(3).zipWithIndex
    } yield (qid, rk + 1L, nid, d)
    assert(out.toSet == expected.toSet)
    assert(out.forall { case (_, _, _, d) => d >= 0L })
  }

  test("sq8 distance: zero on identical vectors, clamps out-of-range probes, codegen'd") {
    import spark.implicits._
    import graft.functions.Sq8L2Distance.sq8L2
    val df = Seq(
      (1L, Array(0.0f, 1.0f), Array(0.0f, 1.0f)),
      // -10/+10 are outside the [0,1] ranges -> clamp to codes 0/255
      (2L, Array(-10.0f, 10.0f), Array(0.0f, 1.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        sq8L2(col("a"), col("b"), Seq(0.0, 0.0), Seq(1.0, 1.0)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 0L)
    // a=(clamp->0, clamp->255), b=(0, 255): 255 quantizes to floor(255.0)=255
    assert(out(2L) == 0L)
    // spark.range + non-foldable arrays: a Seq-backed frame would
    // constant-fold the whole projection into a LocalTableScan
    val live = spark.range(4).select(
      array(col("id").cast("float"), lit(1.0f)).as("a"),
      array(lit(0.5f), col("id").cast("float")).as("b"))
    val plan = live.select(sq8L2(col("a"), col("b"), Seq(0.0, 0.0), Seq(1.0, 1.0)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    intercept[Exception] {
      Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
        .select(sq8L2(col("v"), col("v"), Seq(0.0), Seq(1.0))).collect()
    }
  }

  test("pqEncode: one code per (id, subspace), codes within the codebook") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val (mns, mxs) = Similarity.sq8Ranges(e, "embedding")
    val cb = Similarity.pqCodebook(e, "vec_id", "embedding",
      m = 8, dim = 64, kCent = 16, mns, mxs)
    assert(cb.count() == 8 * 16)
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb, 8, 64, mns, mxs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val n = e.count()
    assert(codes.length == n * 8)
    assert(codes.map(_._1).distinct.length == codes.length) // one per (id, s)
    assert(codes.forall { case (_, c) => c >= 0 && c < 16 })
  }

  test("pqTopK: deterministic, self-excluded, ADC dist 0 for a codebook vector vs itself-like twin") {
    import spark.implicits._
    // 2-dim corpus, m=2 subspaces of 1 dim: doc 10 duplicates doc 0's
    // vector, so their codes agree in every subspace -> ADC distance 0
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(10.0f, 0.5f)),
      (2L, Array(3.0f, 9.0f)),
      (3L, Array(7.0f, 2.0f)),
      (10L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
    val out = Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 4, m = 2, dim = 2, kCent = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.forall(_._3 != 0L))                    // self excluded
    val first = out.find(_._2 == 1L).get
    assert(first._3 == 10L && first._4 == 0L)         // duplicate wins at dist 0
    val again = Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 4, m = 2, dim = 2, kCent = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == again.toSeq)                  // deterministic
  }

  /** IVF-quantized top-k over sf001: neighbors stay in the query's cell,
    * ranks follow (dist, id), and each dist is the number `flatKernel`
    * (the same kernel over the whole corpus) computes for the pair. */
  private def ivfQuantizedStaysInCell(name: String,
      ivf: (DataFrame, DataFrame) => DataFrame,
      flatKernel: (DataFrame, DataFrame, Int) => DataFrame): Unit = {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val cells = Similarity.ivfAssignCells(e, "vec_id", "embedding", nLists = 8)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def quads(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out = quads(ivf(e, q))
    assert(out.nonEmpty, name)
    out.foreach { case (qid, _, nid, _) =>
      assert(cells(nid) == cells(qid), s"$name: neighbor $nid outside query $qid's cell")
    }
    // within a query, rank order is by (dist, id)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(r => (r._4, r._3)).sameElements(
        sorted.map(r => (r._4, r._3)).sorted), s"$name ranks not by (dist,id): $sorted")
    }
    // the IVF distance is the same number the flat kernel computes
    val flat = quads(flatKernel(e, q, e.count().toInt)).map(r => (r._1, r._3) -> r._4).toMap
    out.foreach { case (qid, _, nid, d) =>
      assert(flat((qid, nid)) == d, s"ivf-$name dist differs from flat $name for ($qid,$nid)")
    }
  }

  test("ivfSq8TopK: neighbors come from the query's cell, ranked by quantized distance") {
    ivfQuantizedStaysInCell("sq8",
      (e, q) => Similarity.ivfSq8TopK(e, q, "vec_id", "embedding", k = 3, nLists = 8),
      (e, q, k) => Similarity.sq8TopK(e, q, "vec_id", "embedding", k = k))
  }

  test("ivfPqTopK: neighbors stay in the query's cell, dists agree with flat PQ") {
    ivfQuantizedStaysInCell("pq",
      (e, q) => Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 3),
      (e, q, k) => Similarity.pqTopK(e, q, "vec_id", "embedding", k = k))
  }

  test("ivfMultiProbeTopK: wider candidate pool, never worse recall than single probe") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = Similarity.ivfDeterministicTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val multi = Similarity.ivfMultiProbeTopK(e, q, "vec_id", "embedding",
        k = 3, nLists = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((exact & multi).size >= (exact & single).size)
    assert(multi.forall { case (qid, nid) => qid != nid })
    // all-cells probe degenerates to exact brute force
    val all = Similarity.ivfMultiProbeTopK(e, q, "vec_id", "embedding",
        k = 3, nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == exact)
  }

  test("multi-probe IVF-SQ8/IVF-PQ: superset candidates, nProbe=1 unchanged, all-cells = flat") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet

    // (codec, IVF operator at nProbe (None = its default), flat ranking)
    val table = Seq[(String, Option[Int] => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)](
      ("sq8", np => np.fold(Similarity.ivfSq8TopK(e, q, "vec_id", "embedding",
          k = 3, nLists = 8))(n => Similarity.ivfSq8TopK(e, q, "vec_id", "embedding",
          k = 3, nLists = 8, nProbe = n)),
        Similarity.sq8TopK(e, q, "vec_id", "embedding", k = 3)),
      ("pq", np => np.fold(Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 3))(
          n => Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 3, nProbe = n)),
        Similarity.pqTopK(e, q, "vec_id", "embedding", k = 3)))
    for ((name, ivf, flatRanking) <- table) {
      // nProbe=1 must be exactly the single-probe operator (shared
      // tie-break contract between assignWith and probeCells rank 1)
      val single = pairs(ivf(None))
      assert(single == pairs(ivf(Some(1))), name)
      // recall vs the flat ranking never drops with more probes
      val flat = pairs(flatRanking)
      assert((flat & pairs(ivf(Some(2)))).size >= (flat & single).size, name)
      // probing every cell degenerates to the flat ranking
      assert(pairs(ivf(Some(8))) == flat, name)
    }
  }

  test("recallReport: exact-vs-exact is all 1.0, all-cells probe reaches 1.0, counts add up") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
    val self = Similarity.recallReport(exact, exact)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(self.nonEmpty && self.forall { case (ne, nh, rc) => ne == 3 && nh == 3 && rc == 1.0 })
    // probing every cell IS brute force, so the report must be all 1.0
    val allCells = Similarity.ivfMultiProbeTopK(e, q, "vec_id", "embedding",
      k = 3, nLists = 8, nProbe = 8)
    assert(Similarity.recallReport(exact, allCells)
      .collect().forall(_.getDouble(3) == 1.0))
    // single-probe recall is a proper fraction with consistent counts
    val single = Similarity.recallReport(exact,
        Similarity.ivfDeterministicTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(single.forall { case (ne, nh, rc) =>
      nh <= ne && rc == nh.toDouble / ne.toDouble })
  }

  test("filteredTopK/ivfFilteredTopK: predicate respected, recall ordered, all-cells = exact") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val pred = col("label").isin(2, 4, 6)
    val allowed = e.filter(pred).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.filteredTopK(e, q, "vec_id", "embedding", pred, k = 3)
    // every neighbor satisfies the predicate — on both strategies
    assert(exact.collect().forall(r => allowed(r.getLong(2))))
    val post = Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
      pred, k = 3, nLists = 8, nProbe = 2)
    assert(post.collect().forall(r => allowed(r.getLong(2))))
    // probing every cell makes the shared-index post-filter EXACT
    val allCells = Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
      pred, k = 3, nLists = 8, nProbe = 8)
    assert(Similarity.recallReport(exact, allCells)
      .collect().forall(_.getDouble(3) == 1.0))
    // recall is monotone in nProbe (the filtered-ANN recall lever)
    def mean(df: org.apache.spark.sql.DataFrame) = {
      val rs = Similarity.recallReport(exact, df).collect().map(_.getDouble(3))
      rs.sum / rs.length
    }
    val r1 = mean(Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
      pred, k = 3, nLists = 8, nProbe = 1))
    val r2 = mean(post)
    assert(r1 <= r2 + 1e-12, s"nProbe=1 recall $r1 above nProbe=2 $r2")
  }

  test("auto-nProbe: a sharpened filter widens the probe prefix, an unselective one keeps nProbe=1") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    def probes(pred: org.apache.spark.sql.Column): Map[Long, (Long, Long)] =
      Similarity.autoProbeReport(e, q, "vec_id", "embedding", pred,
          nLists = 8, minCandidates = 20L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // unfiltered: every cell holds >> 20 rows, so every query stays at
    // the argmin cell — the fixed-nProbe cost profile when the
    // predicate doesn't bite
    val open = probes(lit(true))
    assert(open.nonEmpty)
    assert(open.values.forall(_._1 == 1L), open.toString)
    // sharp (label = 4, ~1/10 selectivity): the prefix widens per query
    // until the exact candidate count clears the floor
    val sharp = probes(col("label") === 4)
    assert(sharp.keySet == open.keySet)
    assert(sharp.values.forall { case (np, nc) => np > 1L && nc >= 20L },
      sharp.toString)
    // per query never narrower than the open predicate's choice
    assert(open.forall { case (qid, (np, _)) => sharp(qid)._1 >= np })
    // an unreachable floor degrades to probing ALL cells, and the
    // candidate total is then exactly the filtered corpus size
    val total = e.filter(col("label") === 4).count()
    val all = probes(col("label") === 4) // floor 20 reachable; now force:
    val starved = Similarity.autoProbeReport(e, q, "vec_id", "embedding",
        col("label") === 4, nLists = 8, minCandidates = total + 100L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(starved.forall { case (np, nc) => np == 8L && nc == total })
    assert(all.values.forall(_._2 >= 20L))

    // the ranking itself: every neighbor satisfies the predicate, and
    // recall vs the exact pre-filter baseline is never below the
    // fixed nProbe=1 post-filter's (the loop q250 measures, closed)
    val allowed = e.filter(col("label") === 4).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val auto = Similarity.ivfFilteredTopKAutoProbe(e, q, "vec_id", "embedding",
      col("label") === 4, k = 3, nLists = 8, minCandidates = 20L)
    assert(auto.collect().forall(r => allowed(r.getLong(2))))
    val exact = Similarity.filteredTopK(e, q, "vec_id", "embedding",
      col("label") === 4, k = 3)
    def mean(df: org.apache.spark.sql.DataFrame) = {
      val rs = Similarity.recallReport(exact, df).collect().map(_.getDouble(3))
      rs.sum / rs.length
    }
    val fixed1 = mean(Similarity.ivfFilteredTopK(e, q, "vec_id", "embedding",
      col("label") === 4, k = 3, nLists = 8, nProbe = 1))
    val autoR = mean(auto)
    assert(fixed1 <= autoR + 1e-12, s"auto recall $autoR below nProbe=1 $fixed1")
  }

  test("pqTopK recall overlaps brute force on real embeddings") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
    val approx = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((exact & approx).nonEmpty)
  }

  test("pqTopKRefined: full-corpus rerank degenerates to brute force; recall never below PQ") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.orderBy(col("query_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // rerankR >= |corpus| shortlists everything -> exactly brute force
    val exact = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3))
    val full = pairs(Similarity.pqTopKRefined(e, q, "vec_id", "embedding",
      k = 3, rerankR = 600))
    assert(full == exact)

    // refined top-k keeps every true neighbor the shortlist contains,
    // so its recall is >= the raw ADC ordering's at the same k
    def hits(df: Seq[(Long, Long, Long)]): Int =
      (df.map(t => (t._1, t._3)).toSet &
        exact.map(t => (t._1, t._3)).toSet).size
    val pq = pairs(Similarity.pqTopK(e, q, "vec_id", "embedding", k = 3))
    val refined = pairs(Similarity.pqTopKRefined(e, q, "vec_id", "embedding",
      k = 3, rerankR = 10))
    assert(hits(refined) >= hits(pq),
      s"refine lowered recall: ${hits(refined)} < ${hits(pq)}")

    // guard: a shortlist smaller than k is a contract violation
    intercept[IllegalArgumentException] {
      Similarity.pqTopKRefined(e, q, "vec_id", "embedding", k = 5, rerankR = 3)
    }
  }

  test("pqRefinedTopKFromIndex serves exactly the inline refine from stored artifacts") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("pq_refine_idx").toString
    graft.sinks.CorpusSink.writePqRefineIndex(
      e, "vec_id", "embedding", s"$dir/index", m = 8, kCent = 16)

    // materialize the query batch locally so the plan assert below
    // isolates the CORPUS: the only file reads left must be artifacts
    val spark2 = spark
    import spark2.implicits._
    val qLocal = q.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val served = Similarity.pqRefinedTopKFromIndex(
      spark, s"$dir/index", qLocal, "vec_id", "embedding", k = 3, rerankR = 10)
    // the refine stage must read stored artifacts only, with the
    // shortlist's literal id-IN pushed into the vecs scan
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert(plan.contains("In(vec_id"), plan)

    val inline = Similarity.pqTopKRefined(
      e, q, "vec_id", "embedding", k = 3, rerankR = 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.orderBy(col("query_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(served) == rows(inline))

    // an empty query batch probes nothing instead of scanning the store
    val none = Similarity.pqRefinedTopKFromIndex(
      spark, s"$dir/index", q.filter(col("vec_id") < 0), "vec_id", "embedding",
      k = 3, rerankR = 10)
    assert(none.count() == 0)
  }
}
