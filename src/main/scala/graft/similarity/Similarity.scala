package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.10).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, queries broadcast against
  *    the corpus. This is the correctness baseline and — because the
  *    query set is small and broadcast — it is shuffle-free up to the
  *    final per-query top-k (window over k*|Q| rows).
  *  - [[signBuckets]] + [[lshTopK]]: the 100 TB path. Random-hyperplane
  *    signs (derived deterministically from the dimension index via
  *    md5, so tests are reproducible) bucket the corpus; each query
  *    probes only its own bucket (plus Hamming-1 neighbors if recall
  *    needs it), then exact cosine re-ranks inside the bucket.
  */
object Similarity {

  /** Widen a narrow input to the cluster's parallelism — the guard the
    * broadcast-nested-loop kernels here need: their per-pair distance
    * math runs IN the stream side's scan tasks, so one small parquet
    * file (one partition) would put the whole O(|corpus| x |Q|) kernel
    * on one core. A no-op at real scale, where the scan already has
    * more partitions than cores (the containmentPairs posture — no
    * shuffle is ever added on the 100 TB path). Hash-partitioned on
    * the frame's FIRST column (the id in every caller here): a keyless
    * round-robin repartition first pays a local sort of its input
    * (SPARK-23207's retry-determinism guard), which a deterministic
    * key avoids outright — and unique ids spread evenly. */
  private[graft] def widened(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par)
      df.repartition(par, col(df.columns.head)) else df
  }

  /** Exact top-k neighbors per query by cosine (desc), deterministic
    * tie-break on neighbor id. `rank` is BIGINT to match SQL oracles. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = widened(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Deterministic random-hyperplane sign bucket (nBits-bit LSH code).
    * Plane b's component for dimension i is +1/-1 from a bit of
    * md5(b:i) — reproducible everywhere, no RNG state. */
  def signBuckets(
      emb: DataFrame, idCol: String, vecCol: String, nBits: Int, dim: Int): DataFrame = {
    // Precompute the plane sign matrix driver-side (tiny: nBits x dim),
    // embed it as a literal array; the per-row work stays codegen'd.
    val planes: Array[Array[Double]] = Array.tabulate(nBits, dim) { (b, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
    val planeLits = planes.map(p => array(p.map(lit): _*))
    val bucketBits = planeLits.zipWithIndex.map { case (p, b) =>
      when(VectorFunctions.dotProduct(col(vecCol).cast("array<float>"), p.cast("array<float>")) >= 0,
        shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    emb.withColumn("bucket", bucketBits.reduce(_ + _))
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    * corpus into `nLists` cells; each query probes only its own cell and
    * is exact-cosine re-ranked inside it. The classic IVF-Flat layout —
    * at 100 TB the cell assignment is a write-time partition key, so a
    * query touches |corpus|/nLists rows. Deterministic via fixed seed.
    * Single-probe (nProbe=1) — recall rises with multi-probe the same
    * way as for the sign-LSH variant.
    *
    * This is the TRAINED-quantizer variant, kept alongside
    * [[ivfDeterministicTopK]] deliberately: `KMeans.fit` is not
    * expressible in portable SQL, so this operator can never carry an
    * oracle entry — its contract is the recall spec in SimilaritySpec
    * (trained vs deterministic at equal nLists). Use it when the
    * corpus is clustered (real embedding distributions), where trained
    * centroids balance cells and beat sampled ones; the deterministic
    * variant is the oracle-verifiable twin and the default elsewhere. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val cFeat = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("features", array_to_vector(col("c_vec")))
    val model = new KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(10).setFeaturesCol("features")
      .fit(cFeat)
    val cCells = model.transform(cFeat)
      .select(col("neighbor_id"), col("c_vec"), col("prediction").as("cell"))
    val qFeat = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("features", array_to_vector(col("q_vec")))
    val qCells = model.transform(qFeat)
      .select(col("query_id"), col("q_vec"), col("prediction").as("cell"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cCells.join(broadcast(qCells), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The deterministic coarse quantizer's centroid table: nLists rows
    * picked by md5 rank over ids (TakeOrderedAndProject, no full sort,
    * no RNG state — a stable, engine-independent pick, effectively a
    * uniform random sample) — (cent_id, cent_vec), broadcast by
    * consumers. */
  def ivfCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, nLists: Int): DataFrame =
    corpus
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .orderBy(md5(col("cent_id").cast("string")), col("cent_id"))
      .limit(nLists)

  /** TRAINED centroid table in [[ivfCentroids]]'s exact shape
    * (cent_id, cent_vec float-array), so every IVF consumer — cell
    * assignment, the written-index layouts, the streamed store's
    * `seedIndex` — can take a Lloyd's-trained quantizer instead of the
    * sampled one without any other change. This is [[ivfTopK]]'s
    * `KMeans.fit` made a first-class artifact: train once at seed
    * time on the seed corpus (the result is a bounded nLists×dim
    * table, the same driver-side footprint as the sampled pick), pin
    * it in the store, and it serves every future append/probe. Not
    * oracle-expressible (iterative fit), so its contract is
    * served-vs-inline parity under the SAME stored centroids
    * (VectorIndexStreamSpec), not a DuckDB twin. cent_id is the
    * cluster index — no source id participates in training (only the
    * vectors feed Lloyd's), which is why, unlike [[ivfCentroids]],
    * this signature takes no idCol. */
  def kmeansCentroids(
      corpus: DataFrame, vecCol: String, nLists: Int,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    // cache the projected frame: ml.KMeans only caches internally when
    // its input is NOT already cached, and Lloyd's at maxIter=10 would
    // otherwise re-evaluate the seed-corpus projection every iteration
    val feat = corpus
      .select(array_to_vector(col(vecCol).cast("array<float>")).as("features"))
      .cache()
    try {
      val model = new KMeans()
        .setK(nLists).setSeed(seed).setMaxIter(10).setFeaturesCol("features")
        .fit(feat)
      model.clusterCenters.toSeq.zipWithIndex
        .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
        .toDF("cent_id", "cent_vec")
    } finally feat.unpersist()
  }

  /** The one argmin-cell implementation every IVF consumer shares
    * (assignment, serving layout, top-k probe — the tie-break and
    * distance MUST stay identical across them or written cell layouts
    * and probe-time assignments drift apart): exact squared-L2 over the
    * broadcast centroid table, tie-break on centroid id, reduced
    * map-side by a `min_by` partial agg — one row per id reaches the
    * shuffle. */
  private[graft] def assignWith(
      cent: DataFrame, df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.join(broadcast(cent))
      .withColumn("l2", VectorFunctions.l2Sq(col(vecCol), col("cent_vec")))
      .groupBy(col(idCol))
      .agg(
        min_by(col("cent_id"), struct(col("l2"), col("cent_id"))).as("cell"),
        first(col(vecCol)).as(vecCol))

  /** Deterministic IVF cell assignment of a frame against its OWN
    * centroids. Returns (idCol, cell, vecCol). At write time `cell` is
    * the partition key ([[graft.sinks.CorpusSink.writeIvfCells]]), so a
    * probe reads |corpus|/nLists rows. */
  def ivfAssignCells(
      df: DataFrame, idCol: String, vecCol: String, nLists: Int): DataFrame =
    assignWith(ivfCentroids(df, idCol, vecCol, nLists),
        df.select(col(idCol), col(vecCol)), idCol, vecCol)
      .select(col(idCol), col("cell"), col(vecCol))

  /** IVF top-k with the DETERMINISTIC coarse quantizer: cell = argmin
    * exact squared-L2 against [[ivfCentroids]]. The IVF-Flat layout is
    * identical to [[ivfTopK]] — cell-assigned corpus, broadcast queries
    * probing their own cell, exact cosine re-rank inside it — only the
    * quantizer training differs, which makes this variant expressible
    * in portable SQL and therefore oracle-verifiable ([[ivfTopK]]'s
    * KMeans `.fit` is not).
    *
    * Scale shape: the centroid table is nLists rows and broadcast;
    * assignment is a broadcast nested-loop of nLists distance kernels
    * per row reduced by a map-side-partial `min_by`, so the corpus is
    * scanned once and the only wide exchange is the per-id hash agg. At
    * write time `cell` becomes the partition key, and a query then
    * touches |corpus|/nLists rows. */
  def ivfDeterministicTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)

    val cc = assignWith(cent,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    val qc = assignWith(cent,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cc.join(broadcast(qc), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Multi-probe IVF: each query probes its `nProbe` NEAREST cells
    * (not just the argmin cell) before the exact cosine re-rank — the
    * IVF recall lever, exactly as Hamming-1 expansion is for the
    * sign-LSH path ([[lshTopK]]'s nProbe). The probe list is built on
    * the BROADCAST side (|Q| x nLists distance pairs ranked to
    * |Q| x nProbe rows), so the corpus is still touched once and the
    * join stays a broadcast-hash on the cell id. With the cell-
    * partitioned write layout a probe reads nProbe directories. */
  /** The nProbe nearest cells per query — the probe list every
    * multi-probe IVF variant shares, built on the (small, broadcast)
    * query side: |Q| x nLists distance pairs ranked by (l2, cent_id)
    * down to |Q| x nProbe rows. Rank 1 is exactly [[assignWith]]'s
    * argmin cell (same distance, same tie-break), so nProbe=1 callers
    * may use either interchangeably. Returns (idCol, vecCol, cell). */
  private[graft] def probeCells(
      cent: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col(idCol))
      .orderBy(col("l2"), col("cent_id"))
    queries
      .join(broadcast(cent))
      .withColumn("l2", VectorFunctions.l2Sq(col(vecCol), col("cent_vec")))
      .withColumn("cell_rank", row_number().over(probeW))
      .filter(col("cell_rank") <= nProbe)
      .select(col(idCol), col(vecCol), col("cent_id").as("cell"))
  }

  /** Metadata-FILTERED exact search — ANN constrained to corpus rows
    * matching a predicate (label/language/source/license filters are
    * how production vector serving is actually queried). This is the
    * PRE-FILTER strategy: the predicate cuts the corpus before any
    * distance work, so cost scales with selectivity and recall is
    * exact by construction — the right path when the predicate is
    * selective (the candidate set fits a brute-force re-rank) and the
    * baseline every approximate filtered variant is measured against
    * ([[recallReport]] vs [[ivfFilteredTopK]]). At 100 TB the
    * predicate is a scan-level pushed filter (and a partition filter
    * when the corpus is written partitioned by the metadata column),
    * so the unselected rows are never read. */
  def filteredTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      predicate: org.apache.spark.sql.Column, k: Int): DataFrame =
    bruteForceTopK(corpus.filter(predicate), queries, idCol, vecCol, k)

  /** Filtered IVF multi-probe — ONE shared unfiltered index serving a
    * filtered query: centroids and the probe list come from the FULL
    * corpus (so the same written cell layout serves every predicate),
    * while candidate rows are filtered inside the probed cells before
    * the exact re-rank. This is the POST-FILTER strategy: cost stays
    * |corpus| * nProbe / nLists regardless of selectivity, but recall
    * degrades when the predicate is selective (a probed cell may hold
    * few matching rows — the documented filtered-ANN trap; measure
    * against [[filteredTopK]] with [[recallReport]] and raise nProbe
    * until recall holds). Filtering BEFORE cell assignment is
    * result-identical to filtering after (assignment is per-row) and
    * cheaper, so that is what runs. */
  def ivfFilteredTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      predicate: org.apache.spark.sql.Column, k: Int, nLists: Int,
      nProbe: Int = 2): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val cc = assignWith(cent,
      corpus.filter(predicate)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    val qProbes = probeCells(cent,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cc.join(broadcast(qProbes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Per-query probe sets sized by EXACT candidate counts: each query
    * takes the shortest prefix of its distance-ranked cell list whose
    * filtered-candidate total reaches `minCandidates` (all `nLists`
    * cells when the floor is unreachable; always at least the argmin
    * cell). Everything is broadcast-side: |Q| x nLists ranked pairs
    * joined to the nLists-row filtered cell-count table, one running
    * sum — no recall oracle at serve time, and the choice is a
    * deterministic integer function of (query, predicate, corpus).
    * Returns (query_id, q_vec, cell, cell_rank). */
  private[graft] def autoProbeSets(
      cent: DataFrame, cellCounts: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, minCandidates: Long): DataFrame = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("l2"), col("cent_id"))
    val ranked = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .join(broadcast(cent))
      .withColumn("l2", VectorFunctions.l2Sq(col("q_vec"), col("cent_vec")))
      .withColumn("cell_rank", row_number().over(probeW))
      .select(col("query_id"), col("q_vec"),
        col("cent_id").as("cell"), col("cell_rank"))
    // running total of candidates over the prefix BEFORE this cell: a
    // cell is probed while the floor is still unmet (rank 1 always is:
    // its prefix-before is 0)
    val cumW = Window.partitionBy(col("query_id")).orderBy(col("cell_rank"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranked
      .join(broadcast(cellCounts), Seq("cell"), "left")
      .withColumn("prev_cum",
        coalesce(sum(coalesce(col("cell_n"), lit(0L))).over(cumW), lit(0L)))
      .filter(col("prev_cum") < minCandidates)
      .select(col("query_id"), col("q_vec"), col("cell"), col("cell_rank"))
  }

  /** [[ivfFilteredTopK]] with the nProbe CHOSEN PER QUERY instead of
    * fixed — the close of q250's measured recall-degradation loop, the
    * same measure -> plan -> apply shape as the skew toolkit: q250
    * showed recall falling as the predicate sharpens; this widens each
    * query's probe prefix until its EXACT filtered-candidate count
    * clears `minCandidates`, so a sharp predicate probes deep while an
    * unselective one stays at nProbe=1 — cost follows selectivity per
    * query instead of being provisioned for the worst one. The count
    * floor is cheap (an nLists-row aggregate of the filtered corpus;
    * a WRITTEN store serves it from stats without a scan) and exact,
    * so the choice is deterministic — no recall oracle needed at
    * serve time. Recall still isn't guaranteed (candidates close to
    * the floor can sit in unprobed cells), but the failure mode q250
    * measures — a probed prefix with too few matching rows to even
    * fill top-k — is structurally gone for minCandidates >= k. */
  def ivfFilteredTopKAutoProbe(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      predicate: org.apache.spark.sql.Column, k: Int, nLists: Int,
      minCandidates: Long): DataFrame = {
    require(minCandidates >= 1, s"minCandidates must be >= 1, got $minCandidates")
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val cc = assignWith(cent,
      corpus.filter(predicate)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    val cellCounts = cc.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    val qProbes = autoProbeSets(cent, cellCounts, queries, idCol, vecCol,
        minCandidates)
      .select(col("query_id"), col("q_vec"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cc.join(broadcast(qProbes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The PLAN [[ivfFilteredTopKAutoProbe]] executes, as a frame: per
    * query, the chosen probe depth and the exact filtered-candidate
    * total its prefix holds (self-matches included — the count is a
    * sizing statistic, not a result count). Integer-exact, so the
    * tuning loop's artifact is oracle-comparable. */
  def autoProbeReport(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      predicate: org.apache.spark.sql.Column, nLists: Int,
      minCandidates: Long): DataFrame = {
    require(minCandidates >= 1, s"minCandidates must be >= 1, got $minCandidates")
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val cellCounts = assignWith(cent,
        corpus.filter(predicate)
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        "neighbor_id", "c_vec")
      .groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
    autoProbeSets(cent, cellCounts, queries, idCol, vecCol, minCandidates)
      .join(broadcast(cellCounts), Seq("cell"), "left")
      .groupBy(col("query_id"))
      .agg(max(col("cell_rank")).cast("long").as("n_probe"),
        sum(coalesce(col("cell_n"), lit(0L))).cast("long").as("n_candidates"))
  }

  def ivfMultiProbeTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int, nProbe: Int = 2): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val cc = assignWith(cent,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    val qProbes = probeCells(cent,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cc.join(broadcast(qProbes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Bucketed ANN: exact cosine top-k over each query's candidate set.
    * `nProbe = 1` probes only the query's own sign bucket
    * (|corpus|/2^nBits candidates); `nProbe > 1` additionally probes
    * all Hamming-1 neighbor buckets (the classic multi-probe recall
    * lever — near-boundary vectors differ from the query in exactly one
    * hyperplane sign). The probe expansion happens on the (small,
    * broadcast) query side, so the corpus is still touched once. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nBits: Int, dim: Int, nProbe: Int = 1): DataFrame = {
    val cb = signBuckets(corpus, idCol, vecCol, nBits, dim)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("bucket"))
    val qb0 = signBuckets(queries, idCol, vecCol, nBits, dim)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("bucket"))
    val qb =
      if (nProbe <= 1) qb0
      else {
        val flips = (0 until nBits).map(b =>
          col("bucket").bitwiseXOR(shiftleft(lit(1L), b)))
        qb0.withColumn("bucket",
            explode(array_distinct(array(col("bucket") +: flips: _*))))
      }
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      // a neighbor can surface via several probe buckets — dedup first
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Per-query recall report of an approximate top-k against the exact
    * one — the evaluation loop every ANN deployment tunes its
    * nProbe/nBits/nLists on. Both inputs are top-k frames
    * (query_id, rank, neighbor_id); output is one row per query with
    * the exact-neighbor count, how many the approximate result found,
    * and the recall ratio. One equi-join on (query, neighbor) + one
    * per-query agg — integer counts, single double division, so the
    * report is engine-exact whenever the two rankings are. */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      // the approx side is <= k*|Q| rows BY CONSTRUCTION (a top-k
      // result), but its measured size sits near AQE's broadcast
      // threshold, so without the hint the join strategy — and the
      // plan-drift gate's exchange counts — flipped between identical
      // runs (the round-17 sweep caught q95 at exchanges 7<->5);
      // broadcast() pins the strategy the data shape always wants
      .join(
        broadcast(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall",
        expr("CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)"))

  /** Per-dimension [min, max] of the corpus vectors — the SQ8
    * quantization ranges. A dims-sized global statistic (like the IVF
    * centroid list): one aggregate job, collected once, embedded in the
    * query plan. min/max are comparisons, not arithmetic, so the values
    * are exact float32 — every engine computing them agrees. */
  def sq8Ranges(corpus: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    // sorted DRIVER-side: a distributed orderBy before collect() costs a
    // range-partitioning sample pass plus a sort exchange, for a frame
    // bounded by |dims| rows
    val mm = corpus
      .select(posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
      .sortBy(_.getInt(0))
    (mm.map(_.getFloat(1).toDouble).toSeq, mm.map(_.getFloat(2).toDouble).toSeq)
  }

  /** Top-k by 8-bit scalar-quantized L2 distance
    * ([[graft.functions.Sq8L2Distance]]): the compressed-index ANN
    * variant. Same broadcast-queries/corpus-touched-once shape as
    * [[bruteForceTopK]], but each comparison runs on uint8 codes —
    * integer distances, deterministic (dist, id) ranking, no float
    * tie margins.
    *
    * At 100 TB the corpus would store the quantized codes at WRITE time
    * (4x smaller scan; `CorpusSink`-style layout) and this operator
    * composes with the IVF cell layout ([[ivfAssignCells]]) to prune
    * cells first — IVF-SQ8, the standard billion-scale recipe. Here the
    * quantization is fused into the distance kernel, which proves the
    * semantics; the ranges travel as plan literals either way. */
  def sq8TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val (mns, mxs) = sq8Ranges(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = widened(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        graft.functions.Sq8L2Distance.sq8L2(col("q_vec"), col("c_vec"), mns, mxs))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** IVF-SQ8: the composed billion-scale layout — the deterministic
    * coarse quantizer ([[ivfCentroids]] + argmin-L2 cells) prunes the
    * search to the query's cell, and candidates are scored by the
    * 8-bit-quantized integer distance ([[graft.functions.Sq8L2Distance]])
    * instead of full-precision cosine. Cell pruning divides work by
    * nLists, SQ8 divides per-candidate scan bytes by 4 — the two
    * compressions multiply, which is Faiss's `IVF<n>,SQ8` recipe. At
    * write time `cell` partitions the stored QUANTIZED codes
    * ([[graft.sinks.CorpusSink]]); the re-rank here is oracle-exact
    * because the in-cell ranking is integer (dist, id). */
  def ivfSq8TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int, nProbe: Int = 1): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val (mns, mxs) = sq8Ranges(corpus, vecCol)
    val cc = assignWith(cent,
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
      "neighbor_id", "c_vec")
    // nProbe=1 keeps the min_by partial-agg assignment plan; the probe
    // window only enters for true multi-probe. A neighbor lives in ONE
    // cell and probe cells are distinct, so no dedup pass follows
    // (exactly [[ivfMultiProbeTopK]]'s argument).
    val qc =
      if (nProbe <= 1)
        assignWith(cent,
          queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
          "query_id", "q_vec")
      else probeCells(cent,
        queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
        "query_id", "q_vec", nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    cc.join(broadcast(qc), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        graft.functions.Sq8L2Distance.sq8L2(col("q_vec"), col("c_vec"), mns, mxs))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Product-quantization codebook: `m` subspaces of `dim / m`
    * dimensions, `kCent` centroids each. Centroids are the md5-ranked
    * sample rows ([[ivfCentroids]]' deterministic trick) restricted to
    * each subspace — no k-means, so the codebook is expressible in
    * portable SQL and the whole PQ pipeline stays oracle-verifiable.
    * Returns the long-format table (s, j, sub_vec, qsub): m x kCent
    * rows, always broadcast by consumers. `qsub` — the centroid
    * subvector pre-quantized under the shared [[graft.functions.Sq8]]
    * grid — is what [[pqEncode]]/[[pqTopK]] distances actually
    * consume; the float `sub_vec` rides along for inspection. The
    * global-rank window runs over kCent rows (post-limit), not the
    * corpus. */
  def pqCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, kCent: Int,
      mns: Seq[Double], mxs: Seq[Double]): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val subDim = dim / m
    // Materialize the kCent sample rows ONCE (one corpus TakeOrdered
    // job, like sq8Ranges' single stats job): the codebook frame is
    // consumed by 2m plan branches (per-subspace encode + LUT), and as
    // a lazy lineage each branch would re-run the corpus scan. A
    // driver-side kCent x dim array is the global-artifact shape this
    // data has anyway — at scale the codebook ships as a literal with
    // the query plan exactly like the SQ8 ranges.
    val spark = corpus.sparkSession
    // the global rank over the kCent post-limit rows is computed on
    // the DRIVER (sort + zipWithIndex over rows already collected) —
    // a window here would run single-partition and spam the WindowExec
    // warning into every bench capture (a literal partition key
    // doesn't help: EliminateWindowPartitions folds it away)
    val sampleRows = ivfCentroids(corpus, idCol, vecCol, kCent)
      .select(md5(col("cent_id").cast("string")).as("h"), col("cent_id"),
        col("cent_vec").cast("array<float>").as("cent_vec"))
      .collect()
      .sortBy(r => (r.getString(0), r.getLong(1)))
    pqCodebookFromSample(spark,
      sampleRows.toSeq.map(_.getSeq[Float](2)), m, dim, mns, mxs)
  }

  /** One collected md5-ranked sample serving every seed-time artifact
    * that is a prefix of the same total order: the coarse-centroid
    * table is the first nLists rows, the PQ codebook sample the first
    * kCent — [[ivfCentroids]] and [[pqCodebook]] share the (md5(id),
    * id) order and ids are unique, so prefixes of one TakeOrdered pass
    * are exactly what two separate passes produced (guide §1.2: one
    * corpus sample pass instead of two or three). */
  private[graft] final case class CentroidSample(
      centSchema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]) {
    /** LocalRelation (cent_id, cent_vec) frame of the first `nLists`
      * sample rows — byte-identical to [[ivfCentroids]]' output. */
    def centFrame(
        spark: SparkSession, nLists: Int): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        rows.take(nLists).map(r =>
          org.apache.spark.sql.Row(r.get(1), r.get(2))): _*), centSchema)
    /** Float vectors of the first `k` rows (the codebook sample). */
    def floatVecs(k: Int): Seq[Seq[Float]] =
      rows.take(k).toSeq.map(_.getSeq[Float](3))
  }

  private[graft] def centroidSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      kMax: Int): CentroidSample = {
    val df = ivfCentroids(corpus, idCol, vecCol, kMax)
      .select(md5(col("cent_id").cast("string")).as("h"), col("cent_id"),
        col("cent_vec"), col("cent_vec").cast("array<float>").as("fvec"))
    val rows = df.collect().sortBy(r => (r.getString(0), r.getLong(1)))
    CentroidSample(
      org.apache.spark.sql.types.StructType(df.schema.fields.slice(1, 3)),
      rows)
  }

  /** [[pqCodebook]]'s driver-side half: build the codebook frame from
    * already-collected md5-ranked sample vectors (ordered — index j IS
    * the codebook id). Lets a PQ seed that already holds the sample
    * rows (one TakeOrdered pass serving both the coarse centroids and
    * the codebook) skip [[pqCodebook]]'s second corpus pass. */
  private[graft] def pqCodebookFromSample(
      spark: org.apache.spark.sql.SparkSession, sample: Seq[Seq[Float]],
      m: Int, dim: Int, mns: Seq[Double], mxs: Seq[Double]): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val subDim = dim / m
    val rows = for {
      (v, j) <- sample.zipWithIndex
      s <- 0 until m
    } yield {
      val sub = v.slice(s * subDim, (s + 1) * subDim)
      // quantize driver-side under the SAME per-dimension grid the
      // corpus-side Sq8Quantize expression applies — stored sub_vec
      // floats ride along for inspection, qsub is what distances use
      (s.toLong, j.toLong, sub,
        sub.indices.map(i => graft.functions.Sq8.quantize(
          sub(i).toDouble, mns(s * subDim + i), mxs(s * subDim + i))))
    }
    import spark.implicits._
    rows.toDF("s", "j", "sub_vec", "qsub")
      .withColumn("sub_vec", col("sub_vec").cast("array<float>"))
  }

  /** PQ encoding: each vector becomes m small codes — per subspace the
    * argmin-distance centroid index (SQ8 integer distance, tie-break
    * min j). Long format (id, s, code); at write time this is the
    * stored index: m bytes per vector instead of dim floats (32x
    * smaller at m=8/dim=64), the memory-bandwidth play PQ exists for.
    * Each subspace's assignment is a broadcast join against kCent rows
    * reduced map-side by the `min_by` partial agg — the corpus reaches
    * the shuffle as one row per (id, subspace). */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, dim: Int,
      mns: Seq[Double], mxs: Seq[Double]): DataFrame = {
    val subDim = dim / m
    // ONE corpus scan: quantize the full vector once (Sq8Quantize),
    // explode its m subspace slices, and score all subspaces through a
    // single broadcast join keyed on s — a per-subspace union of scans
    // would read the corpus m times. Slicing the quantized vector is
    // exactly quantizing the slice (the grid is per-dimension), and the
    // codebook side carries its pre-quantized qsub, so the integer
    // distance ([[graft.functions.IntArrayL2]]) matches the fused
    // [[graft.functions.Sq8L2Distance]] kernel bit-for-bit.
    val subs = (0 until m).map(s => struct(lit(s.toLong).as("s"),
      slice(col("qv"), s * subDim + 1, subDim).as("sub")))
    corpus
      .select(col(idCol),
        graft.functions.Sq8Quantize.sq8Quantize(col(vecCol), mns, mxs).as("qv"))
      .select(col(idCol), explode(array(subs: _*)).as("sv"))
      .select(col(idCol), col("sv.s").as("s"), col("sv.sub").as("sub"))
      .join(broadcast(codebook.select(col("s"), col("j"), col("qsub"))), Seq("s"))
      .withColumn("d", graft.functions.IntArrayL2.intArrayL2(col("sub"), col("qsub")))
      .groupBy(col(idCol), col("s"))
      .agg(min_by(col("j"), struct(col("d"), col("j"))).as("code"))
      .select(col(idCol), col("s"), col("code"))
  }

  /** PQ ANN top-k via asymmetric-distance lookup tables (the classic
    * ADC recipe): the corpus is scanned as CODES only, while each
    * query precomputes its distance to every (subspace, centroid) pair
    * — a |Q| x m x kCent table built from tiny frames and broadcast.
    * The scan side then never touches vectors: one broadcast-hash join
    * on (s, code) and a (query, neighbor) sum. All distances are SQ8
    * integer, so ranking is (dist, id) hash-exact like the other
    * quantized variants.
    *
    * At 100 TB: codes are materialized once at write time
    * ([[pqEncode]]; 32x compression), the LUT is per-query-batch work
    * independent of corpus size, and the scan is the m-bytes-per-row
    * code table — the standard billion-scale layout (compose with the
    * IVF cell partitioner exactly like [[ivfSq8TopK]] to also prune
    * which codes are read). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, dim: Int = 64, kCent: Int = 16): DataFrame = {
    val (mns, mxs) = sq8Ranges(corpus, vecCol)
    val cb = collectedCodebook(
      pqCodebook(corpus, idCol, vecCol, m, dim, kCent, mns, mxs), m)
    // codes and the flattened per-query LUT are single-pass codegen
    // columns ([[pqCodesColumn]]/[[pqLutFlatColumn]]) and the ADC sum
    // is one expression per candidate row — the corpus is scanned once
    // with NO encode shuffle, and the only exchange left is the final
    // per-query rank window (the previous shape paid the m-way explode
    // join plus a (query, neighbor) re-aggregation exchange).
    // The encode+ADC work now rides the SCAN task, so a narrow input
    // (one small parquet file -> one partition) would run it on one
    // core — widen to the cluster's parallelism first, a no-op at real
    // scale where the scan already has more partitions than cores
    // (the containmentPairs posture).
    val wide = widened(corpus.select(col(idCol).as("neighbor_id"), col(vecCol)))
    val codes = wide.select(col("neighbor_id"),
      pqCodesColumn(graft.functions.Sq8Quantize.sq8Quantize(
        col(vecCol), mns, mxs), cb, dim).as("codes"))
    val qflat = queries.select(col(idCol).as("query_id"),
      pqLutFlatColumn(graft.functions.Sq8Quantize.sq8Quantize(
        col(vecCol), mns, mxs), cb, dim).as("dflat"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    codes
      .join(broadcast(qflat), col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", adcDistColumn(col("codes"), col("dflat"), m, kCent))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Two-stage PQ retrieval with exact refinement — Faiss's
    * `IndexRefineFlat` recipe: the codes-only ADC scan ([[pqTopK]])
    * shortlists `rerankR` candidates per query, then ONLY those
    * |Q| x rerankR rows are re-scored in exact full-precision cosine
    * and re-ranked to the final top-k. The standard answer to PQ's
    * quantization error at billion scale: the expensive exact kernel
    * touches a bounded candidate set independent of corpus size, while
    * the corpus itself is still scanned as m-byte codes.
    *
    * Scale shape: the shortlist is a small frame (|Q| x rerankR id
    * pairs) broadcast INTO one extra corpus scan that reads only
    * (id, vec) — no shuffle of the corpus, no second codes pass.
    * Recall rises monotonically in `rerankR` toward [[bruteForceTopK]]
    * (rerankR = |corpus| degenerates to it exactly — spec-pinned). */
  def pqTopKRefined(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, rerankR: Int, m: Int = 8, dim: Int = 64,
      kCent: Int = 16): DataFrame = {
    require(rerankR >= k, s"rerankR=$rerankR must be >= k=$k")
    val shortlist = pqTopK(corpus, queries, idCol, vecCol,
        k = rerankR, m = m, dim = dim, kCent = kCent)
      .select(col("query_id"), col("neighbor_id"))
    val qvec = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The per-query ADC lookup table: distance from each query's
    * subvector to every (subspace, centroid) — |Q| x m x kCent rows
    * from tiny frames, always broadcast by consumers. */
  private[graft] def pqLut(
      queries: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, dim: Int,
      mns: Seq[Double], mxs: Seq[Double]): DataFrame = {
    val subDim = dim / m
    // same single-scan shape as [[pqEncode]] (the query side is tiny,
    // but one definition keeps the distances provably identical)
    val subs = (0 until m).map(s => struct(lit(s.toLong).as("s"),
      slice(col("qv"), s * subDim + 1, subDim).as("sub")))
    queries
      .select(col(idCol).as("query_id"),
        graft.functions.Sq8Quantize.sq8Quantize(col(vecCol), mns, mxs).as("qv"))
      .select(col("query_id"), explode(array(subs: _*)).as("sv"))
      .select(col("query_id"), col("sv.s").as("s"), col("sv.sub").as("sub"))
      .join(codebook.select(col("s"), col("j"), col("qsub")), Seq("s"))
      .withColumn("d", graft.functions.IntArrayL2.intArrayL2(col("sub"), col("qsub")))
      .select(col("query_id"), col("s").as("ls"), col("j").as("lj"), col("d"))
  }

  /** The codebook collected driver-side, indexed [s][j] -> qsub — the
    * bounded m x kCent artifact every PQ kernel embeds as literals.
    * The codebook frame is either driver-local already ([[pqCodebook]]
    * builds it from collected sample rows) or a tiny stored table, so
    * this is one cheap read; requiring contiguous subspace/centroid
    * ids keeps positional indexing valid (guaranteed by construction,
    * asserted against hand-built codebooks). */
  private[graft] def collectedCodebook(
      codebook: DataFrame, m: Int): Array[Array[Array[Long]]] = {
    val rows = codebook.select(col("s"), col("j"), col("qsub")).collect()
    val bySub = rows.groupBy(_.getLong(0))
    require(bySub.keySet == (0L until m.toLong).toSet,
      s"codebook must carry subspaces 0..${m - 1}, got ${bySub.keySet}")
    Array.tabulate(m) { s =>
      val cents = bySub(s.toLong).sortBy(_.getLong(1))
      require(cents.map(_.getLong(1)).toSeq == (0L until cents.length.toLong),
        s"codebook subspace $s must carry contiguous centroid ids 0..k-1")
      cents.map(_.getSeq[Long](2).toArray)
    }
  }

  /** The PQ code vector as ONE codegen'd kernel column over the
    * quantized vector `qv` — per subspace, the argmin-distance
    * centroid index with ties to the lower index, packed in subspace
    * order ([[graft.functions.PqEncodeCodes]]: strict-less keeps the
    * first minimum, exactly [[pqEncode]]'s `min_by(j, (d, j))`).
    * Computed without the m-way explode, the broadcast join, or the
    * two re-aggregation shuffles — the corpus reaches the cell
    * writer/ranker in a single pass, in one tight codegen'd loop. */
  private[graft] def pqCodesColumn(
      qv: Column, cb: Array[Array[Array[Long]]], dim: Int): Column = {
    require(cb.nonEmpty && cb(0)(0).length == dim / cb.length,
      s"codebook sub-vector width ${cb.headOption.map(_(0).length)} does " +
        s"not match dim=$dim / m=${cb.length}")
    graft.functions.PqEncodeCodes.pqEncodeCodes(qv, cb)
  }

  /** The per-query ADC lookup table FLATTENED to one array per query
    * row: entry (s * kCent + j) holds the integer distance from the
    * query's s-th quantized subvector to codebook centroid j — the
    * same m x kCent integers as [[pqLut]], as one codegen'd kernel
    * column ([[graft.functions.PqLutFlat]]; no explode, no join). */
  private[graft] def pqLutFlatColumn(
      qv: Column, cb: Array[Array[Array[Long]]], dim: Int): Column = {
    require(cb.nonEmpty && cb(0)(0).length == dim / cb.length,
      s"codebook sub-vector width ${cb.headOption.map(_(0).length)} does " +
        s"not match dim=$dim / m=${cb.length}")
    graft.functions.PqLutFlat.pqLutFlat(qv, cb)
  }

  /** The ADC distance for one (query, candidate) row: sum over
    * subspaces of lutFlat[s * kCent + codes[s]] — integer-exact and
    * order-independent, so it equals [[pqLut]]-join-then-`sum(d)` bit
    * for bit while replacing the m-row join output and the
    * (query, neighbor) re-aggregation exchange with one codegen'd
    * kernel ([[graft.functions.PqAdcDistance]]). */
  private[graft] def adcDistColumn(
      codes: Column, lutFlat: Column, m: Int, kCent: Int): Column =
    graft.functions.PqAdcDistance.pqAdcDistance(codes, lutFlat, kCent)

  /** Top-k from a WRITTEN IVF index
    * ([[graft.sinks.CorpusSink.writeIvfIndex]]'s layout for any codec,
    * or a streamed store read as one unfenced history) through the one
    * IVF probe ([[VectorCodec.topK]]). The codec comes from the index's
    * `meta` header, and the pinned artifacts parameterize the query
    * side exactly as the inline operators compute them: queries assign
    * against the stored centroids, the probe cell set is collected
    * driver-side (|Q| x nProbe longs) into a literal IN, so only the
    * probed cell directories are read (static partition pruning), and
    * the codec ranks in-cell — exact cosine over stored floats (Flat,
    * identical to [[ivfDeterministicTopK]]/[[ivfMultiProbeTopK]]),
    * integer L2 against stored SQ8 codes (identical to
    * [[ivfSq8TopK]]), or the ADC distance over stored m-byte codes
    * (identical to [[ivfPqTopK]]); the corpus vectors of the quantized
    * indexes are never read. A query vector of another width than the
    * index's fails loudly instead of ranking on a truncated prefix.
    *
    * `excludeIds`: optional single-column frame of ids to EXCLUDE
    * from the candidates before ranking — the tombstone subtraction
    * path ([[graft.streaming.VectorIndexStream.deadIds]], which
    * resolves re-appends latest-batch-wins;
    * [[graft.streaming.VectorIndexStream.liveTombstones]] is the raw
    * terminal set): a deleted top hit is replaced by the next-best
    * live vector, the top-k never silently shortens. The set is
    * broadcast and the anti-join rides the already-pruned cell scan. */
  def ivfTopKFromIndex(
      spark: SparkSession, indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 1,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val pinned = VectorCodec.load(spark, indexPath, s"IVF index at $indexPath")
    val cells = VectorCodec.writtenCellsDir(pinned.codec)
    VectorCodec.topK(pinned, indexPath, queries, idCol, vecCol, k, nProbe, None,
      cellFilter => VectorCodec.excluding(
        spark.read.parquet(s"$indexPath/$cells").filter(cellFilter)
          .select(col(idCol).as("neighbor_id"),
            col("cell").cast("long").as("cell"),
            col(pinned.storedCol(vecCol)).as("c_pay")),
        "neighbor_id", excludeIds))
  }

  /** Two-stage top-k from a WRITTEN PQ+refine index
    * ([[graft.sinks.CorpusSink.writePqRefineIndex]]'s layout) — the
    * served face of [[pqTopKRefined]]: the ADC shortlist runs over the
    * stored `codes` alone (LUT built under the STORED codebook/ranges,
    * one broadcast-hash join + one agg), then the |Q| x rerankR
    * candidate pairs are collected driver-side — the same bounded
    * per-query-batch artifact posture as the ADC LUT and the probed
    * cell sets — and their ids pushed as a literal IN onto the
    * id-sorted `vecs` flat store, so the exact-cosine re-rank reads
    * only row groups whose id range intersects the shortlist (visible
    * as PushedFilters in the plan; spec-asserted). The corpus itself is
    * never re-read. Identical output to [[pqTopKRefined]] with the
    * same parameters by construction: stored codes/codebook/ranges are
    * exact integers and float64 stats, stored vecs are exact floats;
    * the quantization parameters (m, dim, kCent) are read off the
    * stored ranges and codebook. */
  def pqRefinedTopKFromIndex(
      spark: SparkSession, indexPath: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerankR: Int): DataFrame = {
    require(rerankR >= k, s"rerankR=$rerankR must be >= k=$k")
    val rangeRows = graft.streaming.ArtifactCache
      .localFrame(spark, s"$indexPath/ranges")
      .collect().sortBy(_.getLong(0))
    val mns = rangeRows.map(_.getDouble(1)).toSeq
    val mxs = rangeRows.map(_.getDouble(2)).toSeq
    val dim = mns.length
    val codebook =
      graft.streaming.ArtifactCache.localFrame(spark, s"$indexPath/codebook")
    // m and kCent are the stored codebook's own shape (counted on the
    // driver: the codebook frame is local, a distinct() would plan a job)
    val m = codebook.collect().map(_.getAs[Long]("s")).distinct.length
    val cb = collectedCodebook(codebook, m)
    val kCent = cb(0).length
    // stored code arrays ranked directly against the flattened
    // per-query LUT (one ADC expression per candidate row) — no
    // m-way posexplode, no (query, neighbor) re-aggregation exchange
    val codes = spark.read.parquet(s"$indexPath/codes")
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val qflat = queries.select(col(idCol).as("query_id"),
      pqLutFlatColumn(graft.functions.Sq8Quantize.sq8Quantize(
        col(vecCol), mns, mxs), cb, dim).as("dflat"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    val shortlist = codes
      .join(broadcast(qflat), col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        adcDistColumn(col("codes"), col("dflat"), m, kCent))
      .withColumn("rank", row_number().over(wAdc).cast("long"))
      .filter(col("rank") <= rerankR)
      .select(col("query_id"), col("neighbor_id"))
    val slRows = shortlist.collect()
    val ids = slRows.map(_.getLong(1)).distinct.sorted
    val slLocal = spark.createDataFrame(
      java.util.Arrays.asList(slRows: _*), shortlist.schema)
    val idFilter =
      if (ids.isEmpty) lit(false) else col(idCol).isin(ids: _*)
    val vecs = spark.read.parquet(s"$indexPath/vecs")
      .filter(idFilter)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val qvec = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    vecs.join(broadcast(slLocal), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .withColumn("cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** IVF-PQ: the full billion-scale composition — the deterministic
    * coarse quantizer restricts each query to its cell
    * ([[ivfCentroids]] + the shared argmin assignment) and the PQ ADC
    * distance ranks inside it. Cell pruning divides candidates by
    * nLists; PQ shrinks what the scan reads per candidate to m code
    * bytes — multiplied, this is Faiss's `IVF<n>,PQ<m>` layout, the
    * default at billion scale. The cell restriction rides ON the
    * broadcast LUT (each query's cell joins into its LUT rows), so the
    * code-table side still sees exactly one broadcast-hash join and
    * one aggregation. Integer (dist, id) in-cell ranking keeps the
    * oracle hash-exact. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nLists: Int = 8, m: Int = 8, dim: Int = 64, kCent: Int = 16,
      nProbe: Int = 1): DataFrame = {
    val cent = ivfCentroids(corpus, idCol, vecCol, nLists)
    val (mns, mxs) = sq8Ranges(corpus, vecCol)
    val cb = collectedCodebook(
      pqCodebook(corpus, idCol, vecCol, m, dim, kCent, mns, mxs), m)
    // the cell assignment's groupBy is the ONLY corpus exchange left:
    // codes ride it as a single-pass codegen column instead of the
    // encode explode + join + two re-aggregation shuffles, and the ADC
    // distance is one expression per candidate row against the
    // flattened per-query LUT. Multi-probe still widens only the
    // broadcast side (one LUT copy per probed cell).
    val cc = assignWith(cent,
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")),
        "neighbor_id", "c_vec")
      .select(col("neighbor_id"), col("cell"),
        pqCodesColumn(graft.functions.Sq8Quantize.sq8Quantize(
          col("c_vec"), mns, mxs), cb, dim).as("codes"))
    val qc =
      (if (nProbe <= 1)
         assignWith(cent,
           queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
           "query_id", "q_vec")
       else probeCells(cent,
         queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
         "query_id", "q_vec", nProbe))
        .select(col("query_id"), col("cell").as("q_cell"),
          pqLutFlatColumn(graft.functions.Sq8Quantize.sq8Quantize(
            col("q_vec"), mns, mxs), cb, dim).as("dflat"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    cc
      .join(broadcast(qc), col("cell") === col("q_cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        adcDistColumn(col("codes"), col("dflat"), m, kCent))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Per-label centroid outliers — the embedding-space label-noise
    * detector (vectors farthest from their class centroid are the
    * mislabeled/ambiguous candidates a curation pass reviews first).
    *
    * Exactness discipline: embeddings quantize to integer milli-units
    * q = round(v*1000) (exact: a float's 24-bit mantissa times 1000
    * still fits double, so the product never rounds), and instead of
    * dividing by the count to form a float centroid, distance ranks on
    *   d2s = sum_dims (cnt*q - sum_q)^2  = cnt^2 * ||v - centroid||^2
    * — cnt is constant within a label, so the ranking is the true
    * centroid-distance ranking, in pure BIGINT arithmetic that any
    * engine reproduces bit-for-bit.
    *
    * Scale: posexplode -> groupBy(label, dim) partial-aggregates
    * map-side (64 rows per label after the shuffle); the per-label
    * centroid table (labels x dims rows) broadcasts back against the
    * exploded vectors; the per-vector distance re-groups on vec id.
    * Two shuffles, both on keys with bounded cardinality fan-in, and
    * the top-k per label is one window pass.
    */
  def labelCentroidOutliers(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, topK: Int = 10): DataFrame = {
    val q = vecs.select(col(idCol).as("vid"), col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("vid"), col("lbl"), (col("pos") + 1).as("dim"),
        round(col("v").cast("double") * 1000).cast("long").as("q"))
    val cent = q.groupBy(col("lbl"), col("dim"))
      .agg(sum(col("q")).as("sumq"), count(lit(1)).as("cnt"))
    val d2 = q.join(broadcast(cent), Seq("lbl", "dim"))
      .withColumn("r", col("cnt") * col("q") - col("sumq"))
      .groupBy(col("vid"), col("lbl"))
      .agg(sum(col("r") * col("r")).as("d2s"))
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("d2s").desc, col("vid"))
    d2.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("vid"), col("lbl"), col("d2s"), col("rn"))
  }

  /** Per-label embedding drift between two partitions of the corpus
    * (time slices, pipeline versions, data sources) — the monitoring
    * signal that catches a broken encoder or a shifted input
    * distribution before it poisons training: squared distance
    * between the two partitions' per-label mean embeddings.
    *
    * Integer-exact like [[labelCentroidOutliers]]: milli-unit
    * quantization, means as floored integer micro-units
    * (sum*1000 div count — floor division, identical in any engine),
    * drift² = Σ_dims (m_a − m_b)² in BIGINT. Shape: one posexplode,
    * one (label, part, dim) grouped agg (labels×2×dims rows), a
    * self-join of that tiny frame, one fold — nothing data-sized
    * past the first agg.
    */
  def embeddingDrift(vecs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, partCol: String): DataFrame = {
    // quantized values shift by +4096 into the positive domain BEFORE
    // the mean's integer division: Spark's `div` truncates toward zero
    // while SQL `//` floors, and they disagree exactly on negative
    // numerators — on a non-negative domain trunc == floor in every
    // engine. The shift cancels in (m_a - m_b), so drift² is
    // unaffected; components beyond ±4.096 fail loudly instead of
    // silently wrapping the domain guarantee.
    val q = vecs.select(col(idCol).as("vid"), col(labelCol).as("lbl"),
        col(partCol).as("part"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("vid"), col("lbl"), col("part"), (col("pos") + 1).as("dim"),
        (round(col("v").cast("double") * 1000).cast("long") + 4096).as("q"))
      .withColumn("q",
        when(col("q") >= 0 && col("q") <= 8192, col("q"))
          .otherwise(raise_error(
            lit("embeddingDrift: component outside [-4.096, 4.096]"))))
    val m = q.groupBy(col("lbl"), col("part"), col("dim"))
      .agg(expr("(sum(q) * 1000) div count(*)").as("m"),
        countDistinct(col("vid")).as("c"))
    val a = m.filter(col("part") === 0)
      .select(col("lbl"), col("dim"), col("m").as("ma"), col("c").as("ca"))
    val b = m.filter(col("part") === 1)
      .select(col("lbl"), col("dim"), col("m").as("mb"), col("c").as("cb"))
    a.join(b, Seq("lbl", "dim"))
      .groupBy(col("lbl"))
      .agg(max(col("ca")).as("n_a"), max(col("cb")).as("n_b"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("drift2_micro"))
  }

  /** Pairwise squared distances between per-label MEAN embeddings —
    * the label-taxonomy confusion matrix: labels whose centroids sit
    * close are merge/relabel candidates, the between-class complement
    * of [[labelCentroidOutliers]]' within-class view. Same integer
    * recipe as [[embeddingDrift]] (milli-quantize, +4096 shift so the
    * mean's floor-division is engine-agnostic, micro-unit means; the
    * shift cancels in every difference). One posexplode + one
    * (label, dim) agg over the corpus; everything after is
    * labels²-x-dims sized — at 100 TB the pair join touches only the
    * tiny centroid table, never a vector. Output: (label_a, label_b,
    * d2_micro2) for label_a < label_b. */
  def centroidPairDistances(
      vecs: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val q = vecs.select(col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("lbl"), (col("pos") + 1).as("dim"),
        (round(col("v").cast("double") * 1000).cast("long") + 4096).as("q"))
      .withColumn("q",
        when(col("q") >= 0 && col("q") <= 8192, col("q"))
          .otherwise(raise_error(
            lit("centroidPairDistances: component outside [-4.096, 4.096]"))))
    val m = q.groupBy(col("lbl"), col("dim"))
      .agg(expr("(sum(q) * 1000) div count(*)").as("m"))
    val a = m.select(col("lbl").as("label_a"), col("dim"), col("m").as("ma"))
    val b = m.select(col("lbl").as("label_b"), col("dim"), col("m").as("mb"))
    a.join(b, Seq("dim"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))
        .as("d2_micro2"))
  }
}
