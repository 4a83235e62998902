package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.similarity.{Similarity, VectorCodec}

class VectorIndexStreamSpec extends SparkSpec {

  private def topk(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  /** Every payload codec a store can be seeded with. */
  private val codecs = Seq(VectorCodec.Flat, VectorCodec.Sq8, VectorCodec.Pq())

  /** A served top-k as a set of whole rows (the quantized codecs carry
    * their integer `dist` as a fourth column). */
  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** A served top-k as whole rows in (query_id, rank) order. */
  private def ordered(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))

  test("seed-only index answers exactly the inline deterministic IVF (q51's ranking)") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_seed").toString
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", s"$dir/index", nLists = 8)

    val spark2 = spark
    import spark2.implicits._
    val qLocal = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")

    val served = VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", qLocal, "vec_id", "embedding", k = 3)
    // stored artifacts only, statically pruned to the probed cells
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    // the probed-cell literal IN must land in PartitionFilters (static
    // pruning); the batch fence rides there too, so don't anchor on
    // the segment's first entry
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
      .findFirstIn(plan).isDefined, plan)

    val q = e.filter(col("vec_id") % 50 === 0)
    val inline = topk(Similarity.ivfDeterministicTopK(
      e, q, "vec_id", "embedding", k = 3, nLists = 8))
    assert(topk(served) == inline)

    // multi-probe parity too
    val servedMp = topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", qLocal, "vec_id", "embedding", k = 3, nProbe = 2))
    val inlineMp = topk(Similarity.ivfMultiProbeTopK(
      e, q, "vec_id", "embedding", k = 3, nLists = 8, nProbe = 2))
    assert(servedMp == inlineMp)
  }

  test("kmeans-trained centroids seed the store and serve identically to inline") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_kmeans").toString
    val even = e.filter(col("vec_id") % 2 === 0)

    // train on the seed half only — the Faiss IVF append story: the
    // quantizer is fixed at seed time, later appends assign against it
    val trained = Similarity.kmeansCentroids(even, "embedding", nLists = 8)
    assert(trained.count() == 8)
    VectorIndexStream.seedIndex(
      even, "vec_id", "embedding", s"$dir/index", nLists = 8,
      centroids = Some(trained))
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s"$dir/index", 0L)

    val stored = spark.read.parquet(s"$dir/index/centroids")
    assert(stored.count() == 8)

    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
    val served = VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", q, "vec_id", "embedding", k = 3)

    // inline twin under the SAME stored centroids: the served result
    // must be exactly what the shared argmin-assignment + in-cell
    // cosine ranking computes from the raw corpus
    val cc = Similarity.assignWith(stored,
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec")),
      "neighbor_id", "c_vec")
    val qc = Similarity.assignWith(stored,
      q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
      "query_id", "q_vec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val inline = cc.join(qc.select(col("query_id"), col("q_vec"), col("cell")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.VectorFunctions.cosineSim(
        col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    assert(topk(served) == topk(inline))

    // a frame without the centroid contract is rejected loudly
    val e2 = intercept[IllegalArgumentException] {
      VectorIndexStream.seedIndex(even, "vec_id", "embedding",
        s"$dir/bad", nLists = 8,
        centroids = Some(even.select(col("vec_id"))))
    }
    assert(e2.getMessage.contains("cent_id"))
  }

  /** Streams two batches into a store of `codec` and checks it against a
    * one-batch backfill twin, a seed-only fence, an in-place replay and a
    * compaction (old batches fold into the seed; the newest is refused). */
  private def streamedLifecycle(codec: VectorCodec): Unit = {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val seedHalf = e.filter(col("vec_id") % 2 === 0)
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val (b0, b1) = odd.partition(_._1 % 4 == 1)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")

    def seeded(dir: String): String = {
      VectorIndexStream.seedIndex(seedHalf, "vec_id", "embedding", s"$dir/index",
        nLists = 8, codec = codec)
      s"$dir/index"
    }
    def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    def served(idx: String, beforeBatch: Long = Long.MaxValue) =
      rows(VectorIndexStream.topKFromIndex(spark, idx, queries, "vec_id",
        "embedding", k = 3, beforeBatch = beforeBatch))

    val dir = tmp("vec_index_stream")
    val idx = seeded(dir)
    val in = MemoryStream[(Long, Array[Float])]
    val q = VectorIndexStream.indexStreamTo(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, s"$dir/ckpt")().start()
    try {
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()

    // stored artifacts only, statically pruned to the probed cells
    // (the batch fence rides in PartitionFilters too)
    val plan = VectorIndexStream.topKFromIndex(spark, idx, queries,
      "vec_id", "embedding", k = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), s"$codec: $plan")
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
      .findFirstIn(plan).isDefined, s"$codec: $plan")

    // twin: same seed, all streamed rows as ONE backfill batch — batch
    // boundaries must not affect what the index serves
    val full = served(idx)
    val twin = seeded(tmp("vec_index_twin"))
    VectorIndexStream.appendBatch(
      odd.toDF("vec_id", "embedding"), "vec_id", "embedding", twin, 0L)
    assert(full == served(twin), codec)
    assert(full.nonEmpty, codec)

    // fence: beforeBatch = 0 sees only the seed
    val fenced = served(idx, beforeBatch = 0)
    assert(fenced == served(seeded(tmp("vec_index_seedonly"))), codec)
    assert(fenced != full, codec) // streamed vectors genuinely changed answers

    // replay: re-appending batch 1's rows AS batch 1 overwrites in place
    VectorIndexStream.appendBatch(
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding", idx, 1L)
    assert(served(idx) == full, codec)

    // compaction folds old batches into the seed without changing what
    // any future fence reads, whatever the payload; folding the NEWEST
    // batch is refused
    val ex = intercept[IllegalArgumentException] {
      VectorIndexStream.compactIndex(spark, idx, throughBatch = 1)
    }
    assert(ex.getMessage.contains("newest"), ex.getMessage)
    VectorIndexStream.compactIndex(spark, idx, throughBatch = 0)
    val batchDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batchDirs == Set("batch=-1", "batch=1"), s"$codec: $batchDirs")
    assert(served(idx) == full, codec)
  }

  test("streamed appends == batch backfill; fences pin history; replay converges") {
    streamedLifecycle(VectorCodec.Flat)
  }

  test("SQ8 store lifecycle: streamed batches == one-batch backfill; compaction preserves answers") {
    streamedLifecycle(VectorCodec.Sq8)
  }

  test("PQ store: streamed code cells == one-batch backfill; pruned plan; fence works (q107)") {
    streamedLifecycle(VectorCodec.Pq())
  }

  test("SQ8 store: streamed quantized cells rank exactly as the pinned-grid fused kernel (q106)") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_sq8").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$dir/index", nLists = 8,
      codec = VectorCodec.Sq8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", s"$dir/index", 0L)

    val qLocal = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val served = VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", qLocal, "vec_id", "embedding", k = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
      .findFirstIn(plan).isDefined, plan)

    // twin from primitives: the fused quantize-on-the-fly kernel under
    // the SAME pinned centroids and seed-half grid over the full corpus
    val cent = spark.read.parquet(s"$dir/index/centroids")
    val (mns, mxs) = Similarity.sq8Ranges(evens, "embedding")
    val cc = Similarity.assignWith(cent,
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec")),
      "neighbor_id", "c_vec")
    val qc = Similarity.assignWith(cent,
      e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_vec")),
      "query_id", "q_vec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    val twin = cc.join(broadcast(qc), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", graft.functions.Sq8L2Distance.sq8L2(
        col("q_vec"), col("c_vec"), mns, mxs))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
    def quad(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(quad(served) == quad(twin))
    assert(quad(served).nonEmpty)
  }

  test("PQ+refine over streamed stores: stream == backfill; id-pruned refine; full-probe full-rerank == brute force (q123)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_refine").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$dir/pq", codec = VectorCodec.Pq())
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$dir/vecs")

    // both stores fed from ONE logical stream in two micro-batches
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val (b0, b1) = odd.partition(_._1 % 4 == 1)
    val inPq = MemoryStream[(Long, Array[Float])]
    val inFlat = MemoryStream[(Long, Array[Float])]
    val qPq = VectorIndexStream.indexStreamTo(
      inPq.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/pq", s"$dir/ckpt_pq")().start()
    val qFlat = VectorIndexStream.indexStreamTo(
      inFlat.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/vecs", s"$dir/ckpt_vecs")().start()
    try {
      inPq.addData(b0: _*); inFlat.addData(b0: _*)
      qPq.processAllAvailable(); qFlat.processAllAvailable()
      inPq.addData(b1: _*); inFlat.addData(b1: _*)
      qPq.processAllAvailable(); qFlat.processAllAvailable()
    } finally { qPq.stop(); qFlat.stop() }

    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val served = VectorIndexStream.pqRefinedTopKFromIndex(
      spark, s"$dir/pq", s"$dir/vecs", queries, "vec_id", "embedding",
      k = 3, rerankR = 10)
    // served from stores alone; refine's flat-store scan is id-pruned
    // (the shortlist literal IN reaches the parquet scan as pushed
    // filters, over the id-sorted cell files)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert("PushedFilters: \\[[^\\]]*In\\(vec_id".r.findFirstIn(plan).isDefined,
      s"shortlist ids not pushed onto the vecs scan:\n$plan")
    val streamed = topk(served)
    assert(streamed.nonEmpty)

    // == the one-batch backfill twin of BOTH stores
    val twin = java.nio.file.Files.createTempDirectory("vec_index_refine_twin").toString
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$twin/pq", codec = VectorCodec.Pq())
    VectorIndexStream.appendBatch(
      odd.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$twin/pq", 0L)
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$twin/vecs")
    VectorIndexStream.appendBatch(
      odd.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$twin/vecs", 0L)
    assert(streamed == topk(VectorIndexStream.pqRefinedTopKFromIndex(
      spark, s"$twin/pq", s"$twin/vecs", queries, "vec_id", "embedding",
      k = 3, rerankR = 10)))

    // refine is a true recall ladder: probing every cell and reranking
    // the whole shortlist domain degenerates to exact brute force over
    // everything admitted — Faiss's IndexRefineFlat(rerank=N) contract
    val all = VectorIndexStream.pqRefinedTopKFromIndex(
      spark, s"$dir/pq", s"$dir/vecs", queries, "vec_id", "embedding",
      k = 3, rerankR = e.count().toInt, nProbe = 8)
    val brute = Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", k = 3)
    assert(topk(all) == topk(brute))

    // fence pins BOTH stores: pre-stream == seed-only twins
    val seedOnly = java.nio.file.Files.createTempDirectory("vec_index_refine_seed").toString
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$seedOnly/pq",
      codec = VectorCodec.Pq())
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$seedOnly/vecs")
    assert(topk(VectorIndexStream.pqRefinedTopKFromIndex(
        spark, s"$dir/pq", s"$dir/vecs", queries, "vec_id", "embedding",
        k = 3, rerankR = 10, beforeBatch = 0))
      == topk(VectorIndexStream.pqRefinedTopKFromIndex(
        spark, s"$seedOnly/pq", s"$seedOnly/vecs", queries, "vec_id",
        "embedding", k = 3, rerankR = 10)))
  }

  test("compaction journal: reads refuse mid-swap state; recovery completes the swap losslessly") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_journal").toString
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s"$dir/index", nLists = 8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", s"$dir/index", 0L)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", s"$dir/index", 1L)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val before = topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3))

    // hand-build the worst crash window: staging complete, journal
    // written, DELETES not yet performed — reads must refuse, and the
    // next compactIndex must finish the swap without losing a row
    val cells = new java.io.File(s"$dir/index/cells")
    val staging = new java.io.File(cells, "_compact_seed-t1")
    // stage = what a crashed compact(through=0) had staged: seed + batch 0
    spark.read.option("basePath", cells.toString)
      .parquet(s"${cells}/batch=-1", s"${cells}/batch=0")
      .drop("batch")
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    val journal = new java.io.File(cells, "_compact_journal")
    java.nio.file.Files.writeString(journal.toPath,
      "S _compact_seed-t1\nD batch=-1\nD batch=0\n")

    val ex = intercept[IllegalStateException] {
      VectorIndexStream.topKFromIndex(
        spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)
    }
    assert(ex.getMessage.contains("compaction journal"), ex.getMessage)

    // recovery rides the next compactIndex call (here folding nothing new)
    VectorIndexStream.compactIndex(spark, s"$dir/index", throughBatch = 0)
    val dirs = cells.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=-1", "batch=1"), dirs.toString)
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)) == before)

    // crash window 2: the swap's rename PROMOTED the staging dir but
    // the process died before the journal delete — batch=-1 on disk is
    // now the NEW seed. Recovery must recognize the completed swap
    // (staging gone) and only clear the journal; replaying the deletes
    // here is the lost-store bug (it would silently destroy the seed
    // plus every folded batch while reads keep succeeding).
    java.nio.file.Files.writeString(journal.toPath,
      "S _compact_seed-gone\nD batch=-1\nD batch=1\n")
    VectorIndexStream.compactIndex(spark, s"$dir/index", throughBatch = 0)
    val dirs2 = cells.listFiles().filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs2 == Set("batch=-1", "batch=1"), dirs2.toString)
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)) == before)

    // crash window 3: died MID-JOURNAL-WRITE — only the temp journal
    // (possibly torn) and an uncommitted staging dir exist. No mutation
    // has happened: reads must serve the intact store WITHOUT refusing,
    // and the next compactIndex clears the debris.
    java.nio.file.Files.writeString(
      new java.io.File(cells, "_compact_journal.tmp").toPath,
      "S _compact_seed-torn\nD batch=") // torn mid-line
    new java.io.File(cells, "_compact_seed-torn").mkdir()
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)) == before)
    VectorIndexStream.compactIndex(spark, s"$dir/index", throughBatch = 0)
    val names3 = cells.listFiles().map(_.getName).toSet
    assert(!names3.contains("_compact_journal.tmp"), names3.toString)
    assert(!names3.contains("_compact_seed-torn"), names3.toString)

    // a stray non-numeric batch= entry must not crash maintenance
    // (BatchIndex.batchOf's toLongOption contract)
    val stray = new java.io.File(cells, "batch=stray")
    stray.mkdir()
    VectorIndexStream.compactIndex(spark, s"$dir/index", throughBatch = 0)
    VectorIndexStream.expireIndex(spark, s"$dir/index", keepFromBatch = 0)
    assert(stray.isDirectory) // skipped, untouched
    stray.delete()
  }

  test("streamed-store recall tuning: monotone in nProbe for all three payloads; full flat probe exact (q109's loop)") {
    val sim = graft.similarity.Similarity
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_recall").toString
    val even = e.filter(col("vec_id") % 2 === 0)
    val odd = e.filter(col("vec_id") % 2 === 1)
    def store(codec: VectorCodec) = s"$dir/store${codecs.indexOf(codec)}"
    codecs.foreach { codec =>
      VectorIndexStream.seedIndex(even, "vec_id", "embedding", store(codec),
        nLists = 8, codec = codec)
      VectorIndexStream.appendBatch(odd, "vec_id", "embedding", store(codec), 0L)
    }

    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = sim.bruteForceTopK(e, q, "vec_id", "embedding", k = 3).persist()
    try {
      def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
        sim.recallReport(exact, approx)
          .agg(sum("n_hit").cast("double") / sum("n_exact"))
          .collect()(0).getDouble(0)
      def at(codec: VectorCodec, np: Int) = recallOf(VectorIndexStream.topKFromIndex(
        spark, store(codec), q, "vec_id", "embedding", k = 3, nProbe = np))
      // q109's tuning loop on the streamed matrix: widen nProbe over
      // the SAME stored partitions, recall must not drop — for every
      // payload codec, not just the flat one
      codecs.foreach { codec =>
        val r1 = at(codec, 1); val r2 = at(codec, 2); val r8 = at(codec, 8)
        assert(r1 <= r2 && r2 <= r8, s"$codec recall not monotone: $r1, $r2, $r8")
        assert(r8 > 0.0, codec)
      }
      // probing every cell of the FLAT store is brute force restricted
      // to nothing — exact cosine over all vectors, recall 1.0 (the
      // quantized stores keep their documented compression loss)
      assert(at(VectorCodec.Flat, 8) == 1.0)
    } finally exact.unpersist()
  }

  test("id reuse across batches resolves latest-batch-wins in every probe") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val evens = e.filter(col("vec_id") % 2 === 0)
    val v = evens.orderBy(col("vec_id")).limit(1)
      .select("embedding").as[Array[Float]].collect()(0)
    val qdf = Seq((1L, v)).toDF("vec_id", "embedding")
    def store(name: String, codec: VectorCodec, batches: Array[Float]*): String = {
      val idx = java.nio.file.Files.createTempDirectory(name).toString + "/index"
      VectorIndexStream.seedIndex(evens, "vec_id", "embedding", idx,
        nLists = 8, codec = codec)
      batches.zipWithIndex.foreach { case (vec, b) =>
        VectorIndexStream.appendBatch(Seq((7777L, vec)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", idx, b.toLong)
      }
      idx
    }
    // probe ALL cells so the scan covers every copy (the resolution is
    // per-scan: a stale copy in an UNPROBED cell stays invisible there,
    // the documented Faiss-like limitation — updating a moved vector
    // needs expiry/compaction, not blind re-append)
    def served(idx: String, beforeBatch: Long = Long.MaxValue): Array[org.apache.spark.sql.Row] =
      VectorIndexStream.topKFromIndex(spark, idx, qdf, "vec_id", "embedding",
        k = 1000, nProbe = 8, beforeBatch = beforeBatch).collect()

    for (codec <- codecs) {
      // id 7777 written in batch 0 as v, then REWRITTEN in batch 1 as -v:
      // the probe must rank the batch-1 payload and emit 7777 at most
      // once — without the resolution it would surface twice
      val rewritten = served(store("vec_reuse", codec, v, v.map(x => -x)))
      assert(rewritten.count(_.getLong(2) == 7777L) == 1,
        s"$codec: ${rewritten.mkString(",")}")
      if (codec == VectorCodec.Flat) {
        // without latest-wins the batch-0 copy (cos exactly 1) would sit
        // at rank 1; the batch-1 vector is -v (cos -1), so 7777 ranks LAST
        val ranked = rewritten.map(r => (r.getLong(1), r.getLong(2)))
        assert(ranked.maxBy(_._1)._2 == 7777L, ranked.mkString(","))
        assert(ranked.minBy(_._1)._2 != 7777L, ranked.mkString(","))
      }
      // the SAME vector appended in two batches serves exactly as the
      // store held it once (fenced before the second copy) — no duplicate
      // row, and (PQ) no ADC sum counted twice, the silently-wrong-
      // distance bug
      val dup = store("vec_reuse_dup", codec, v, v)
      assert(served(dup).map(_.toSeq).toSet ==
        served(dup, beforeBatch = 1L).map(_.toSeq).toSet, codec)
    }
  }

  test("expireIndex: expired vectors leave probe results and semantic-dedup history") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_expire").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$dir/index", nLists = 8)
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val (b0, b1) = odd.partition(_._1 % 4 == 1)
    VectorIndexStream.appendBatch(
      b0.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$dir/index", 0L)
    VectorIndexStream.appendBatch(
      b1.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$dir/index", 1L)

    // drop the seed and batch 0: only batch 1's vectors remain history
    VectorIndexStream.expireIndex(spark, s"$dir/index", keepFromBatch = 1, dropSeed = true)
    val remaining = VectorIndexStream.readCells(spark, s"$dir/index")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(remaining == b1.map(_._1).toSet)

    // probes only surface retained vectors
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val neighbors = VectorIndexStream.topKFromIndex(
        spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(neighbors.subsetOf(remaining))

    // an exact copy of an EXPIRED doc re-admits through semantic dedup:
    // pick an expired (even) vector with NO >= 0.9 cosine among the
    // retained history, clone it under a fresh id, and the dedup batch
    // must admit it — its only near-dup left the window
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    }
    val retainedVecs = VectorIndexStream.readCells(spark, s"$dir/index")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val cloneSrc = evens.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .find(ev => retainedVecs.forall(r => cos(ev._2, r._2) < 0.9))
    assert(cloneSrc.isDefined, "fixture should have an even doc clear of retained near-dups")
    val survivors = SemanticDedupStream.dedupBatch(
        Seq((9999L, cloneSrc.get._2)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/index", beforeBatch = 2, threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(9999L))
  }

  test("expireIndexOlderThan: wall-clock cutoff resolves to the batch fence; seed survives; stamps pruned") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_expire_ts").toString
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", s"$dir/index", nLists = 8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", s"$dir/index", 0L)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 4 === 2), "vec_id", "embedding", s"$dir/index", 1L)
    // re-stamp batch 0 three days back (appendBatch stamped it "now")
    val day = 24L * 3600 * 1000
    val now = System.currentTimeMillis()
    BatchIndex.stampBatch(spark, s"$dir/index/cells", 0L, now - 3 * day)
    VectorIndexStream.expireIndexOlderThan(spark, s"$dir/index", now - day)
    val batches = VectorIndexStream.readCells(spark, s"$dir/index")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches == Set(-1L, 1L), batches.toString) // seed never time-expires
    assert(BatchIndex.batchAdmissionTimes(spark, s"$dir/index/cells")
      .map(_._1).toSet == Set(-1L, 1L))
    // future cutoff: newest batch survives, store never empties
    VectorIndexStream.expireIndexOlderThan(spark, s"$dir/index", now + day)
    val after = VectorIndexStream.readCells(spark, s"$dir/index")
      .select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(-1L, 1L), after.toString) // dropSeed=false keeps seed too
  }

  test("verifyIndex + quarantine: orphan cells leave the probe path; seed never flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_fsck").toString
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", s"$dir/index", nLists = 8)
    val odd = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val in = MemoryStream[(Long, Array[Float])]
    val q = VectorIndexStream.indexStreamTo(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/index", s"$dir/ckpt")().start()
    try { in.addData(odd: _*); q.processAllAvailable() } finally q.stop()

    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    def served(): Set[(Long, Long, Long)] = topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3))
    val healthy = served()
    assert(VectorIndexStream.verifyIndex(spark, s"$dir/index", s"$dir/ckpt")
      == StoreCheck(Seq(0L), Nil, Nil)) // seed batch=-1 never flagged

    // orphan: a whole shifted copy of the corpus under a batch id the
    // checkpoint never started — every query's own copy now serves at
    // rank 1 (cos = 1), the wrong-neighbors-forever hazard
    VectorIndexStream.appendBatch(
      e.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", s"$dir/index", 9L)
    val check = VectorIndexStream.verifyIndex(spark, s"$dir/index", s"$dir/ckpt")
    assert(check.committed == Seq(0L) && check.orphans == Seq(9L), check.toString)
    assert(served() != healthy)

    // quarantine: probes serve exactly the healthy store again — the
    // parked partition is invisible to partition discovery
    assert(VectorIndexStream.quarantineIndexOrphans(
      spark, s"$dir/index", s"$dir/ckpt") == Seq(9L))
    assert(served() == healthy)
    assert(VectorIndexStream.verifyIndex(spark, s"$dir/index", s"$dir/ckpt")
      == StoreCheck(Seq(0L), Nil, Nil))
    assert(new java.io.File(s"$dir/index/cells/_quarantine/batch=9").isDirectory)
  }

  test("guards: full-window expire refused; wrong-width vectors raise; PQ dedups batch ids") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_guards").toString
    val evens = e.filter(col("vec_id") % 2 === 0)
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$dir/index", nLists = 8,
      codec = VectorCodec.Sq8)

    // expiring EVERY partition would brick the store — refused
    val exAll = intercept[IllegalArgumentException] {
      VectorIndexStream.expireIndex(spark, s"$dir/index",
        keepFromBatch = 99, dropSeed = true)
    }
    assert(exAll.getMessage.contains("every partition"), exAll.getMessage)

    // a 32-dim query against the 64-dim pinned grid raises loudly
    // instead of ranking on a truncated prefix
    val narrow = Seq((1L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding")
    val exW = intercept[Exception] {
      VectorIndexStream.topKFromIndex(
        spark, s"$dir/index", narrow, "vec_id", "embedding", k = 3).collect()
    }
    def chain(t: Throwable): List[String] = {
      var c: Throwable = t; val b = List.newBuilder[String]
      while (c != null) { b += String.valueOf(c.getMessage); c = c.getCause }
      b.result()
    }
    assert(chain(exW).exists(_.contains("does not match the 64-dimension grid")),
      chain(exW).mkString(" | "))

    // a PQ batch with a duplicated id stores ONE code row for it
    val pqDir = java.nio.file.Files.createTempDirectory("vec_index_pq_dup").toString
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", s"$pqDir/index",
      codec = VectorCodec.Pq())
    val v1 = evens.limit(1).select("embedding").as[Array[Float]].collect()(0)
    VectorIndexStream.appendBatch(
      Seq((7777L, v1), (7777L, v1.map(x => -x))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$pqDir/index", 0L)
    val stored = VectorIndexStream.readCells(spark, s"$pqDir/index")
      .filter(col("batch") === 0)
    assert(stored.count() == 1L)
    assert(stored.select("vec_id").collect()(0).getLong(0) == 7777L)
  }

  test("edge cases: empty appended batch is inert, empty query batch probes nothing") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_edge").toString
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", s"$dir/index", nLists = 8)

    val queries = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")
    val before = topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3))

    // an empty micro-batch (streams idle between triggers) writes an
    // empty partition that neither breaks partition inference nor
    // changes any answer
    VectorIndexStream.appendBatch(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/index", 0L)
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, s"$dir/index", queries, "vec_id", "embedding", k = 3)) == before)

    // an empty query batch plans lit(false) instead of an empty IN ()
    val none = VectorIndexStream.topKFromIndex(
      spark, s"$dir/index",
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3)
    assert(none.count() == 0)
  }

  test("delete tombstones: subtracted before ranking, accumulated, fenced, empty on fresh stores") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("vec_index_del").toString
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", s"$dir/index", nLists = 8)

    // fresh store: no tombstone dir, empty live set, probe unchanged
    val emptyTs = VectorIndexStream.liveTombstones(spark, s"$dir/index", "vec_id")
    assert(emptyTs.count() == 0)
    val before = topk(Similarity.ivfTopKFromIndex(
      spark, s"$dir/index", q, "vec_id", "embedding", k = 3,
      excludeIds = Some(emptyTs)))
    assert(before == topk(Similarity.ivfTopKFromIndex(
      spark, s"$dir/index", q, "vec_id", "embedding", k = 3)))

    // delete every id that appears in the current top-3: each must be
    // REPLACED by the next live vector, never a shortened top-k
    val hitIds = before.map(_._3).toSeq
    val spark2 = spark
    import spark2.implicits._
    VectorIndexStream.deleteBatch(spark, s"$dir/index",
      hitIds.toDF("vec_id"), "vec_id", batchId = 0L)
    val after = Similarity.ivfTopKFromIndex(
      spark, s"$dir/index", q, "vec_id", "embedding", k = 3,
      excludeIds = Some(
        VectorIndexStream.liveTombstones(spark, s"$dir/index", "vec_id")))
    val afterRows = after.collect()
    val deleted = hitIds.toSet
    assert(afterRows.forall(r => !deleted(r.getLong(2))))
    // every query still gets a full top-3 (cells hold plenty of live rows)
    val perQuery = afterRows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 3), perQuery.toMap.toString)

    // second delete batch ACCUMULATES with the first
    val more = afterRows.map(_.getLong(2)).distinct.take(2).toSeq
    VectorIndexStream.deleteBatch(spark, s"$dir/index",
      more.toDF("vec_id"), "vec_id", batchId = 1L)
    val live = VectorIndexStream.liveTombstones(spark, s"$dir/index", "vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(live == deleted ++ more)

    // as-of fence: pinned BELOW batch 1, only batch 0's deletes count
    val fenced = VectorIndexStream.liveTombstones(
      spark, s"$dir/index", "vec_id", beforeBatch = Some(1L))
      .collect().map(_.getLong(0)).toSet
    assert(fenced == deleted)
  }

  test("purgeTombstones: bytes gone, latest-batch-wins preserved, store serves clean") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("vec_index_purge").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
    // batch 0 REUSES an id with a different vector (the latest-wins case)
    val spark2 = spark
    import spark2.implicits._
    val reusedId = 7L
    val newVec = Array.fill(64)(0.5f)
    VectorIndexStream.appendBatch(
      Seq((reusedId, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, batchId = 0L)
    // materialize BEFORE purging — the frame is lazy and its input
    // files are about to be rewritten
    val before = topk(VectorIndexStream.topKFromIndex(
      spark, idx, q, "vec_id", "embedding", k = 3))
    // tombstone ids that are NOT in any current top-3 (removing
    // non-winning candidates provably leaves every top-3 unchanged),
    // not queries, and not the reused id — so post-purge serving must
    // equal `before` exactly
    val winners = before.map(_._3)
    val queryIds = q.select("vec_id").collect().map(_.getLong(0)).toSet
    val dead = e.select("vec_id").collect().map(_.getLong(0))
      .filter(id => !winners(id) && !queryIds(id) && id != reusedId)
      .take(3).toSeq
    assert(dead.size == 3)
    VectorIndexStream.deleteBatch(spark, idx,
      dead.toDF("vec_id"), "vec_id", batchId = 1L)
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")

    // tombstone store is gone and the cells hold ONLY the seed partition
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/cells"))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(parts.toSeq == Seq("batch=-1"), parts.toSeq.toString)

    // the deleted ids' BYTES are gone from the store files
    val stored = spark.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dead.forall(id => !stored(id)))
    // the reused id survived as exactly ONE row (latest-batch-wins
    // resolved during the fold, before the batch column was destroyed)
    val reusedRows = spark.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells").filter(col("vec_id") === reusedId)
      .select("embedding").collect()
    assert(reusedRows.length == 1)
    assert(reusedRows(0).getSeq[Float](0).forall(_ == 0.5f))

    // serving needs no exclude list and equals the pre-purge ranking
    val after = topk(VectorIndexStream.topKFromIndex(
      spark, idx, q, "vec_id", "embedding", k = 3))
    assert(after == before)
    // purge with no tombstones is a no-op that doesn't disturb the store
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, idx, q, "vec_id", "embedding", k = 3)) == before)
  }

  test("purgeTombstones resumes a crashed purge through the journal; tombstone redelivery is idempotent") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dead = Seq(11L, 23L, 42L)
    def build(idx: String): Unit = {
      VectorIndexStream.seedIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
      VectorIndexStream.appendBatch(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
      VectorIndexStream.deleteBatch(spark, idx,
        dead.toDF("vec_id"), "vec_id", batchId = 0L)
    }
    // store A: the clean purge — the expected end state
    val a = java.nio.file.Files.createTempDirectory("vec_purge_a").toString + "/index"
    build(a)
    VectorIndexStream.purgeTombstones(spark, a, "vec_id")
    val expected = topk(VectorIndexStream.topKFromIndex(
      spark, a, q, "vec_id", "embedding", k = 3))

    // store B: identical inputs, crashed at the WORST window — staging
    // complete, journal committed, fold-dir deletes not yet performed
    val b = java.nio.file.Files.createTempDirectory("vec_purge_b").toString + "/index"
    build(b)
    val cells = new java.io.File(s"$b/cells")
    val staged = spark.read.option("basePath", cells.toString)
      .parquet(s"$cells/batch=-1", s"$cells/batch=0")
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("embedding"), col("cell")), col("batch")).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cell").as("cell"))
      .join(dead.toDF("vec_id"), Seq("vec_id"), "left_anti")
    staged.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(new java.io.File(cells, "_compact_purge-t1").toString)
    java.nio.file.Files.writeString(
      new java.io.File(cells, "_compact_journal").toPath,
      "S _compact_purge-t1\nD batch=-1\nD batch=0\n")
    // reads refuse the journaled store; the next purge call recovers
    // the swap, then completes its OWN fold and drops the tombstones
    intercept[IllegalStateException] {
      VectorIndexStream.topKFromIndex(
        spark, b, q, "vec_id", "embedding", k = 3)
    }
    VectorIndexStream.purgeTombstones(spark, b, "vec_id")
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$b/_tombstones")))
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, b, q, "vec_id", "embedding", k = 3)) == expected)

    // redelivery: the crash window AFTER the swap but BEFORE the
    // tombstone-dir delete leaves tombstones naming already-purged
    // ids — re-running purge folds them as a no-op and clears the dir
    VectorIndexStream.deleteBatch(spark, a,
      dead.toDF("vec_id"), "vec_id", batchId = 0L)
    VectorIndexStream.purgeTombstones(spark, a, "vec_id")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$a/_tombstones")))
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, a, q, "vec_id", "embedding", k = 3)) == expected)
  }

  test("purge journal's P line drops the tombstones in BOTH recovery branches — a re-appended id can never be re-killed") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val revived = Array.fill(64)(0.25f)
    // id 11 is deleted at batch 1 and RE-APPENDED at batch 2 — the row
    // the purge keeps, and the one a crash window that left the
    // re-dated seed beside live tombstones would destroy on re-run
    def build(idx: String): Unit = {
      VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
      VectorIndexStream.deleteBatch(spark, idx,
        Seq(11L, 23L).toDF("vec_id"), "vec_id", batchId = 1L)
      VectorIndexStream.appendBatch(
        Seq((11L, revived)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", idx, batchId = 2L)
    }
    def storedVec(idx: String, id: Long): Seq[Array[Float]] =
      spark.read.option("basePath", s"$idx/cells").parquet(s"$idx/cells")
        .filter(col("vec_id") === id).select("embedding")
        .collect().map(_.getSeq[Float](0).toArray).toSeq

    // clean purge: the revived payload survives, 23 is gone
    val a = java.nio.file.Files.createTempDirectory("vec_pline_a").toString + "/index"
    build(a)
    VectorIndexStream.purgeTombstones(spark, a, "vec_id")
    assert(storedVec(a, 11L).map(_.toSeq) == Seq(revived.toSeq))
    assert(storedVec(a, 23L).isEmpty)
    val expected = topk(VectorIndexStream.topKFromIndex(
      spark, a, q, "vec_id", "embedding", k = 3))

    // crash window: swap PROMOTED (staging gone), process died before
    // the journal clear — the P line must still retire the tombstones
    // on recovery, in the staging-gone branch
    val b = java.nio.file.Files.createTempDirectory("vec_pline_b").toString + "/index"
    build(b)
    VectorIndexStream.purgeTombstones(spark, b, "vec_id")
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, b, q, "vec_id", "embedding", k = 3)) == expected)
    // manufacture the window on the PURGED store: tombstones restored
    // (as if the crash preceded their delete), journal restored with
    // its P line, staging absent
    Seq(11L, 23L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$b/_tombstones/batch=1")
    java.nio.file.Files.writeString(
      new java.io.File(s"$b/cells", "_compact_journal").toPath,
      "S _compact_seed-gone\nD batch=2\nP _tombstones\n")
    // reads refuse mid-window; the next maintenance call recovers:
    // journal cleared, tombstones dropped, revived row intact
    intercept[IllegalStateException] {
      VectorIndexStream.topKFromIndex(
        spark, b, q, "vec_id", "embedding", k = 3)
    }
    VectorIndexStream.purgeTombstones(spark, b, "vec_id")
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$b/_tombstones")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$b/cells/_compact_journal")))
    assert(storedVec(b, 11L).map(_.toSeq) == Seq(revived.toSeq))
    assert(topk(VectorIndexStream.topKFromIndex(
      spark, b, q, "vec_id", "embedding", k = 3)) == expected)
  }

  test("a takedown landing after a purge's journal commit survives the " +
      "replay unresolved — never silently destroyed") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_late_ts").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.deleteBatch(spark, idx,
      Seq(23L).toDF("vec_id"), "vec_id", batchId = 1L)
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    // manufacture the crash window AFTER the journal committed — and a
    // LATE takedown (batch=3) that landed while the purge lay dead:
    // the journal names only the batch it resolved
    Seq(23L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$idx/_tombstones/batch=1")
    Seq(42L).toDF("vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$idx/_tombstones/batch=3")
    java.nio.file.Files.writeString(
      new java.io.File(s"$idx/cells", "_compact_journal").toPath,
      "S _compact_seed-gone\nP _tombstones/batch=1\n")
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    // the resolved batch is gone; the late takedown survived AND was
    // resolved by the re-run purge (42's bytes destroyed)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    val stored = spark.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!stored.contains(42L) && !stored.contains(23L))
  }

  test("Tombstones.dropThrough drops only resolved batches; drift reports " +
      "refuse a store whose seed baseline is gone") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ts_bounded").toString
    val st = s"$dir/store"
    Seq(Tuple1(1L)).toDF("id").coalesce(1)
      .write.parquet(s"${Tombstones.dirOf(st)}/batch=0")
    Seq(Tuple1(2L)).toDF("id").coalesce(1)
      .write.parquet(s"${Tombstones.dirOf(st)}/batch=1")
    Seq(Tuple1(3L)).toDF("id").coalesce(1)
      .write.parquet(s"${Tombstones.dirOf(st)}/batch=3")
    assert(Tombstones.dropThrough(spark, st, 1L)) // batch=3 remains
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    assert(Tombstones.liveKeys(spark, st, idSchema)
      .collect().map(_.getLong(0)).toSet == Set(3L))
    assert(!Tombstones.dropThrough(spark, st, 3L)) // store gone
    assert(!new java.io.File(Tombstones.dirOf(st)).exists())

    // a gauged store whose pinned baseline was retired refuses loudly
    // instead of reporting "no drift" against nothing
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val flat = s"$dir/flat"; val sq8 = s"$dir/sq8"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", flat, nLists = 8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", flat, 0L)
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", sq8, nLists = 8,
      codec = VectorCodec.Sq8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", sq8, 0L)
    Seq(flat, sq8).foreach { idx =>
      val p = new org.apache.hadoop.fs.Path(s"$idx/cells/batch=-1")
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    val occ = intercept[Exception] {
      VectorIndexStream.occupancyDriftReport(spark, flat).collect()
    }
    assert(occ.getMessage.contains("no seed partition"), occ.getMessage)
    val bnd = intercept[Exception] {
      VectorIndexStream.sq8BoundaryReport(spark, sq8).collect()
    }
    assert(bnd.getMessage.contains("no seed partition"), bnd.getMessage)
  }

  test("tombstones order against re-appends: deadIds revives latest-batch-wins, purge keeps the revived payload") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vec_index_revive").toString
    val idx = s"$dir/index"
    def vec(seed: Int) = Array.tabulate(8)(i => ((seed + i) % 5 + 1).toFloat)
    // seed ids 0-15, append ids 16-19 at batch 0
    VectorIndexStream.seedIndex(
      (0L until 16L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, nLists = 2)
    VectorIndexStream.appendBatch(
      (16L until 20L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, batchId = 0L)
    // delete batch 1 tombstones {3 (seed), 17 (batch 0)}
    VectorIndexStream.deleteBatch(spark, idx,
      Seq(3L, 17L).toDF("vec_id"), "vec_id", batchId = 1L)
    // batch 2 RE-APPENDS 17 with a new payload: the delete is superseded
    val revived = Array.fill(8)(0.25f)
    VectorIndexStream.appendBatch(
      Seq((17L, revived)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, batchId = 2L)

    // the raw set keeps both; the resolved set revives 17
    val raw = VectorIndexStream.liveTombstones(spark, idx, "vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(3L, 17L))
    val dead = VectorIndexStream.deadIds(spark, idx, "vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dead == Set(3L))
    // fenced BELOW the re-append batch, 17 was still dead
    val deadAsOf = VectorIndexStream.deadIds(
        spark, idx, "vec_id", beforeBatch = Some(2L))
      .collect().map(_.getLong(0)).toSet
    assert(deadAsOf == Set(3L, 17L))

    // compaction REFUSES while tombstones are outstanding: folding
    // re-dates rows to batch -1, which would flip 17 (re-appended at
    // batch 2 > delete batch 1) back to dead
    val cg = intercept[IllegalStateException] {
      VectorIndexStream.compactIndex(spark, idx, throughBatch = 0L)
    }
    assert(cg.getMessage.contains("purgeTombstones before"), cg.getMessage)

    // purge executes the same resolution: 3's bytes gone, 17 survives
    // with the batch-2 payload, tombstone store dropped
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    val stored = spark.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(!stored.contains(3L))
    assert(stored(17L).forall(_ == 0.25f))
    assert(stored.keySet == ((0L until 20L).toSet - 3L))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
  }

  test("purgeTombstones refuses to purge the store to nothing; liveTombstones honors idType") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vec_index_purgeall").toString
    val idx = s"$dir/index"
    val rows = (0L until 6L).map(i =>
      (i, Array.fill(8)((i % 3 + 1).toFloat))).toDF("vec_id", "embedding")
    VectorIndexStream.seedIndex(rows, "vec_id", "embedding", idx, nLists = 2)
    VectorIndexStream.deleteBatch(spark, idx,
      (0L until 6L).toDF("vec_id"), "vec_id", batchId = 0L)
    // every id dead -> the staged seed would hold no parquet files and
    // every later probe would crash on schema inference: refuse, and
    // leave the store (and its tombstones) exactly as they were
    val e = intercept[IllegalStateException] {
      VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    }
    assert(e.getMessage.contains("every row"), e.getMessage)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(spark.read.option("basePath", s"$idx/cells")
      .parquet(s"$idx/cells").count() == 6L)

    // never-deleted empty set carries the REQUESTED id type, so the
    // anti-join casts identically between the empty and stored branches
    val fresh = java.nio.file.Files.createTempDirectory("vec_index_idtype").toString
    val stringIds = VectorIndexStream.liveTombstones(
      spark, s"$fresh/index", "doc", idType =
        org.apache.spark.sql.types.StringType)
    assert(stringIds.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("doc", org.apache.spark.sql.types.StringType)))
    assert(stringIds.count() == 0)
  }

  test("filteredTopKFromIndex: predicate respected, all-cells = exact pre-filter, fences compose, auto-probe serves") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("vec_index_filtered").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.appendBatch(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)
    val pred = col("label").isin(2, 4, 6)
    val allowedIds = e.filter(pred).select(col("vec_id"))
    val allowed = allowedIds.collect().map(_.getLong(0)).toSet

    // every served neighbor satisfies the predicate
    val served = VectorIndexStream.filteredTopKFromIndex(
      spark, idx, q, "vec_id", "embedding", allowedIds, k = 3, nProbe = 2)
    assert(served.collect().forall(r => allowed(r.getLong(2))))
    // the filter does NOT cost the probe its static pruning: the
    // probed-cell literal IN still lands in PartitionFilters
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
      .findFirstIn(plan).isDefined, plan)
    // probing every cell makes the served post-filter EXACT: equal to
    // the inline pre-filter over the same corpus (store holds all ids)
    val all8 = topk(VectorIndexStream.filteredTopKFromIndex(
      spark, idx, q, "vec_id", "embedding", allowedIds, k = 3, nProbe = 8))
    val exact = topk(Similarity.filteredTopK(
      e, q, "vec_id", "embedding", pred, k = 3))
    assert(all8 == exact)
    // fenced at the seed: equal to the inline pre-filter over evens
    val fenced = topk(VectorIndexStream.filteredTopKFromIndex(
      spark, idx, q, "vec_id", "embedding", allowedIds, k = 3, nProbe = 8,
      beforeBatch = 0L))
    val exactSeed = topk(Similarity.filteredTopK(
      e.filter(col("vec_id") % 2 === 0), q, "vec_id", "embedding", pred, k = 3))
    assert(fenced == exactSeed)
    assert(fenced != all8)
    // auto-probe: sharp predicate, candidates floor met, all allowed
    val sharpIds = e.filter(col("label") === 4).select(col("vec_id"))
    val sharpAllowed = sharpIds.collect().map(_.getLong(0)).toSet
    val auto = VectorIndexStream.filteredTopKFromIndex(
      spark, idx, q, "vec_id", "embedding", sharpIds, k = 3,
      minCandidates = 20L)
    val autoRows = auto.collect()
    assert(autoRows.forall(r => sharpAllowed(r.getLong(2))))
    // every query still gets a full top-3 (the floor guarantees >= 20
    // allowed candidates per probe set, structurally more than k)
    val perQuery = autoRows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ == 3), perQuery.toMap.toString)
  }

  test("fsck composes with purge: a purged store classifies clean and quarantines nothing") {
    // verifyIndex classifies against a WRITING STREAM's checkpoint;
    // purgeTombstones rewrites history OUTSIDE any stream (everything
    // folds into batch=-1, which fsck treats as backfill domain and
    // never flags) — composed, the purged store must read as healthy:
    // nothing committed/pending/orphaned, nothing quarantined, serving
    // unchanged. The two maintenance paths had never been composed.
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("vec_purge_fsck").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Array[Float])]
    val sq = VectorIndexStream.indexStreamTo(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, s"$dir/ckpt")().start()
    try {
      val odd = e.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding").as[(Long, Array[Float])]
        .collect().toSeq
      in.addData(odd: _*); sq.processAllAvailable()
    } finally sq.stop()
    // sanity: before purge the streamed batch classifies as committed
    val pre = VectorIndexStream.verifyIndex(spark, idx, s"$dir/ckpt")
    assert(pre.committed == Seq(0L), pre.toString)
    VectorIndexStream.deleteBatch(spark, idx,
      Seq(11L, 23L, 42L).toDF("vec_id"), "vec_id", batchId = 1L)
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    val post = VectorIndexStream.verifyIndex(spark, idx, s"$dir/ckpt")
    assert(post.committed.isEmpty && post.pending.isEmpty &&
      post.orphans.isEmpty, post.toString)
    assert(VectorIndexStream.quarantineIndexOrphans(spark, idx, s"$dir/ckpt").isEmpty)
    val served = topk(VectorIndexStream.topKFromIndex(
      spark, idx, q, "vec_id", "embedding", k = 3))
    assert(served.nonEmpty)
    assert(Seq(11L, 23L, 42L).forall(id => !served.exists(_._3 == id)))
  }

  test("deleteStreamTo: each micro-batch tombstones under its own batch id") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_index_delstream").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(e, "vec_id", "embedding", idx, nLists = 8)
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val q = VectorIndexStream.deleteStreamTo(
      in.toDF().toDF("vec_id"), idx, s"$dir/cp", "vec_id").start()
    try {
      in.addData(3L, 5L)
      q.processAllAvailable()
      in.addData(5L, 9L) // overlap dedups in the live set
      q.processAllAvailable()
      val live = VectorIndexStream.liveTombstones(spark, idx, "vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(live == Set(3L, 5L, 9L))
      // two tombstone batch partitions on disk, one per micro-batch
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val parts = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones"))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).sorted
      assert(parts.toSeq == Seq("batch=0", "batch=1"), parts.toSeq.toString)
    } finally q.stop()
  }

  test("filteredTopKFromIndex on every codec: allowed=all == unfiltered serve, " +
      "predicate and deletes respected, auto floor fills top-k, pruning retained") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val allIds = e.select(col("vec_id"))
    val pred = col("label").isin(2, 4, 6)
    val allowedIds = e.filter(pred).select(col("vec_id"))
    val allowed = allowedIds.collect().map(_.getLong(0)).toSet
    val sharpIds = e.filter(col("label") === 4).select(col("vec_id"))
    val sharpAllowed = sharpIds.collect().map(_.getLong(0)).toSet
    val spark2 = spark
    import spark2.implicits._

    for (codec <- codecs) {
      val idx = java.nio.file.Files.createTempDirectory("vec_index_qfilt").toString + "/index"
      VectorIndexStream.seedIndex(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
        nLists = 8, codec = codec)
      VectorIndexStream.appendBatch(
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", idx, 0L)

      // allowed = every id, no excludes -> EXACTLY the unfiltered serve
      // (the admission pipeline must be a pure restriction, never a
      // re-ranking), at both nProbe depths
      for (np <- Seq(1, 2)) {
        assert(ordered(VectorIndexStream.filteredTopKFromIndex(
          spark, idx, q, "vec_id", "embedding", allIds, k = 3, nProbe = np)) ==
          ordered(VectorIndexStream.topKFromIndex(
            spark, idx, q, "vec_id", "embedding", k = 3, nProbe = np)), codec)
      }

      // predicate respected + the probe keeps its static cell pruning
      val served = VectorIndexStream.filteredTopKFromIndex(
        spark, idx, q, "vec_id", "embedding", allowedIds, k = 3, nProbe = 2)
      assert(served.collect().forall(r => allowed(r.getLong(2))), codec)
      assert("PartitionFilters: \\[[^\\]]*cell[^\\]]* IN \\(".r
        .findFirstIn(served.queryExecution.executedPlan.toString).isDefined, codec)

      // delete composition: a tombstoned id vanishes from the ranking and
      // the next-best servable payload fills the slot (never a short top-k)
      val victim = served.collect().map(_.getLong(2)).head
      VectorIndexStream.deleteBatch(spark, idx,
        Seq(victim).toDF("vec_id"), "vec_id", batchId = 1L)
      val dead = Some(VectorIndexStream.deadIds(spark, idx, "vec_id"))
      val afterDel = VectorIndexStream.filteredTopKFromIndex(
        spark, idx, q, "vec_id", "embedding", allowedIds, k = 3, nProbe = 2,
        excludeIds = dead).collect()
      assert(afterDel.forall(_.getLong(2) != victim), codec)
      assert(afterDel.groupBy(_.getLong(0)).values.forall(_.length == 3), codec)

      // auto floor: every query serves a full top-3 of allowed candidates
      // under the sharp predicate, with and without a takedown list
      for (ex <- Seq(None, dead)) {
        val rs = VectorIndexStream.filteredTopKFromIndex(
          spark, idx, q, "vec_id", "embedding", sharpIds, k = 3,
          minCandidates = 20L, excludeIds = ex).collect()
        assert(rs.forall(r => sharpAllowed(r.getLong(2))), codec)
        assert(rs.groupBy(_.getLong(0)).values.forall(_.length == 3), codec)
      }
    }
  }

  test("occupancyDriftReport: in-distribution batches stay quiet, a drifted " +
      "batch flags reseed, shares are exact integers") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val odds = e.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("vec_drift").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
    VectorIndexStream.appendBatch(
      odds.withColumn("embedding", transform(col("embedding"), x => abs(x))),
      "vec_id", "embedding", idx, 1L)

    val rows = VectorIndexStream.occupancyDriftReport(spark, idx).collect()
    val byBatch = rows.groupBy(_.getLong(0))
    // the flag is per BATCH (constant across its cells)
    def flag(b: Long): Boolean = {
      val fs = byBatch(b).map(_.getBoolean(6)).distinct
      assert(fs.length == 1); fs.head
    }
    assert(!flag(-1L) && !flag(0L) && flag(1L),
      rows.map(r => (r.getLong(0), r.getLong(4), r.getBoolean(6))).toSeq.toString)
    // shares are exact integer millis: each batch's shares sum close to
    // 1000 (floor division loses at most #cells-1)
    byBatch.foreach { case (_, rs) =>
      val s = rs.map(_.getLong(3)).sum
      assert(s > 1000 - rs.length && s <= 1000, s.toString)
    }
    // per-batch vector counts match what was appended
    assert(byBatch(0L).map(_.getLong(2)).sum == odds.count())
    assert(byBatch(1L).map(_.getLong(2)).sum == odds.count())
    // a fence hides the drifted batch from the report entirely
    val fenced = VectorIndexStream.occupancyDriftReport(spark, idx,
      beforeBatch = 1L).collect()
    assert(fenced.map(_.getLong(0)).toSet == Set(-1L, 0L))
  }

  test("sq8BoundaryReport: in-range batches stay at the seed's boundary " +
      "baseline, out-of-range values flag regrid") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val odds = e.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("vec_clamp").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8,
      codec = VectorCodec.Sq8)
    VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
    VectorIndexStream.appendBatch(
      odds.withColumn("embedding", transform(col("embedding"), x => x + x)),
      "vec_id", "embedding", idx, 1L)
    val rows = VectorIndexStream.sq8BoundaryReport(spark, idx).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the seed's own min/max rows put SOME codes at the boundary —
    // nonzero baseline, which is the point of baselining on the seed
    assert(rows(-1L).getLong(3) + rows(-1L).getLong(4) > 0)
    assert(!rows(-1L).getBoolean(7) && !rows(0L).getBoolean(7))
    assert(rows(1L).getBoolean(7), rows(1L).toString)
    // doubled values clamp MUCH harder than the in-range batch
    assert(rows(1L).getLong(5) > 10L * rows(0L).getLong(5).max(1L))
    // code counts: every stored vector contributes its full width
    assert(rows(0L).getLong(2) == odds.count() * 64L)
  }

  test("rebuildIndex: retrains on the live takedown-subtracted corpus; " +
      "refuses in-place and quantized rebuilds") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val odds = e.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("vec_rebuild").toString
    val idx = s"$dir/index"; val idx2 = s"$dir/rebuilt"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
    VectorIndexStream.appendBatch(
      odds.withColumn("embedding", transform(col("embedding"), x => abs(x))),
      "vec_id", "embedding", idx, 1L)
    VectorIndexStream.deleteBatch(spark, idx,
      e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
      "vec_id", batchId = 2L)

    intercept[IllegalArgumentException] {
      VectorIndexStream.rebuildIndex(spark, idx, idx, "vec_id", "embedding")
    }
    VectorIndexStream.rebuildIndex(spark, idx, idx2, "vec_id", "embedding",
      nLists = 8)
    // the rebuilt store holds exactly the live ids: deleted ids gone,
    // each odd id once (its latest, drifted vector)
    val rebuilt = VectorIndexStream.readCells(spark, idx2)
    val ids = rebuilt.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(!ids.exists(_ % 10 == 5))
    assert(ids.toSet == e.filter(col("vec_id") % 10 =!= 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet)
    // and it is byte-equivalent (in serving) to seeding fresh from the
    // live frame by hand: same centroids, same assignments
    val byHand = s"$dir/byhand"
    val live = e.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
      .unionByName(odds.filter(col("vec_id") % 10 =!= 5)
        .withColumn("embedding", transform(col("embedding"), x => abs(x)))
        .select(col("vec_id"), col("embedding")))
    VectorIndexStream.seedIndex(live, "vec_id", "embedding", byHand, nLists = 8)
    val q = e.filter(col("vec_id") % 50 === 0)
    def served(d: String) = VectorIndexStream.topKFromIndex(
        spark, d, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served(idx2) == served(byHand))
    // the old store is untouched (as-of reads keep working)
    assert(VectorIndexStream.readCells(spark, idx).count() > rebuilt.count())

    // a quantized store refuses the rebuild (codes, not vectors)
    val sq8 = s"$dir/sq8"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", sq8, nLists = 8,
      codec = VectorCodec.Sq8)
    val refused = intercept[IllegalStateException] {
      VectorIndexStream.rebuildIndex(spark, sq8, s"$dir/sq8b", "vec_id", "embedding")
    }
    assert(refused.getMessage.contains("codes, not vectors"), refused.getMessage)
  }

  /** Rebuilds a drifted, takedown-carrying store of `codec` from the
    * source corpus: live ids once each, serving parity with a fresh seed
    * over the live corpus, the old store untouched, missing live ids
    * refused; for SQ8 the boundary gauge fires before and clears after. */
  private def sourceRebuild(codec: VectorCodec): Unit = {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    val doubledOdds =
      odds.withColumn("embedding", transform(col("embedding"), x => x + x))
    // the source corpus is the upstream truth: evens original, odds at
    // their latest (doubled) values
    val source = evens.select(col("vec_id"), col("embedding"))
      .unionByName(doubledOdds.select(col("vec_id"), col("embedding")))
    val live = source.filter(col("vec_id") % 10 =!= 5)
    val q = e.filter(col("vec_id") % 50 === 0)
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

    val dir = java.nio.file.Files.createTempDirectory("source_rebuild").toString
    val idx = s"$dir/index"; val idx2 = s"$dir/rebuilt"
    // q277's drift fixture + a takedown: artifacts pinned on evens, odd
    // batch 0 in-range, doubled odd batch 1 escapes the SQ8 grid
    VectorIndexStream.seedIndex(evens, "vec_id", "embedding", idx,
      nLists = 8, codec = codec)
    VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
    VectorIndexStream.appendBatch(doubledOdds, "vec_id", "embedding", idx, 1L)
    VectorIndexStream.deleteBatch(spark, idx,
      e.filter(col("vec_id") % 10 === 5).select(col("vec_id")),
      "vec_id", batchId = 2L)
    if (codec == VectorCodec.Sq8) {
      val drifted = VectorIndexStream.sq8BoundaryReport(spark, idx)
        .filter(col("batch") === 1L).collect()
      assert(drifted.length == 1 &&
        drifted(0).getAs[Boolean]("regrid_recommended"))
    }

    intercept[IllegalArgumentException] {
      VectorIndexStream.rebuildIndex(spark, idx, idx, "vec_id", "embedding",
        sourceCorpus = Some(source))
    }
    VectorIndexStream.rebuildIndex(spark, idx, idx2, "vec_id", "embedding",
      nLists = 8, sourceCorpus = Some(source))

    // the rebuilt store keeps the codec and holds exactly the live ids,
    // once each
    val ids = VectorIndexStream.readCells(spark, idx2)
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length && !ids.exists(_ % 10 == 5), codec)
    assert(ids.toSet == live.select("vec_id").collect().map(_.getLong(0)).toSet)
    // serving parity with a by-hand fresh seed over the live corpus:
    // every artifact retrained on it
    val byHand = s"$dir/byhand"
    VectorIndexStream.seedIndex(live, "vec_id", "embedding", byHand,
      nLists = 8, codec = codec)
    def served(d: String) = rows(VectorIndexStream.topKFromIndex(
      spark, d, q, "vec_id", "embedding", k = 3))
    assert(served(idx2) == served(byHand), codec)
    // the old store is untouched (as-of generation for pinned reads)
    assert(VectorIndexStream.readCells(spark, idx).count() >
      VectorIndexStream.readCells(spark, idx2).count(), codec)
    if (codec == VectorCodec.Sq8) {
      // the gauge CLEARS: a re-encoded batch of the same drifted
      // distribution reads at the retrained grid's own baseline
      VectorIndexStream.appendBatch(live, "vec_id", "embedding", idx2, 0L)
      val cleared = VectorIndexStream.sq8BoundaryReport(spark, idx2)
        .filter(col("batch") === 0L).collect()
      assert(cleared.length == 1 &&
        !cleared(0).getAs[Boolean]("regrid_recommended"), cleared.mkString)
    }

    // a live id missing from the source refuses loudly at execution —
    // the rebuild must never silently drop a vector the store serves
    val ex = intercept[Exception] {
      VectorIndexStream.rebuildIndex(spark, idx, s"$dir/partial",
        "vec_id", "embedding", sourceCorpus = Some(source.filter(col("vec_id") =!= 1L)))
    }
    assert(rootMsg(ex).contains("missing from the source corpus"), rootMsg(ex))
  }

  test("rebuildIndex from the source corpus, flat store: live ids once each, " +
      "serving parity with a fresh seed, old store untouched, missing live ids refuse") {
    sourceRebuild(VectorCodec.Flat)
  }

  test("rebuildSq8Index: re-ingests the live corpus from the SOURCE, " +
      "retrains the grid, clears the boundary gauge; missing live ids refuse") {
    sourceRebuild(VectorCodec.Sq8)
  }

  test("rebuildPqIndex: source re-ingest retrains grid AND codebook; " +
      "serving parity with a fresh seed over the live corpus") {
    sourceRebuild(VectorCodec.Pq())
  }

  test("a recovered crash's stamps-only tombstone dir reads as NO deletes " +
      "and the next purge retires the debris") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("vec_ts_debris").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx, nLists = 8)
    VectorIndexStream.deleteBatch(
      spark, idx, Seq(2L, 4L).toDF("vec_id"), "vec_id", batchId = 0L)
    assert(VectorIndexStream.deadIds(spark, idx, "vec_id").count() == 2L)
    // manufacture the post-recovery state: the purge journal's per-batch
    // P lines deleted every tombstone batch dir, but the sub-store's
    // stamp directory survived — `_tombstones/` exists with NO data
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_tombstones/batch=0"), true)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    // every reader treats it as a store with no deletes — never a
    // parquet schema-inference crash
    assert(VectorIndexStream.deadIds(spark, idx, "vec_id").count() == 0L)
    assert(VectorIndexStream.liveTombstones(spark, idx, "vec_id").count() == 0L)
    assert(StoreMaintenance.planVector(spark, idx, "vec_id", 10L, 10L)
      .tombstoneKeys == 0L)
    val served = VectorIndexStream.topKFromIndex(spark, idx,
      e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 1)
    assert(served.count() > 0)
    // and the documented recovery — re-run the purge — retires the
    // debris instead of returning with it in place
    VectorIndexStream.purgeTombstones(spark, idx, "vec_id")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
  }

  test("pqCodeUsageReport: in-distribution batches stay at the seed's " +
      "spread, a collapsed batch concentrates to one code and flags") {
    val spark2 = spark
    import spark2.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val odds = e.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("pq_code_drift").toString
    val idx = s"$dir/index"
    VectorIndexStream.seedIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx,
      nLists = 8, codec = VectorCodec.Pq(m = 8, kCent = 16))
    VectorIndexStream.appendBatch(odds, "vec_id", "embedding", idx, 0L)
    VectorIndexStream.appendBatch(
      odds.withColumn("embedding",
        transform(col("embedding"), _ => lit(0.0f))),
      "vec_id", "embedding", idx, 1L)
    val rep = VectorIndexStream.pqCodeUsageReport(spark, idx).collect()
    // 3 batches x m=8 subspaces
    assert(rep.length == 24, rep.length)
    val byBatch = rep.groupBy(_.getAs[Long]("batch"))
    // the seed's own share IS the baseline; the in-distribution batch
    // stays under the 2x factor
    assert(byBatch(0L).forall(!_.getAs[Boolean]("recode_recommended")))
    // the collapsed batch concentrates every subspace to ONE code
    assert(byBatch(1L).forall(r =>
      r.getAs[Long]("top_share_millis") == 1000L &&
        r.getAs[Boolean]("recode_recommended")))
    // fenced before the collapse: the report never sees batch 1
    val fenced = VectorIndexStream.pqCodeUsageReport(spark, idx,
      beforeBatch = 1L).collect()
    assert(fenced.forall(_.getAs[Long]("batch") <= 0L) &&
      fenced.forall(!_.getAs[Boolean]("recode_recommended")))
    // a store whose seed is gone refuses the gauge (no silent "no
    // drift" against a missing baseline)
    VectorIndexStream.expireIndex(spark, idx, keepFromBatch = 0L,
      dropSeed = true)
    val ex = intercept[Exception] {
      VectorIndexStream.pqCodeUsageReport(spark, idx).collect()
    }
    def rootMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(rootMsg(ex).contains("no seed partition"), rootMsg(ex))
  }


  /** A 32-wide vector against a 64-wide index must fail loudly: the
    * vector kernels take the minimum of the two lengths, so it would
    * otherwise rank on a truncated prefix. */
  private def assertWidthRefused(what: String)(f: => Any): Unit = {
    val ex = intercept[Exception](f)
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(chain.exists(_.contains("does not match the 64-dimension grid")),
      s"$what: ${chain.mkString(" | ")}")
  }

  /** A fifth of the fixture: enough for every codec's artifacts. */
  private def sample(e: DataFrame): DataFrame = e.filter(col("vec_id") % 5 === 0)

  private def narrowVectors: DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    Seq((9001L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding")
  }

  test("every codec's streamed append refuses a vector of the wrong width") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    for (codec <- codecs) {
      val idx = java.nio.file.Files.createTempDirectory("vec_width_append").toString + "/index"
      VectorIndexStream.seedIndex(sample(e), "vec_id", "embedding", idx,
        nLists = 8, codec = codec)
      assertWidthRefused(s"$codec append") {
        VectorIndexStream.appendBatch(narrowVectors, "vec_id", "embedding", idx, 0L)
      }
    }
  }

  test("every codec's streamed probes refuse a query of the wrong width") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    for (codec <- codecs) {
      val idx = java.nio.file.Files.createTempDirectory("vec_width_probe").toString + "/index"
      VectorIndexStream.seedIndex(sample(e), "vec_id", "embedding", idx,
        nLists = 8, codec = codec)
      assertWidthRefused(s"$codec topKFromIndex") {
        VectorIndexStream.topKFromIndex(
          spark, idx, narrowVectors, "vec_id", "embedding", k = 3).collect()
      }
      assertWidthRefused(s"$codec filteredTopKFromIndex") {
        VectorIndexStream.filteredTopKFromIndex(spark, idx, narrowVectors,
          "vec_id", "embedding", sample(e).select(col("vec_id")), k = 3).collect()
      }
    }
  }

  test("every codec's written-index reader refuses a query of the wrong width") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    for (codec <- codecs) {
      val out = java.nio.file.Files.createTempDirectory("ivf_width").toString
      graft.sinks.CorpusSink.writeIvfIndex(sample(e), "vec_id", "embedding", out,
        nLists = 8, codec = codec)
      assertWidthRefused(s"$codec ivfTopKFromIndex") {
        Similarity.ivfTopKFromIndex(
          spark, out, narrowVectors, "vec_id", "embedding", k = 3).collect()
      }
    }
  }
}
