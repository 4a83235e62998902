package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.VectorCodec

/** The layout CONTRACT a downstream reader depends on: directory
  * pruning, file caps, shuffle-free bucketed joins, cell-pruned ANN
  * reads. */
class CorpusSinkSpec extends SparkSpec {

  private def tmp(name: String) =
    Files.createTempDirectory(name).toString

  test("writePartitioned: hive dirs per key, file cap honored, scan prunes") {
    val d = graft.Tables.table(spark, sf001, "documents")
    val out = tmp("corpus_part")
    CorpusSink.writePartitioned(d, out, "source", "doc_id", maxRecordsPerFile = 2)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("source=")))
    // file cap: no parquet file carries more than 2 records
    val firstDir = new java.io.File(out, dirs.head)
    val files = firstDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 2, f.getName)
    }
    // a filter on the partition column reaches the scan as partition pruning
    val back = spark.read.parquet(out).filter(col("source") === dirs.head.stripPrefix("source="))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(source"), scan)
    assert(back.count() == d.filter(col("source") === dirs.head.stripPrefix("source=")).count())
  }

  test("writeBucketed: join on the bucket key plans with NO shuffle on the scan side") {
    val spark2 = spark
    import spark2.implicits._
    val d = graft.Tables.table(spark, sf001, "documents").select("doc_id", "text")
    CorpusSink.writeBucketed(d, "corpus_bucketed_spec", "doc_id", 4, "doc_id")
    try {
      val t = spark.table("corpus_bucketed_spec")
      val probe = (0L until 50L).map(i => (i, i)).toDF("doc_id", "v")
        .repartition(4, col("doc_id"))
      val joined = t.join(probe.hint("merge"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan)
      // only the probe side may shuffle on the join key — the bucketed
      // scan satisfies the join's distribution from its layout
      val exchanges = plan.split("\n").count(_.trim.startsWith("+- Exchange hashpartitioning(doc_id"))
      assert(exchanges <= 1, s"bucketed side reshuffled:\n$plan")
      assert(joined.count() == 50)
    } finally {
      spark.sql("DROP TABLE IF EXISTS corpus_bucketed_spec")
    }
  }

  test("writeIvfCells: one directory per cell; a 2-cell probe reads only those dirs") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val assigned = graft.similarity.Similarity
      .ivfAssignCells(e, "vec_id", "embedding", nLists = 4)
    val out = tmp("ivf_cells")
    CorpusSink.writeIvfCells(assigned, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("cell=")) && dirs.length >= 2)
    // cells are centroid ids; probe the first two actual cells
    val probeCells = dirs.take(2).map(_.stripPrefix("cell=").toLong)
    val probe = spark.read.parquet(out).filter(col("cell").isin(probeCells: _*))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // hive partition dirs type-infer as int; normalize before comparing
    assert(probe.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == probeCells.toSet)
  }

  test("writeIvfPqIndex + ivfPqTopKFromIndex: q77's ranking from stored artifacts only") {
    val sim = graft.similarity.Similarity
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val out = tmp("ivf_pq_index")
    CorpusSink.writeIvfIndex(e, "vec_id", "embedding", out, codec = VectorCodec.Pq())
    assert(Seq("codes", "centroids", "codebook", "ranges")
      .forall(d => new java.io.File(s"$out/$d").isDirectory))
    val cellDirs = new java.io.File(s"$out/codes").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(cellDirs.nonEmpty && cellDirs.forall(_.startsWith("cell=")))

    // make the query side a LOCAL frame so the probe plan's ONLY file
    // scans are the index artifacts — proving corpus vectors are never
    // re-read is the point of the layout
    val spark2 = spark
    import spark2.implicits._
    val qLocal = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")

    val served = sim.ivfTopKFromIndex(spark, out, qLocal, "vec_id", "embedding", k = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert(plan.contains("PartitionFilters: [cell"), plan)

    // identical ranking to the inline operator (q77's semantics)
    val q = e.filter(col("vec_id") % 50 === 0)
    val inline = sim.ivfPqTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = served
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == inline)

    // multi-probe rides the same written layout
    val servedMp = sim.ivfTopKFromIndex(
        spark, out, qLocal, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val inlineMp = sim.ivfPqTopK(e, q, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(servedMp == inlineMp)
  }

  test("writeIvfFlatIndex + ivfFlatTopKFromIndex: q51's ranking, probed dirs only") {
    val sim = graft.similarity.Similarity
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val out = tmp("ivf_flat_index")
    CorpusSink.writeIvfIndex(e, "vec_id", "embedding", out)
    val cellDirs = new java.io.File(s"$out/cells").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(cellDirs.nonEmpty && cellDirs.forall(_.startsWith("cell=")))

    val spark2 = spark
    import spark2.implicits._
    val qLocal = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")

    val served = sim.ivfTopKFromIndex(spark, out, qLocal, "vec_id", "embedding", k = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert(plan.contains("PartitionFilters: [cell"), plan)

    val q = e.filter(col("vec_id") % 50 === 0)
    val inline = sim.ivfDeterministicTopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = served.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == inline)

    val servedMp = sim.ivfTopKFromIndex(
        spark, out, qLocal, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inlineMp = sim.ivfMultiProbeTopK(e, q, "vec_id", "embedding",
        k = 3, nLists = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(servedMp == inlineMp)
  }

  test("writeIvfSq8Index + ivfSq8TopKFromIndex: q71/q90's ranking, probed dirs only") {
    val sim = graft.similarity.Similarity
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val out = tmp("ivf_sq8_index")
    CorpusSink.writeIvfIndex(e, "vec_id", "embedding", out, codec = VectorCodec.Sq8)
    val cellDirs = new java.io.File(s"$out/cells").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(cellDirs.nonEmpty && cellDirs.forall(_.startsWith("cell=")))

    val spark2 = spark
    import spark2.implicits._
    val qLocal = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
      .toDF("vec_id", "embedding")

    val served = sim.ivfTopKFromIndex(spark, out, qLocal, "vec_id", "embedding", k = 3)
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"), plan)
    assert(plan.contains("PartitionFilters: [cell"), plan)

    val q = e.filter(col("vec_id") % 50 === 0)
    val inline = sim.ivfSq8TopK(e, q, "vec_id", "embedding", k = 3, nLists = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = served
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == inline)

    val servedMp = sim.ivfTopKFromIndex(
        spark, out, qLocal, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val inlineMp = sim.ivfSq8TopK(e, q, "vec_id", "embedding",
        k = 3, nLists = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(servedMp == inlineMp)
  }

  test("stored-index recall tuning: recall vs brute force is non-decreasing in nProbe (q98's loop)") {
    val sim = graft.similarity.Similarity
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val out = tmp("ivf_pq_recall")
    CorpusSink.writeIvfIndex(e, "vec_id", "embedding", out, codec = VectorCodec.Pq())
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = sim.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .persist()
    try {
      // the serving-path tuning loop q98 verifies one point of: widen
      // nProbe over the SAME written artifacts, recall must not drop
      val recallAt = (nProbe: Int) => {
        val rep = sim.recallReport(exact,
          sim.ivfTopKFromIndex(spark, out, q, "vec_id", "embedding",
            k = 3, nProbe = nProbe))
          .agg(sum("n_hit").cast("double") / sum("n_exact")).collect()(0).getDouble(0)
        rep
      }
      val r1 = recallAt(1); val r2 = recallAt(2); val r4 = recallAt(4)
      assert(r1 <= r2 && r2 <= r4, s"recall not monotone: $r1, $r2, $r4")
      assert(r4 > 0.0)
    } finally exact.unpersist()
  }

  test("writePqIndex: codes/codebook/ranges layout, codes agree with pqEncode") {
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val out = tmp("pq_index")
    CorpusSink.writePqIndex(e, "vec_id", "embedding", out)
    assert(Seq("codes", "codebook", "ranges")
      .forall(d => new java.io.File(s"$out/$d").isDirectory))

    val codes = spark.read.parquet(s"$out/codes")
    assert(codes.count() == e.count())
    assert(codes.filter(size(col("codes")) =!= 8).count() == 0)

    val cb = spark.read.parquet(s"$out/codebook")
    assert(cb.count() == 8 * 16)
    val ranges = spark.read.parquet(s"$out/ranges")
    assert(ranges.count() == 64)

    // stored codes are exactly the live encoder's output
    val sim = graft.similarity.Similarity
    val (mns, mxs) = sim.sq8Ranges(e, "embedding")
    val live = sim.pqEncode(e, "vec_id", "embedding",
        sim.pqCodebook(e, "vec_id", "embedding", 8, 64, 16, mns, mxs), 8, 64, mns, mxs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val stored = codes.select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    assert(stored == live)
  }

  test("z-ordered layout: secondary-column bands prune files a linear sort cannot") {
    val tmp = java.nio.file.Files.createTempDirectory("zorder").toString
    val li = graft.Tables.table(spark, sf001, "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber")
    CorpusSink.writeZOrdered(li, "l_orderkey", "l_partkey", s"$tmp/z",
      bits = 8, nFiles = 8)
    // the linear contender: range-sorted by the LEAD column only
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/linear")

    // no row lost or duplicated in the rewrite
    assert(spark.read.parquet(s"$tmp/z").count() == li.count())

    // per-file stats — exactly what parquet row-group pruning consults:
    // a file must be read iff its [min,max] box intersects the query box
    def statsOf(path: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("l_orderkey")), max(col("l_orderkey")),
          min(col("l_partkey")), max(col("l_partkey")))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // band selective ONLY in the secondary column: every linear file
    // spans all partkeys, so linear prunes nothing; z-tiles localize it
    val (bLo, bHi) = (10L, 40L)
    def touched(stats: Array[(Long, Long, Long, Long)]): Int =
      stats.count { case (_, _, pMin, pMax) => pMin <= bHi && bLo <= pMax }
    val zStats = statsOf(s"$tmp/z")
    val linStats = statsOf(s"$tmp/linear")
    assert(zStats.length == 8 && linStats.length == 8)
    assert(touched(linStats) == 8,
      s"test premise broken: linear layout should span all partkeys per file")
    assert(touched(zStats) * 2 <= touched(linStats),
      s"z-order pruning advantage missing: z=${touched(zStats)} " +
        s"linear=${touched(linStats)} of 8 files for partkey band [$bLo,$bHi]")

    // and the layout answers exactly like the source table
    val viaZ = spark.read.parquet(s"$tmp/z")
      .filter(col("l_partkey").between(bLo, bHi))
      .select("l_orderkey", "l_partkey", "l_linenumber")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = li.filter(col("l_partkey").between(bLo, bHi))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaZ == direct)
  }
}
