package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.similarity.VectorCodec

/** Write-time layout for corpus tables (the sink half of the 100 TB
  * story): how survivors of the cleaning/curation passes should land
  * on storage so DOWNSTREAM reads prune instead of scan.
  *
  *  - `writePartitioned`: hive-style directory partitioning on a
  *    low-cardinality column (source, language, date). Readers filtering
  *    on it get partition PRUNING (directories never opened); rows are
  *    sorted within files on a secondary key so min/max stats make
  *    row-group skipping effective. `maxRecordsPerFile` bounds file
  *    size without an extra repartition pass.
  *  - `writeBucketed`: bucket-by on a join key (doc id, fingerprint)
  *    into a table readable with NO shuffle on that key — the layout
  *    [[graft.operators.ScaleJoins.bucketedJoin]] consumes.
  *  - `writeIvfCells`: the ANN-serving layout — embeddings partitioned
  *    by their IVF cell id, so a probe touching nProbe cells reads
  *    exactly those directories (the write-time partition key the
  *    [[graft.similarity.Similarity.ivfTopK]] plan calls for);
  *    `writeIvfIndex` adds the pinned quantizer and a payload codec.
  *
  * All three are thin, deliberately: the point is the layout contract,
  * captured in specs that assert the directory/file structure a reader
  * depends on, not wrapper cleverness.
  */
object CorpusSink {

  /** Z-ORDERED write (Delta/Iceberg OPTIMIZE ZORDER, expressed as
    * plain codegen'd expressions + repartitionByRange): rows land
    * sorted by the Morton interleave of two range-bucketed columns,
    * so every file covers a localized 2-D TILE of (colA, colB) space
    * and parquet min/max stats prune boxes selective in EITHER
    * column — a linear sort prunes only its lead column; the
    * secondary one spans every file (the advantage is spec-asserted
    * by counting stats-intersecting files for a secondary-column
    * band). The `z` column is kept in the files: readers can range-
    * filter on it directly, and the q129 oracle recomputes it
    * bit-for-bit. Column min/max are one bounded driver-side agg. */
  def writeZOrdered(
      df: DataFrame, colA: String, colB: String, path: String,
      bits: Int = 8, nFiles: Int = 8): Unit = {
    import graft.functions.ZOrder
    val s = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).collect()(0)
    if (s.isNullAt(0)) {
      // empty input: write an empty (but schema-complete) layout
      // instead of NPE-ing on null min/max
      df.withColumn("z", lit(0L))
        .write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val (aMin, aMax, bMin, bMax) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3))
    val z = ZOrder.zValue(
      col(colA), aMin, ZOrder.shiftFor(aMax - aMin + 1, bits),
      col(colB), bMin, ZOrder.shiftFor(bMax - bMin + 1, bits), bits)
    df.withColumn("z", z)
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** Partition-pruned, sorted-within-files corpus write. */
  def writePartitioned(
      df: DataFrame, path: String,
      partitionCol: String, sortCol: String,
      maxRecordsPerFile: Int = 5000000): Unit =
    df.repartition(col(partitionCol))
      .sortWithinPartitions(col(partitionCol), col(sortCol))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Bucketed table write (requires a table name — bucketing is a
    * metastore contract, not just a directory layout). */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCol: String, nBuckets: Int, sortCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(table)

  /** ANN-serving layout: one directory per IVF cell. `assigned` is the
    * cell-assigned embedding frame
    * ([[graft.similarity.Similarity.ivfAssignCells]] output — id, cell
    * and vector together), written directly: no join back to the
    * source, which would both re-execute the embedding lineage and
    * (carrying its own vector column) collide with the assignment's. */
  def writeIvfCells(
      assigned: DataFrame, path: String, cellCol: String = "cell"): Unit =
    assigned
      .repartition(col(cellCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(cellCol)
      .parquet(path)

  /** PQ-serving layout: the materialized index
    * [[graft.similarity.Similarity.pqTopK]]'s doc promises — encode
    * once at write time, search forever on codes.
    *
    *   `path/codes`    — one row per vector: (id, codes array<long>[m])
    *                     — m small ints instead of dim floats (~32x);
    *   `path/codebook` — (s, j, sub_vec), m x kCent rows;
    *   `path/ranges`   — (i, mn, mx), the SQ8 quantization ranges the
    *                     codebook distances were computed under.
    *
    * A query-time probe broadcasts its ADC lookup table built from
    * codebook + ranges and scans ONLY `codes` — the scan the 32x
    * compression exists for. Codebook and ranges are tiny global
    * artifacts written single-file for cheap driver loads. The vector
    * width is the corpus's (the ranges' length). */
  def writePqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      m: Int = 8, kCent: Int = 16): Unit = {
    import graft.similarity.Similarity
    val (mns, mxs) = Similarity.sq8Ranges(corpus, vecCol)
    val codebook = Similarity.pqCodebook(
      corpus, idCol, vecCol, m, mns.length, kCent, mns, mxs)
    packedCodes(corpus, idCol, vecCol, codebook, m, mns, mxs)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    writePqArtifacts(corpus, path, codebook, mns, mxs)
  }

  /** PQ + refine serving layout — Faiss's `IndexRefineFlat` persisted:
    * the [[writePqIndex]] artifacts plus `path/vecs`, a full-precision
    * (id, vec) flat store the refine stage re-scores from. Vectors are
    * range-clustered and sorted by id at write time so a shortlist's
    * literal id-IN probe prunes parquet row groups by min/max stats
    * instead of scanning the flat store. Storage is ~1.03x the flat
    * corpus (m code bytes per vector on top of it) buying a codes-only
    * first pass for every query batch —
    * [[graft.similarity.Similarity.pqRefinedTopKFromIndex]] probes it. */
  def writePqRefineIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      m: Int = 8, kCent: Int = 16): Unit = {
    writePqIndex(corpus, idCol, vecCol, path, m, kCent)
    corpus.select(col(idCol), col(vecCol))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/vecs")
  }

  /** IVF serving layout — the coarse quantizer plus one DIRECTORY per
    * cell, so a probe reads exactly its nProbe cell directories
    * (partition pruning instead of a corpus scan), with the payload the
    * `codec` ([[VectorCodec]]) stores per vector:
    *
    *   `path/cells/cell=N` — Flat: (id, vec), exact floats — the
    *                         serving point when recall matters more
    *                         than scan bytes; SQ8: (id, qv), each vector
    *                         quantized once under the global
    *                         per-dimension grid, a 4x smaller scan;
    *   `path/codes/cell=N` — PQ: (id, codes), m code bytes (32x);
    *   `path/centroids`    — the coarse quantizer (float, exact);
    *   `path/ranges`       — (i, mn, mx), the SQ8 grid (SQ8 and PQ);
    *   `path/codebook`     — the PQ codebook (PQ);
    *   `path/meta`         — version header naming the codec: (nLists)
    *                         Flat, (nLists, dim) SQ8, (nLists, m, dim,
    *                         kCent) PQ, dim read off the corpus.
    *
    * The artifacts are trained exactly as a streamed store's seed
    * ([[VectorCodec.train]]: one md5-ranked sample pass
    * for the centroids and the codebook sample), and the payload rides
    * the cell assignment's own per-id exchange as a single-pass column.
    * [[graft.similarity.Similarity.ivfTopKFromIndex]] answers top-k from
    * this layout alone — identical ranking to the inline
    * [[graft.similarity.Similarity.ivfDeterministicTopK]] / `ivfSq8TopK`
    * / `ivfPqTopK` by construction. */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nLists: Int = 8, codec: VectorCodec = VectorCodec.Flat): Unit = {
    val pinned = VectorCodec.train(codec, corpus, idCol, vecCol, nLists, None, path)
    VectorCodec.encodeCells(pinned, corpus, idCol, vecCol, path)
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$path/${VectorCodec.writtenCellsDir(codec)}")
  }

  /** One row per vector with its m codes packed into an array — the
    * stored form both PQ layouts share. The encode is a single-pass
    * codegen column ([[graft.similarity.Similarity.pqCodesColumn]],
    * same argmin and tie-break as the explode-join encode) over the
    * per-id dedup exchange, so the corpus reaches the writer in one
    * pass instead of paying the m-way explode plus two
    * re-aggregation shuffles. */
  private def packedCodes(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int,
      mns: Seq[Double], mxs: Seq[Double]): DataFrame = {
    import graft.similarity.Similarity
    val cb = Similarity.collectedCodebook(codebook, m)
    corpus.groupBy(col(idCol)).agg(first(col(vecCol)).as(vecCol))
      .select(col(idCol),
        Similarity.pqCodesColumn(
          graft.functions.Sq8Quantize.sq8Quantize(col(vecCol), mns, mxs),
          cb, mns.length).as("codes"))
  }

  private def writePqArtifacts(
      corpus: DataFrame, path: String, codebook: DataFrame,
      mns: Seq[Double], mxs: Seq[Double]): Unit = {
    val spark = corpus.sparkSession
    codebook.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebook")
    primeLocal(codebook, s"$path/codebook")
    import spark.implicits._
    val ranges = mns.indices.map(i => (i.toLong, mns(i), mxs(i)))
      .toDF("i", "mn", "mx")
    ranges.coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/ranges")
    primeLocal(ranges, s"$path/ranges")
  }

  /** Prime [[graft.streaming.ArtifactCache]] from a frame that is
    * already local (collect() on a LocalRelation runs no Spark job) —
    * write-then-probe queries skip the cold artifact load. */
  private def primeLocal(df: DataFrame, dir: String): Unit =
    graft.streaming.ArtifactCache.prime(
      df.sparkSession, dir, df.schema, df.collect())
}
