package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{IntArrayL2, Sq8Quantize, VectorFunctions}
import graft.streaming.{ArtifactCache, StoreLayout}

/** The payload half of an IVF index — Faiss's IndexIVF with pluggable
  * codes. Every vector index (a streamed
  * [[graft.streaming.VectorIndexStream]] store, a written
  * [[graft.sinks.CorpusSink]] index) is a coarse quantizer (the pinned
  * `centroids`, one directory per cell) plus a per-vector payload, and
  * the codec decides the payload:
  *
  *  - [[VectorCodec.Flat]]: the full-precision vector, ranked by exact
  *    cosine (descending);
  *  - [[VectorCodec.Sq8]]: 8-bit codes under the pinned per-dimension
  *    `ranges`, ranked by integer L2 — a 4x smaller scan;
  *  - [[VectorCodec.Pq]]: m code bytes under the pinned `ranges` and
  *    `codebook`, ranked by the ADC lookup-table distance — 32x.
  *
  * The index's `meta` header names its codec — (nLists) for Flat,
  * (nLists, dim) for SQ8, (nLists, m, dim, kCent) for PQ — so readers
  * and appenders recover it from the index; only a seed chooses one.
  * Every top-k runs the one probe skeleton [[topK]] over a codec.
  */
private[graft] sealed abstract class VectorCodec

private[graft] object VectorCodec {
  case object Flat extends VectorCodec
  case object Sq8 extends VectorCodec
  final case class Pq(m: Int = 8, kCent: Int = 16) extends VectorCodec

  /** The codec a meta header names. */
  def of(meta: Row): VectorCodec = {
    val fields = meta.schema.fieldNames.toSet
    if (fields("m")) Pq(meta.getAs[Long]("m").toInt, meta.getAs[Long]("kCent").toInt)
    else if (fields("dim")) Sq8
    else Flat
  }

  /** Where a WRITTEN index ([[graft.sinks.CorpusSink.writeIvfIndex]])
    * keeps its cell directories: the PQ layout predates the others and
    * keeps its codes under `codes/`. */
  def writtenCellsDir(codec: VectorCodec): String = codec match {
    case _: Pq => "codes"
    case _ => "cells"
  }

  /** A codec with its pinned artifacts in hand: the coarse centroids
    * (a local frame), the SQ8 grid and the PQ codebook where the codec
    * has them. `dim` is the stored vector width, read off the
    * centroids. */
  final case class Pinned(
      codec: VectorCodec, cent: DataFrame, dim: Int,
      mns: Seq[Double], mxs: Seq[Double], codebook: Option[DataFrame]) {

    /** The codebook as the driver-side [s][j] -> qsub table the
      * single-pass encode/LUT kernels embed as literals. */
    @transient lazy val cb: Array[Array[Array[Long]]] = codec match {
      case Pq(m, _) => Similarity.collectedCodebook(codebook.get, m)
      case _ => Array.empty
    }

    /** The stored payload column: a flat index keeps the caller's
      * vector column, the quantized ones their code column. */
    def storedCol(vecCol: String): String = codec match {
      case Flat => vecCol
      case Sq8 => "qv"
      case _: Pq => "codes"
    }

    private def quantized(v: Column): Column =
      Sq8Quantize.sq8Quantize(v.cast("array<float>"), mns, mxs)

    /** A vector's stored payload. Cell assignment always runs on the
      * full-precision vector; only the stored payload is encoded. */
    def encode(vec: Column): Column = codec match {
      case Flat => vec
      case Sq8 => quantized(vec)
      case _: Pq => Similarity.pqCodesColumn(quantized(vec), cb, dim)
    }

    /** The query-side column the score reads: the vector itself, its
      * SQ8 codes, or its flattened ADC lookup table. */
    def probe(qVec: Column): Column = codec match {
      case Flat => qVec
      case Sq8 => quantized(qVec)
      case _: Pq => Similarity.pqLutFlatColumn(quantized(qVec), cb, dim)
    }

    def score(probe: Column, stored: Column): Column = codec match {
      case Flat => VectorFunctions.cosineSim(probe, stored)
      case Sq8 => IntArrayL2.intArrayL2(probe, stored)
      case Pq(m, kCent) => Similarity.adcDistColumn(stored, probe, m, kCent)
    }

    /** Flat ranks by cosine, descending, and returns no score column;
      * the quantized codecs rank by an integer distance, ascending,
      * and return it as `dist`. */
    def scoreName: String = if (codec == Flat) "cos" else "dist"
    def rankOrder: Column = if (codec == Flat) col("cos").desc else col("dist")
    def outCols: Seq[String] =
      Seq("query_id", "rank", "neighbor_id") ++ (if (codec == Flat) Nil else Seq("dist"))
  }

  /** Train a codec's artifacts on a seed corpus and pin them under
    * `dir` (centroids, ranges, codebook, meta). Each artifact is
    * written from driver-side rows and primed into [[ArtifactCache]],
    * so the caller's seed append and the index's first reader skip the
    * read-back. One md5-ranked sample pass serves both the coarse
    * centroids (the first nLists rows) and the PQ codebook sample (the
    * first kCent) — [[Similarity.ivfCentroids]] and
    * [[Similarity.pqCodebook]] share the order. `centroids` swaps in a
    * trained quantizer (any (cent_id, cent_vec) frame). */
  def train(
      codec: VectorCodec, corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, centroids: Option[DataFrame], dir: String): Pinned = {
    val spark = corpus.sparkSession
    val kCent = codec match { case Pq(_, k) => k; case _ => 0 }
    lazy val sample =
      Similarity.centroidSample(corpus, idCol, vecCol, math.max(nLists, kCent))
    val cent = pin(centroids.fold(sample.centFrame(spark, nLists)) { c =>
      require(Seq("cent_id", "cent_vec").forall(c.columns.contains),
        s"centroids frame must have (cent_id, cent_vec), got ${c.columns.toSeq}")
      // pruned to the contract columns: an extra column riding along
      // would be persisted and break every later assignWith join
      localized(c.select(col("cent_id"), col("cent_vec")))
    }, s"$dir/centroids")
    val (mns, mxs) =
      if (codec == Flat) (Seq.empty[Double], Seq.empty[Double])
      else Similarity.sq8Ranges(corpus, vecCol)
    import spark.implicits._
    if (codec != Flat)
      pin(mns.indices.map(i => (i.toLong, mns(i), mxs(i))).toDF("i", "mn", "mx"),
        s"$dir/ranges")
    val codebook = codec match {
      case Pq(m, k) => Some(pin(Similarity.pqCodebookFromSample(
        spark, sample.floatVecs(k), m, mns.length, mns, mxs), s"$dir/codebook"))
      case _ => None
    }
    val meta = codec match {
      case Flat => Seq(Tuple1(nLists.toLong)).toDF("nLists")
      case Sq8 => Seq((nLists.toLong, mns.length.toLong)).toDF("nLists", "dim")
      case Pq(m, k) => Seq((nLists.toLong, m.toLong, mns.length.toLong, k.toLong))
        .toDF("nLists", "m", "dim", "kCent")
    }
    pin(StoreLayout.stamp(meta), s"$dir/meta")
    Pinned(codec, cent, widthOf(cent), mns, mxs, codebook)
  }

  /** Load an index's pinned artifacts through [[ArtifactCache]] (a
    * warm load costs FS listings and no Spark job); the codec comes
    * from the meta header, opened across layout generations. */
  def load(spark: SparkSession, dir: String, store: String): Pinned = {
    val codec = of(StoreLayout.cachedMetaRow(spark, s"$dir/meta", store))
    val cent = ArtifactCache.localFrame(spark, s"$dir/centroids")
    val (mns, mxs) =
      if (codec == Flat) (Seq.empty[Double], Seq.empty[Double])
      else {
        // sorted driver-side: an orderBy over a LocalRelation would plan
        // a real Spark job for dim rows
        val rows = ArtifactCache.localFrame(spark, s"$dir/ranges")
          .collect().sortBy(_.getLong(0))
        (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
      }
    val codebook = codec match {
      case _: Pq => Some(ArtifactCache.localFrame(spark, s"$dir/codebook"))
      case _ => None
    }
    Pinned(codec, cent, widthOf(cent), mns, mxs, codebook)
  }

  /** One batch's (id, payload, cell) rows under the pinned codec —
    * what both index writers store. `assignWith`'s per-id groupBy
    * collapses duplicate-id rows to one before encoding, and the
    * payload rides that one exchange as a single-pass column. */
  def encodeCells(
      pinned: Pinned, df: DataFrame, idCol: String, vecCol: String,
      where: String): DataFrame =
    Similarity.assignWith(pinned.cent,
        checkedWidth(df.select(col(idCol), col(vecCol)), vecCol, pinned.dim, where),
        idCol, vecCol)
      .select(col(idCol), pinned.encode(col(vecCol)).as(pinned.storedCol(vecCol)),
        col("cell"))

  /** The vector kernels take the minimum of two lengths, so a vector
    * wider or narrower than the index would rank on a truncated prefix
    * and return plausible-but-wrong neighbors. Every append and probe
    * runs its vectors through this loud check instead; the width is
    * the stored centroids'. */
  def checkedWidth(
      df: DataFrame, vecCol: String, dim: Int, where: String): DataFrame =
    df.withColumn(vecCol,
      when(size(col(vecCol)) === lit(dim), col(vecCol))
        .otherwise(raise_error(concat(
          lit("vector width "), size(col(vecCol)).cast("string"),
          lit(s" does not match the $dim-dimension grid pinned at $where" +
            " — vectors are only comparable at the stored width")))))

  /** `rows` minus the ids of `excludeIds` (a single-column frame,
    * broadcast — tombstone sets stay small by contract). */
  def excluding(
      rows: DataFrame, id: String, excludeIds: Option[DataFrame]): DataFrame =
    excludeIds.fold(rows) { ex =>
      rows.join(broadcast(ex.select(col(ex.columns.head).as(id)).distinct()),
        Seq(id), "left_anti")
    }

  /** The one IVF probe every top-k reader runs: queries are width-
    * checked and assigned to their probe cells against the pinned
    * centroids (`nProbe` nearest, or `autoProbe`'s per-query prefix
    * sized by (cell counts, candidate floor)); the probed cell set is
    * collected driver-side (|Q| x nProbe longs) into a literal IN, so
    * `candidates` — the index's (neighbor_id, cell, c_pay) rows under
    * that filter — reads only the probed cell directories (static
    * partition pruning); the probe frame is broadcast onto the cell
    * key, the codec scores each candidate and a `row_number` window
    * keeps the top k, ties broken on the neighbor id. An empty query
    * batch probes nothing. */
  def topK(
      pinned: Pinned, where: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, autoProbe: Option[(DataFrame, Long)],
      candidates: Column => DataFrame): DataFrame = {
    val checked = checkedWidth(
      queries.select(col(idCol), col(vecCol)), vecCol, pinned.dim, where)
    val q = checked.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val cells = autoProbe match {
      case Some((counts, floor)) =>
        Similarity.autoProbeSets(pinned.cent, counts, checked, idCol, vecCol, floor)
      case None if nProbe <= 1 =>
        Similarity.assignWith(pinned.cent, q, "query_id", "q_vec")
      case None =>
        Similarity.probeCells(pinned.cent, q, "query_id", "q_vec", nProbe)
    }
    val qc = cells.select(col("query_id"), col("cell"),
      pinned.probe(col("q_vec")).as("q_pay"))
    val probedCells = qc.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cellFilter =
      if (probedCells.isEmpty) lit(false)
      else expr(s"cell IN (${probedCells.mkString(",")})")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(pinned.rankOrder, col("neighbor_id"))
    candidates(cellFilter)
      .join(broadcast(qc), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn(pinned.scoreName, pinned.score(col("q_pay"), col("c_pay")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(pinned.outCols.map(col): _*)
  }

  /** A frame's rows as a LOCAL frame: artifacts are bounded, and a
    * LocalRelation's collect() runs no Spark job. */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Write a local artifact frame single-file and prime the cache with
    * its rows; returns the frame. */
  private def pin(df: DataFrame, dir: String): DataFrame = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    ArtifactCache.prime(df.sparkSession, dir, df.schema, df.collect())
    df
  }

  private def widthOf(cent: DataFrame): Int =
    cent.collect().headOption.map(_.getSeq[Any](1).length).getOrElse(
      throw new IllegalStateException("the index holds no centroids"))
}
