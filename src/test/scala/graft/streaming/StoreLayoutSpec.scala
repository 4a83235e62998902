package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Layout-version gate: every durable store's meta carries a
  * `layout_version` stamped at write time; an open against a FOREIGN
  * layout generation must refuse loudly with the upgrade note instead
  * of serving rows under layout assumptions that no longer hold, and
  * a PRE-VERSIONING meta (no field at all) must keep reading as
  * layout 1.
  */
class StoreLayoutSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("every store family stamps layout_version into its meta") {
    val spark0 = spark
    import spark0.implicits._
    val cm = tmp("layout-cm")
    CountMinStream.seed(spark, cm, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    val hh = tmp("layout-hh")
    HeavyHittersStream.seed(spark, hh, capacity = 8)
    val bm = tmp("layout-bm")
    BitmapStore.seed(spark, bm)
    val ms = tmp("layout-ms")
    MomentStore.seed(spark, ms, "2020-01-01 00:00:00")
    val vs = tmp("layout-vs")
    val corpus = (0L until 32L).map(i =>
      (i, Array.fill(4)(((i % 7) + 1).toFloat))).toDF("id", "vec")
    VectorIndexStream.seedIndex(corpus, "id", "vec", vs, nLists = 2)
    Seq(s"$cm/v=0/meta", s"$hh/v=0/meta", s"$bm/v=0/meta",
        s"$ms/v=0/meta", s"$vs/meta").foreach { p =>
      val meta = spark.read.parquet(p)
      assert(meta.columns.contains("layout_version"), p)
      assert(meta.select(col("layout_version").cast("long"))
        .collect()(0).getLong(0) == StoreLayout.Version, p)
    }
  }

  test("a store written by a FOREIGN layout version refuses at open") {
    val spark0 = spark
    import spark0.implicits._
    val cm = tmp("layout-cm-bad")
    CountMinStream.seed(spark, cm, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    // doctor the meta to a future layout generation (same fields, so
    // only the version gate can catch it)
    Seq((0.01, 0.9, 7L)).toDF("eps", "confidence", "seed")
      .withColumn("layout_version", lit(99L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$cm/v=0/meta")
    val e = intercept[IllegalStateException] {
      CountMinStream.read(spark, cm)
    }
    assert(e.getMessage.contains("store-layout version 99"), e.getMessage)
    assert(e.getMessage.contains(s"version ${StoreLayout.Version}"), e.getMessage)
  }

  test("a vector-store probe refuses a foreign layout too") {
    val spark0 = spark
    import spark0.implicits._
    val vs = tmp("layout-vs-bad")
    val corpus = (0L until 32L).map(i =>
      (i, Array.fill(4)(((i % 7) + 1).toFloat))).toDF("id", "vec")
    VectorIndexStream.seedIndex(corpus, "id", "vec", vs, nLists = 2)
    Seq(Tuple1(2L)).toDF("nLists")
      .withColumn("layout_version", lit(2L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$vs/meta")
    val e = intercept[IllegalStateException] {
      VectorIndexStream.topKFromIndex(spark, vs,
        corpus.limit(2), "id", "vec", k = 3)
    }
    assert(e.getMessage.contains("store-layout version 2"), e.getMessage)
  }

  test("a WRITTEN serving index (CorpusSink) stamps and refuses the same way") {
    val spark0 = spark
    import spark0.implicits._
    val path = tmp("layout-sink")
    val corpus = (0L until 32L).map(i =>
      (i, Array.fill(4)(((i % 5) + 1).toFloat))).toDF("id", "vec")
    graft.sinks.CorpusSink.writeIvfIndex(corpus, "id", "vec", path, nLists = 2)
    val meta = spark.read.parquet(s"$path/meta")
    assert(meta.columns.contains("layout_version"))
    // doctor to a future generation: the probe must refuse at open
    Seq(Tuple1(2L)).toDF("nLists")
      .withColumn("layout_version", lit(3L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    val e = intercept[IllegalStateException] {
      graft.similarity.Similarity.ivfTopKFromIndex(
        spark, path, corpus.limit(2), "id", "vec", k = 3)
    }
    assert(e.getMessage.contains("store-layout version 3"), e.getMessage)
  }

  test("a NULL layout_version (partially-written meta) refuses loudly, never NPEs") {
    val spark0 = spark
    import spark0.implicits._
    val cm = tmp("layout-cm-null")
    CountMinStream.seed(spark, cm, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    // doctor the meta so the column EXISTS but holds NULL — the shape a
    // torn write or hand-edit leaves behind; the gate must raise its
    // own loud refusal, not a bare NullPointerException far from here
    Seq((0.01, 0.9, 7L)).toDF("eps", "confidence", "seed")
      .withColumn("layout_version", lit(null).cast("long")).coalesce(1)
      .write.mode("overwrite").parquet(s"$cm/v=0/meta")
    val e = intercept[IllegalStateException] {
      CountMinStream.read(spark, cm)
    }
    assert(e.getMessage.contains("NULL store-layout version"), e.getMessage)
  }

  test("the 0->1 migration shim: a layout-0 store reads equivalent to a native one") {
    val spark0 = spark
    import spark0.implicits._
    // native layout-1 store with real admitted tokens
    val native = tmp("layout-native")
    CountMinStream.seed(spark, native, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    val tokens = Seq.fill(50)("hot").union(Seq("a", "b", "c")).toDF("term")
    CountMinStream.mergeBatch(tokens, "term", native)
    // hand-write the LAYOUT-0 generation of the same store: identical
    // sketch bytes, meta with the prototype's `sketch_seed` column
    // name and layout_version = 0
    val old = tmp("layout-zero")
    CountMinStream.seed(spark, old, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    CountMinStream.mergeBatch(tokens, "term", old)
    val v = VersionedStore.committedVersions(spark, old).max
    Seq((0.01, 0.9, 7L)).toDF("eps", "confidence", "sketch_seed")
      .withColumn("layout_version", lit(0L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$old/v=$v/meta")
    // the open must take the migration shim and serve identically
    val (skN, epsN, confN, seedN) = CountMinStream.read(spark, native)
    val (skO, epsO, confO, seedO) = CountMinStream.read(spark, old)
    assert((epsO, confO, seedO) == (epsN, confN, seedN))
    assert(skO.estimateCount("hot") == skN.estimateCount("hot"))
    assert(skO.totalCount() == skN.totalCount())
    // and the estimates surface is byte-for-byte the native store's
    val probes = Seq("hot", "a", "zzz").toDF("term")
    val eN = CountMinStream.estimates(spark, native, tokens, "term", probes)
      .collect().map(_.toSeq).toSet
    val eO = CountMinStream.estimates(spark, old, tokens, "term", probes)
      .collect().map(_.toSeq).toSet
    assert(eO == eN)
  }

  test("validate-only opens (flat probe) route through the shim: a layout-0 meta with the marker opens") {
    val spark0 = spark
    import spark0.implicits._
    val vs = tmp("layout-vs-shim")
    val corpus = (0L until 32L).map(i =>
      (i, Array.fill(4)(((i % 7) + 1).toFloat))).toDF("id", "vec")
    VectorIndexStream.seedIndex(corpus, "id", "vec", vs, nLists = 2)
    val native = VectorIndexStream.topKFromIndex(
        spark, vs, corpus.limit(2), "id", "vec", k = 3)
      .collect().map(_.toSeq).toSet
    // doctor the meta to the layout-0 generation (marker column +
    // version 0): the probe only VALIDATES the meta, so it must open
    // through the migration shim like checkedMetaRow consumers do —
    // before the routing fix, check() refused every layout-0 meta here
    Seq((2L, 7L)).toDF("nLists", "sketch_seed")
      .withColumn("layout_version", lit(0L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$vs/meta")
    val shimmed = VectorIndexStream.topKFromIndex(
        spark, vs, corpus.limit(2), "id", "vec", k = 3)
      .collect().map(_.toSeq).toSet
    assert(shimmed == native)
    // and a layout-0 meta WITHOUT the marker still refuses here too
    Seq(Tuple1(2L)).toDF("nLists")
      .withColumn("layout_version", lit(0L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$vs/meta")
    val e = intercept[IllegalStateException] {
      VectorIndexStream.topKFromIndex(
        spark, vs, corpus.limit(2), "id", "vec", k = 3)
    }
    assert(e.getMessage.contains("store-layout version 0"), e.getMessage)
  }

  test("a version-0 meta WITHOUT the layout-0 marker column refuses, never guesses") {
    val spark0 = spark
    import spark0.implicits._
    val cm = tmp("layout-zero-foreign")
    CountMinStream.seed(spark, cm, eps = 0.01, confidence = 0.9, sketchSeed = 7)
    // claims version 0 but carries layout-1 column names — not the
    // generation the shim knows; migrating would be a guess
    Seq((0.01, 0.9, 7L)).toDF("eps", "confidence", "seed")
      .withColumn("layout_version", lit(0L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$cm/v=0/meta")
    val e = intercept[IllegalStateException] {
      CountMinStream.read(spark, cm)
    }
    assert(e.getMessage.contains("store-layout version 0"), e.getMessage)
    // the upgrade note points at the real migration hook
    assert(e.getMessage.contains("StoreLayout.migrated"), e.getMessage)
  }

  test("a PRE-VERSIONING meta (no field) still reads as layout 1") {
    val spark0 = spark
    import spark0.implicits._
    val ms = tmp("layout-ms-old")
    MomentStore.seed(spark, ms, "2020-01-01 00:00:00")
    // strip the stamp — the layout an older build wrote
    Seq("2020-01-01 00:00:00").toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$ms/v=0/meta")
    val (moments, epoch) = MomentStore.read(spark, ms)
    assert(epoch == "2020-01-01 00:00:00")
    assert(moments.count() == 0L)
  }
}
