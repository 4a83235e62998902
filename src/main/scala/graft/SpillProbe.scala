package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constrained-memory spill gate (probe side). The 100 TB posture
  * assumes operators SPILL instead of OOM when execution memory runs
  * out, but every spec runs in a roomy sandbox heap where nothing
  * ever spills — graceful degradation was asserted, never exercised.
  * This main runs the heaviest shuffle shapes (global sort, wide hash
  * aggregation, forced sort-merge join) inside whatever heap it was
  * launched with; `SpillGateSpec` forks it at -Xmx400m so the shapes
  * CANNOT fit, and gates (a) spill metrics > 0 — the pressure was
  * real — and (b) every checksum identical to the roomy in-process
  * run — degradation changed nothing but the disk traffic.
  *
  * Checksum design: all content checksums are order-insensitive SUMS
  * of per-row hashes (shifted down so 2^53-scale term counts cannot
  * overflow BIGINT under ANSI mode), so they are independent of
  * partitioning and shuffle.partitions — the two runs deliberately
  * differ in both. Sort correctness needs order, not just content:
  * same multiset + globally sorted on a TOTAL key = identical
  * sequence, so the probe asserts per-partition sortedness plus
  * cross-partition boundary monotonicity and reuses the content sum.
  */
object SpillProbe {

  /** Deterministic heavy fixture: `n` rows, two 32-char digest
    * payloads (incompressible, so size estimates stay honest) and a
    * modular group key. A pure function of (n) — both JVMs generate
    * identical content. */
  def wideRows(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      md5(col("id").cast("string")).as("p1"),
      md5(concat(lit("x"), col("id").cast("string"))).as("p2"),
      (col("id") % 300000L).as("g"))

  /** Order-insensitive content checksum of the sort input/output:
    * partition-independent by construction. */
  def sortContentSum(df: DataFrame): Long =
    df.agg(sum(shiftright(xxhash64(col("id"), col("p1"), col("p2")), 12)))
      .collect()(0).getLong(0)

  /** Global sort by the total key (p1, id); returns (contentSum,
    * globallySorted). The sortedness proof walks per-partition
    * (first, last, inOrder) triples in partition order on the driver
    * — partition boundaries may differ between runs, monotonicity
    * must not. */
  def globalSort(df: DataFrame): (Long, Boolean) = {
    val sorted = df.orderBy(col("p1"), col("id"))
    val content = sortContentSum(sorted)
    val parts = sorted.select(concat_ws("|", col("p1"), col("id")).as("key"))
      .rdd.mapPartitionsWithIndex { (i, it) =>
        var first: String = null; var last: String = null
        var ordered = true
        it.foreach { r =>
          val k = r.getString(0)
          if (first == null) first = k
          else if (k < last) ordered = false
          last = k
        }
        if (first == null) Iterator.empty
        else Iterator((i, first, last, ordered))
      }.collect().sortBy(_._1)
    val within = parts.forall(_._4)
    val across = parts.sliding(2).forall {
      case Array(a, b) => a._3 <= b._2
      case _ => true
    }
    (content, within && across)
  }

  /** Wide hash aggregation: 300k string-carrying groups, checksummed
    * order-insensitively. */
  def wideAgg(df: DataFrame): Long =
    df.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("p1")).as("mn"), max(col("p2")).as("mx"))
      .agg(sum(shiftright(xxhash64(col("g"), col("n"), col("mn"), col("mx")), 12)))
      .collect()(0).getLong(0)

  /** Forced sort-merge self-join (1:1 on id): both sides sort — the
    * shuffle-join shape that must spill, not OOM, under pressure. */
  def smjJoin(df: DataFrame): Long = {
    val a = df.select(col("id"), col("p1"))
    val b = df.select(col("id").as("id2"), col("p2"))
    a.join(b, col("id") === col("id2"))
      .agg(sum(shiftright(xxhash64(col("id"), col("p1"), col("p2")), 12)))
      .collect()(0).getLong(0)
  }

  // ---- durable-store build under pressure: the foreachBatch append
  // path had only ever run in roomy spec heaps. The heaviest store
  // write is NearDedupStream's batch core (minhash aggregation over
  // the exploded shingle table + the band join against the whole
  // accumulated history), so THAT is the build the gate forks: seed
  // half the corpus as backfill, push the other half through the
  // exact batch body the stream writer runs, land its partitions,
  // and checksum what the store then serves. All fixture content is
  // a pure function of (n) via md5, so the constrained and roomy
  // JVMs build byte-identical corpora.

  /** Deterministic 10-word documents (word = 6 hex chars of an
    * id+position digest); ids [0, n). */
  def dedupSeedCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      expr("""concat_ws(' ', transform(sequence(1, 10),
              i -> substr(md5(concat(cast(id AS string), '-', cast(i AS string))), 1, 6)))""")
        .as("text"))

  /** The streamed batch: ids [n, 2n); every 20th doc is a NEAR-DUP of
    * a seed doc (its text plus one trailing word — shingle Jaccard
    * 8/9, well over the 1/2 verify threshold), so the cross-batch
    * band join and the shingle verify both do real work. */
  def dedupBatchCorpus(spark: SparkSession, n: Long): DataFrame =
    dedupSeedCorpus(spark, n).select(
      (col("id") + n).as("id"),
      when((col("id") + n) % 20 === 0, concat(col("text"), lit(" zz")))
        .otherwise(
          expr("""concat_ws(' ', transform(sequence(1, 10),
                  i -> substr(md5(concat('b', cast(id AS string), '-', cast(i AS string))), 1, 6)))"""))
        .as("text"))

  /** Build the near-dedup store exactly like the stream writer: seed
    * backfill, one batch through [[NearDedupStream.dedupBatchWithBands]],
    * survivors' docs+bands landed as `batch=0`. Returns order-
    * insensitive content checksums of (survivors, served docs, served
    * bands) — partition-count-independent, so constrained and roomy
    * runs compare across different shuffle.partitions. */
  def dedupStoreBuild(
      spark: SparkSession, n: Long, indexDir: String): (Long, Long, Long) = {
    import graft.streaming.NearDedupStream
    NearDedupStream.backfillIndex(
      dedupSeedCorpus(spark, n), "id", "text", indexDir)
    val core = NearDedupStream.dedupBatchWithBands(
      dedupBatchCorpus(spark, n), indexDir, "id", "text",
      beforeBatch = 0L, p = 1, q = 2, shingleN = 3,
      nHashes = 8, rowsPerBand = 2, maxBucket = 100000)
    val fresh = core.survivors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      fresh.select(col("id"), col("text"))
        .write.mode("overwrite").parquet(s"$indexDir/docs/batch=0")
      core.bands.join(fresh.select(col("id").cast("long").as("id")),
          Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(s"$indexDir/bands/batch=0")
      val survivorsSum = fresh
        .agg(sum(shiftright(xxhash64(col("id"), col("text")), 12)))
        .collect()(0).getLong(0)
      val docsSum = NearDedupStream.readDocs(spark, indexDir)
        .agg(sum(shiftright(xxhash64(col("id"), col("text"), col("batch")), 12)))
        .collect()(0).getLong(0)
      val bandsSum = NearDedupStream.readBands(spark, indexDir)
        .agg(sum(shiftright(
          xxhash64(col("id"), col("band"), col("bv"), col("batch")), 12)))
        .collect()(0).getLong(0)
      (survivorsSum, docsSum, bandsSum)
    } finally {
      fresh.unpersist()
      core.cleanup()
    }
  }

  /** The engine's session with the probe's overrides: 3 shuffle
    * partitions (the suite runs `cpus`, so the checksums' partition-
    * independence is exercised) and no broadcast joins, so the join
    * shapes shuffle and sort. */
  private def probeSession(appName: String, threads: Int): SparkSession =
    GraftSession.builder(appName, threads)
      .config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()

  private def storeMain(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(400000L)
    // local[2], not [4]: the minhash object aggregate holds per-task
    // sort buffers that 4 concurrent tasks cannot fit under the 512 MB
    // floor even WITH spilling (the spill reader's own buffer allocation
    // OOMs) — two tasks spill and survive
    val spark = probeSession("graft-spill-store-probe", threads = 2)
    val spilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })
    val dir = java.nio.file.Files
      .createTempDirectory("spill_store_probe").toString + "/index"
    val (survivorsSum, docsSum, bandsSum) = dedupStoreBuild(spark, n, dir)
    org.apache.spark.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    println(s"""{"n":$n,"survivors_sum":$survivorsSum,""" +
      s""""docs_sum":$docsSum,"bands_sum":$bandsSum,""" +
      s""""spilled_bytes":${spilled.get()},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("store")) { storeMain(args.drop(1)); return }
    val n = args.headOption.map(_.toLong).getOrElse(3000000L)
    val spark = probeSession("graft-spill-probe", threads = 4)
    val spilled = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    })
    val df = wideRows(spark, n)
    val (sortSum, sortedOk) = globalSort(df)
    val aggSum = wideAgg(df)
    val joinSum = smjJoin(df)
    // one JSON contract line on stdout; listener events are posted
    // async, so drain the bus before reading the spill counter
    org.apache.spark.GraftListenerBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    println(s"""{"n":$n,"sort_sum":$sortSum,"sorted":$sortedOk,""" +
      s""""agg_sum":$aggSum,"join_sum":$joinSum,""" +
      s""""spilled_bytes":${spilled.get()},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}""")
    spark.stop()
  }
}
