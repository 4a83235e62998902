package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.{Similarity, VectorCodec}
import graft.sinks.CorpusSink

/** What one serve costs, per codec: the Spark jobs a top-k runs from
  * construction to its collected result, and the shuffle exchanges in
  * its executed plan. Both are (code, data)-deterministic — the same on
  * 2 and 4 cores — so a change that adds a job or an exchange to any
  * vector serve fails here, not only in a full bench run. Pinned for a
  * 500-vector fixture (seed on the even ids, the odd ids as batch 0,
  * three ids tombstoned at batch 1) and ten local queries, k = 3,
  * nProbe = 1; the filtered serve allows every id and subtracts
  * `deadIds`. Every codec costs the same: the payload changes what a
  * candidate row carries, never the plan's shape. */
class ServeCostSpec extends SparkSpec {

  private final class JobCounter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }

  /** (jobs, exchanges) of building and collecting one served frame. */
  private def cost(serve: => DataFrame): (Long, Long) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    val counter = new JobCounter
    sc.addSparkListener(counter)
    try {
      val df = serve
      df.collect()
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc)
      (counter.jobs.get(), graft.Bench.planStats(df.queryExecution).exchanges)
    } finally sc.removeSparkListener(counter)
  }

  test("one streamed top-k, one filtered top-k with excludeIds and one " +
      "written-index top-k cost the pinned jobs and exchanges, every codec") {
    import spark.implicits._
    val e = graft.Tables.table(spark, sf001, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq.toDF("vec_id", "embedding")
    for (codec <- Seq(VectorCodec.Flat, VectorCodec.Sq8, VectorCodec.Pq())) {
      val dir = java.nio.file.Files.createTempDirectory("serve_cost").toString
      val idx = s"$dir/store"; val written = s"$dir/written"
      VectorIndexStream.seedIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idx, nLists = 8, codec = codec)
      VectorIndexStream.appendBatch(e.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", idx, 0L)
      VectorIndexStream.deleteBatch(spark, idx,
        Seq(3L, 13L, 23L).toDF("vec_id"), "vec_id", 1L)
      CorpusSink.writeIvfIndex(e, "vec_id", "embedding", written,
        nLists = 8, codec = codec)

      assert(cost(VectorIndexStream.topKFromIndex(
        spark, idx, q, "vec_id", "embedding", k = 3)) == ((11L, 3L)),
        s"$codec topKFromIndex")
      assert(cost(VectorIndexStream.filteredTopKFromIndex(
        spark, idx, q, "vec_id", "embedding", e.select("vec_id"), k = 3,
        excludeIds = Some(VectorIndexStream.deadIds(spark, idx, "vec_id")))) ==
        ((21L, 7L)), s"$codec filteredTopKFromIndex")
      assert(cost(Similarity.ivfTopKFromIndex(
        spark, written, q, "vec_id", "embedding", k = 3)) == ((10L, 2L)),
        s"$codec ivfTopKFromIndex")
    }
  }
}
