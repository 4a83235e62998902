package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.streaming.{NearDedupStream, VectorIndexStream}

/** `store_ingest`: one caller drives a near-dedup store and a vector store
  * through their whole lifecycle. Each round appends a doc batch to both
  * (each through its own streaming writer), serves top-k reads, deletes a
  * set of ids from both, then purges tombstones and compacts both. Reads
  * go through the delete-aware serve (`deadIds` excluded), so a deleted id
  * must never come back. Docs and vectors are shaped like the testdata's
  * `documents` and `embeddings` (see `Testdata`); the store starts with
  * the 500 docs of the sf0.01 table, and the index parameters are those
  * of the engine's own store query q249. */
object StoreWorkload {
  val SeedDocs = 500
  val RoundDocs = 50
  val ReadsPerRound = 4
  val QueriesPerRead = 10
  val K = 3
  val NLists = 8
  val DeletesPerRound = 5

  /** Seeded docs: a testdata-shaped text plus one embedding each. */
  final class Corpus(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val gen = new Testdata.Texts(rng)
    val vecs: mutable.ArrayBuffer[Array[Float]] = mutable.ArrayBuffer.empty[Array[Float]]

    def texts: mutable.ArrayBuffer[String] = gen.texts

    /** A fresh query vector, drawn like the corpus. */
    def query(): Array[Float] = Testdata.unitVector(rng)

    /** Append the next doc; its id is its index. */
    def next(): Int = {
      vecs += Testdata.unitVector(rng)
      gen.next()
    }

    def pick(n: Int): Int = rng.nextInt(n)
  }

  private val VecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = new Corpus(ctx.seed)
    val nd = ctx.path("store/nd")
    val vec = ctx.path("store/vec")
    val r = ctx.report

    val ndIn = MemoryStream[(Long, String)]
    val vecIn = MemoryStream[(Long, Array[Float])]
    val survivors = new Sink[Long]
    val vecBatches = new Sink[Long]
    val deleted = mutable.HashSet.empty[Long]
    val ndLive = mutable.HashSet.empty[Long]
    val appendedIn = mutable.HashMap.empty[Long, Long] // id -> append batch (-1 = seed)

    def vecFrame(ids: Seq[Int], idOf: Int => Long): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        ids.map(i => Row(idOf(i), corpus.vecs(i))): _*), VecSchema)

    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }

    val recalls = mutable.ArrayBuffer.empty[Double]
    val keptShare = mutable.ArrayBuffer.empty[Double]
    var ndQ: StreamingQuery = null
    var vecQ: StreamingQuery = null

    /** One delete-aware top-k call, fully materialized; checks it serves
      * no deleted id and scores its recall against exact cosine top-k. */
    def topK(queries: Seq[Array[Float]], exactRecall: Boolean): Seq[Long] = {
      val q = spark.createDataFrame(java.util.Arrays.asList(
        queries.zipWithIndex.map { case (v, i) => Row(-1L - i, v) }: _*), VecSchema)
      val got = VectorIndexStream.filteredTopKFromIndex(spark, vec, q, "id", "vec",
          allowedIds = spark.range(corpus.texts.size.toLong).toDF("id"), k = K,
          excludeIds = Some(VectorIndexStream.deadIds(spark, vec, "id")))
        .collect().map(row => (row.getLong(0), row.getLong(2)))
      val served = got.map(_._2)
      r.attempt()
      r.fail(if (served.exists(deleted.contains)) 1 else 0,
        s"store: top-k served deleted ids ${served.filter(deleted.contains).distinct.take(5).mkString(",")}")
      if (exactRecall) queries.zipWithIndex.foreach { case (v, i) =>
        val exact = appendedIn.keys.filterNot(deleted.contains).toSeq
          .sortBy(id => (-cosine(v, corpus.vecs(id.toInt)), id)).take(K).toSet
        val mine = got.filter(_._1 == -1L - i).map(_._2).toSet
        recalls += (if (exact.isEmpty) 1.0 else (mine & exact).size.toDouble / exact.size)
      }
      served.toSeq
    }

    var round = 0L

    def append(): Unit = {
      val ids = (0 until RoundDocs).map(_ => corpus.next())
      ctx.span("nd_append", "streaming") {
        ndIn.addData(ids.map(i => (i.toLong, corpus.texts(i))))
        ndQ.processAllAvailable()
      }
      ctx.span("vec_append", "streaming") {
        vecIn.addData(ids.map(i => (i.toLong, corpus.vecs(i))))
        vecQ.processAllAvailable()
      }
      val kept = survivors.get(round).getOrElse(Nil)
      ndLive ++= kept
      keptShare += kept.size.toDouble / ids.size
      ids.foreach(i => appendedIn(i.toLong) = round)
      r.attempt()
      r.fail(if (vecBatches.get(round).isDefined && survivors.get(round).isDefined) 0 else 1,
        s"store: round $round did not land as batch $round in both stores")
    }

    def delete(): Unit = {
      val candidates = appendedIn.collect { case (id, b) if b < round && !deleted.contains(id) => id }
        .toSeq.sorted
      val ids = (0 until DeletesPerRound).map(_ => candidates(corpus.pick(candidates.size))).distinct
      deleted ++= ids
      ndLive --= ids
      ctx.span("delete", "streaming") {
        val idDf = ids.toDF("id")
        NearDedupStream.deleteBatch(spark, nd, idDf, "id", round)
        VectorIndexStream.deleteBatch(spark, vec, idDf, "id", round)
        // the first read after the delete: the deleted docs' own vectors
        topK(ids.map(id => corpus.vecs(id.toInt)), exactRecall = false)
        val back = NearDedupStream.readDocs(spark, nd)
          .join(idDf, Seq("id"), "left_semi").count()
        r.attempt()
        r.fail(back, s"store: near-dedup store still reads $back deleted docs")
      }
    }

    def maintain(): Unit = {
      ctx.span("purge", "streaming") {
        NearDedupStream.purgeTombstones(spark, nd)
        VectorIndexStream.purgeTombstones(spark, vec, "id")
      }
      ctx.span("compact", "streaming") {
        NearDedupStream.compactIndex(spark, nd, round)
        VectorIndexStream.compactIndex(spark, vec, round)
      }
    }

    def oneRound(reads: Int): Unit = {
      append()
      (0 until reads).foreach { _ =>
        ctx.span("topk", "streaming")(topK(Seq.fill(QueriesPerRead)(corpus.query()), exactRecall = true))
      }
      delete()
      maintain()
      round += 1
    }

    def startWriters(): Unit = {
      ndQ = NearDedupStream.nearDedupStreamToIndex(
          ndIn.toDF().toDF("id", "text"), "id", "text", nd, ctx.path("ckpt-nd")) { (df, b) =>
        survivors.add(b, df.select("id").collect().map(_.getLong(0)).toSeq)
      }.start()
      vecQ = VectorIndexStream.indexStreamTo(
          vecIn.toDF().toDF("id", "vec"), "id", "vec", vec, ctx.path("ckpt-vec"))(
        (_, b) => vecBatches.add(b, Seq(b))).start()
    }

    // set-up: seed both stores, start both writers, one warm round, so
    // no timed operation is the first of its kind
    ctx.setup {
      val seedIds = (0 until SeedDocs).map(_ => corpus.next())
      NearDedupStream.backfillIndex(
        seedIds.map(i => (i.toLong, corpus.texts(i))).toDF("id", "text"), "id", "text", nd)
      VectorIndexStream.seedIndex(vecFrame(seedIds, _.toLong), "id", "vec", vec, nLists = NLists)
      seedIds.foreach { i => appendedIn(i.toLong) = -1L; ndLive += i.toLong }
      ctx.log("stores seeded")
      startWriters()
      oneRound(reads = 1)
    }
    ctx.log("warm round: " + ctx.spans.map(s => s"${s.name}=${s.ms.toLong}").mkString(" "))
    val warmSpans = ctx.spans.size
    val warmRecalls = recalls.size
    val warmKept = keptShare.size

    val t0 = System.nanoTime()
    val first = round
    oneRound(ReadsPerRound)
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) oneRound(ReadsPerRound)
    val rounds = (round - first).toDouble
    ctx.heapMb()
    ndQ.stop(); vecQ.stop()

    val spans = ctx.spans.drop(warmSpans).toSeq
    def ms(op: String) = spans.filter(_.name == op).map(_.ms)
    val reads = ms("topk")
    r.set("latency_p50_ms", Stats.median(reads))
    r.set("latency_p95_ms", Stats.pct(reads, 95))
    r.set("throughput_per_s", rounds * RoundDocs / ((ms("nd_append").sum + ms("vec_append").sum) / 1000))
    r.set("dedup.survivor_ratio", Stats.mean(keptShare.drop(warmKept).toSeq))
    r.set("similarity.recall_at_k", Stats.mean(recalls.drop(warmRecalls).toSeq))
    r.set("store.delete_p50_ms", Stats.median(ms("delete")))
    val cycles = spans.filter(_.name == "purge").zip(spans.filter(_.name == "compact"))
    r.set("store.maintenance_s", Stats.median(cycles.map { case (p, c) => (p.ms + c.ms) / 1000 }))

    // the near-dedup store reads exactly the admitted, undeleted docs
    val stored = NearDedupStream.readDocs(spark, nd).select("id").as[Long].collect().toSet
    r.attempt()
    r.fail(if (stored == ndLive.toSet) 0 else 1, s"store: near-dedup store holds " +
      s"${(stored -- ndLive).size} docs it should not and lacks ${(ndLive -- stored).size}")
    val liveBytes = ndLive.toSeq.map(id => 8.0 + corpus.texts(id.toInt).getBytes("UTF-8").length).sum +
      appendedIn.keys.count(id => !deleted.contains(id)) * (8.0 + 4 * Testdata.Dim)
    r.set("store.space_amp", (treeBytes(new java.io.File(nd)) + treeBytes(new java.io.File(vec))) / liveBytes)

    if (ctx.trace) ctx.sparkTrace.foreach { t =>
      t.drain()
      Catalogue.storeOps.foreach { op =>
        val mine = spans.filter(_.name == op)
        val n = math.max(1, mine.size).toDouble
        r.set(s"streaming.$op.ms", Stats.mean(mine.map(_.ms)))
        r.set(s"streaming.$op.jobs", mine.map(s => t.within(s.start, s.end).jobs).sum / n)
        r.set(s"streaming.$op.fs_ops", mine.map(_.fs.ops.toDouble).sum / n)
        r.set(s"streaming.$op.bytes_written", mine.map(_.fs.bytesWritten.toDouble).sum / n)
      }
      Streams.sparkLayers(ctx, spans.map(s => (s.start, s.end)))
    }
  }

  private def treeBytes(f: java.io.File): Double =
    if (f.isFile) f.length.toDouble
    else Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0.0)
}
