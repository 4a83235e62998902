package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.cta.Cta
import graft.sources.{AvroCodec, AvroFunctions}

/** `cta_stream`: registry-framed Avro turnstile events decoded by the
  * native Avro kernel, counted per station by the KSQL turnstile summary
  * in update mode, serialized for the changelog topic and written to a
  * `foreachBatch` sink. Station volume is Zipf-skewed by the seed. */
object CtaWorkload {
  val Stations = 230
  val OpenRatePerS = 5000.0
  val ClosedBatch = 100000
  val WarmEvents = 2000
  val SchemaId = 1

  private val Count = "\"COUNT\":(\\d+)".r

  /** Stations, their framed payloads and the seed's skewed picker. */
  final class Inputs(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    val ids: Array[Int] = Array.tabulate(Stations)(i => 40000 + i)
    val payloads: Array[Array[Byte]] = Array.tabulate(Stations) { i =>
      AvroCodec.frameForRegistry(SchemaId,
        AvroCodec.encodeRecord(AvroCodec.turnstileValueSchema) { r =>
          r.put("station_id", ids(i))
          r.put("station_name", s"Station $i")
          r.put("line", Seq("red", "blue", "green")(i % 3))
        })
    }
    // Zipf(1) weights over a seed-shuffled station order
    private val order = {
      val a = (0 until Stations).toArray
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val cdf = {
      val w = (1 to Stations).map(r => 1.0 / r)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val pick = new java.util.SplittableRandom(seed * 31 + 11)

    def nextStation(): Int = {
      val u = pick.nextDouble()
      var lo = 0; var hi = Stations - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cdf(m) < u) lo = m + 1 else hi = m }
      order(lo)
    }
  }

  /** Turnstile event `i` is at station `stationOf(i)`; the sink keeps
    * (station index, changelog COUNT) rows. */
  final class Summary(ctx: Ctx, name: String, in: Inputs)
      extends Pipeline[(String, Array[Byte]), (Int, Long)](ctx, name) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    val input: MemoryStream[(String, Array[Byte])] =
      MemoryStream[(String, Array[Byte])](Streams.partitions(ctx))
    private val stationOf = mutable.ArrayBuffer.empty[Int]
    private val index = in.ids.zipWithIndex.toMap

    val query = Cta.turnstileSummaryToKafka(Cta.turnstileSummary(
        decoded(input.toDF().toDF("key", "value"))))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ctx.path(s"ckpt-$name"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.add(id, df.collect().toSeq.map { r =>
          index(r.getString(0).toInt) ->
            Count.findFirstMatchIn(r.getString(1)).map(_.group(1).toLong).getOrElse(-1L)
        })
        ()
      }
      .start()

    def planned: Int = stationOf.size
    def plan(n: Int): Unit = (0 until n).foreach(_ => stationOf += in.nextStation())
    def record(i: Int): (String, Array[Byte]) =
      in.ids(stationOf(i)).toString -> in.payloads(stationOf(i))

    /** An event's result is the first changelog row of its station whose
      * count includes it. Counts must never go down, and each station's
      * final count must equal the generator's tally. */
    def check(): Array[Long] = {
      val tally = new Array[Long](Stations)
      val nth = new Array[Long](stationOf.size) // 1-based rank within its station
      stationOf.indices.foreach { i => tally(stationOf(i)) += 1; nth(i) = tally(stationOf(i)) }
      val reached = Array.fill(Stations)(mutable.ArrayBuffer.empty[(Long, Long)]) // (count, batch)
      var down = 0L
      sink.snapshot.foreach { case (b, rows) => rows.foreach { case (s, c) =>
        if (reached(s).nonEmpty && reached(s).last._1 > c) down += 1
        reached(s) += (c -> b)
      } }
      val wrong = (0 until Stations).count(s =>
        reached(s).lastOption.map(_._1).getOrElse(0L) != tally(s))
      ctx.report.attempt(Stations.toLong)
      ctx.report.fail(wrong + down, s"cta $name: $wrong of $Stations station counts differ " +
        s"from the generator's tallies, $down counts went down")
      stationOf.indices.map { i =>
        reached(stationOf(i)).find(_._1 >= nth(i)).map(_._2).getOrElse(-1L)
      }.toArray
    }
  }

  def decoded(raw: DataFrame): DataFrame =
    raw.select(AvroFunctions.decodeExpr(AvroCodec.turnstileValueSchema, registryFramed = true)(
      col("value")).as("t")).select("t.*")

  def run(ctx: Ctx): Unit = {
    val in = new Inputs(ctx.seed)
    val phases = Streams.twoPhases(ctx, new Summary(ctx, _, in), OpenRatePerS, WarmEvents, ClosedBatch)
    if (ctx.trace) {
      ctx.report.set("cta.state_keys", phases.batches.map(_.stateRows.toDouble).maxOption.getOrElse(0.0))
      ctx.report.set("cta.out_rows_per_batch", Stats.mean(phases.rowsPerBatch.map(_.toDouble)))
      import ctx.spark.implicits._
      val framed = ctx.spark.sparkContext
        .parallelize(phases.lastClosedBatch, Streams.partitions(ctx))
        .toDF("key", "value")
      framed.cache().count()
      val ms = Streams.materializeMs(decoded(framed))
      framed.unpersist()
      ctx.report.set("sources.avro_decode_ms_per_1k", ms / (phases.lastClosedBatch.size / 1000.0))
    }
  }
}
