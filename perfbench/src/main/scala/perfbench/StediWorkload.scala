package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.stedi.Stedi

/** `stedi_stream`: the reference's `sparkpykafkajoin.py` — redis-server
  * customer records joined, without a watermark, to STEDI risk events —
  * into a `foreachBatch` sink on the default trigger. Every customer is
  * sent once, before any risk event, and risk events name only customers
  * already sent, so the join emits exactly one row per risk event. */
object StediWorkload {
  val Customers = 1000
  val OpenRatePerS = 1000.0
  val ClosedBatch = 20000
  val WarmEvents = 500

  private val Score = "\"score\":\"(\\d+)\"".r
  private val Year = "\"birthYear\":\"(\\d+)\"".r

  /** The seed's customers (email, birth year) and its risk-event picker. */
  final class Inputs(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    val emails: Array[String] = Array.tabulate(Customers)(i => s"customer$i.s$seed@stedi.test")
    val years: Array[Int] = Array.fill(Customers)(1930 + rng.nextInt(70))
    private val pick = new java.util.SplittableRandom(seed * 31 + 7)

    def redisRecord(i: Int): (String, String) = {
      val cust = s"""{"customerName":"Customer $i","email":"${emails(i)}",""" +
        s""""phone":"555-${1000 + i % 9000}","birthDay":"${years(i)}-01-0${1 + i % 9}"}"""
      val b64 = Base64.getEncoder.encodeToString(cust.getBytes(UTF_8))
      "Q3VzdG9tZXJz" -> (s"""{"key":"Q3VzdG9tZXJz","existType":"NONE","Ch":false,""" +
        s""""Incr":false,"zSetEntries":[{"element":"$b64","score":"0.0"}]}""")
    }

    def nextCustomer(): Int = pick.nextInt(Customers)
  }

  /** Risk event `i` names customer `custOf(i)`; its score carries `i`. */
  final class Join(ctx: Ctx, name: String, in: Inputs)
      extends Pipeline[(String, String), String](ctx, name) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    import ctx.spark.implicits._
    private val redis = MemoryStream[(String, String)](Streams.partitions(ctx))
    val input: MemoryStream[(String, String)] = MemoryStream[(String, String)](Streams.partitions(ctx))
    private val custOf = mutable.ArrayBuffer.empty[Int]

    val query = Stedi.toKafkaOutput(Stedi.pipeline(
        redis.toDF().toDF("key", "value"), input.toDF().toDF("key", "value")))
      .writeStream
      .option("checkpointLocation", ctx.path(s"ckpt-$name"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.add(id, df.select("value").collect().map(_.getString(0)).toSeq)
        ()
      }
      .start()

    def planned: Int = custOf.size
    def plan(n: Int): Unit = (0 until n).foreach(_ => custOf += in.nextCustomer())
    def record(i: Int): (String, String) =
      "" -> s"""{"customer":"${in.emails(custOf(i))}","score":"$i","riskDate":"2026-01-01T00:00:00.000Z"}"""

    override def prime(): Unit = {
      redis.addData((0 until Customers).map(in.redisRecord))
      query.processAllAvailable()
    }

    /** Each joined row must name an offered event, once, with the birth
      * year of that event's customer. */
    def check(): Array[Long] = {
      val batchOf = Array.fill(custOf.size)(-1L)
      var bad = 0L
      var rows = 0L
      sink.snapshot.foreach { case (b, vs) => vs.foreach { v =>
        rows += 1
        val id = Score.findFirstMatchIn(v).map(_.group(1).toInt).getOrElse(-1)
        val year = Year.findFirstMatchIn(v).map(_.group(1).toInt).getOrElse(-1)
        if (id < 0 || id >= custOf.size || batchOf(id) >= 0 || year != in.years(custOf(id))) bad += 1
        else batchOf(id) = b
      } }
      ctx.report.attempt(rows)
      ctx.report.fail(bad, s"stedi $name: $bad of $rows joined rows wrong or duplicated")
      batchOf
    }
  }

  def run(ctx: Ctx): Unit = {
    val in = new Inputs(ctx.seed)
    val phases = Streams.twoPhases(ctx, new Join(ctx, _, in), OpenRatePerS, WarmEvents, ClosedBatch)
    if (ctx.trace) {
      ctx.report.set("stedi.out_rows", phases.rowsPerBatch.sum.toDouble)
      import ctx.spark.implicits._
      val redisStatic = (0 until Customers).map(in.redisRecord).toDF("key", "value")
      val riskStatic = phases.lastClosedBatch.toDF("key", "value")
      val ms = Streams.materializeMs(Stedi.customersWithBirthYear(redisStatic)) +
        Streams.materializeMs(Stedi.customerRisk(riskStatic))
      ctx.report.set("stedi.decode_ms_per_1k", ms / ((Customers + phases.lastClosedBatch.size) / 1000.0))
    }
  }
}
