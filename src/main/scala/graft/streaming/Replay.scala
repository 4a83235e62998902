package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** File-replay streaming source (SURVEY.md §2.1 S8): the driver's
  * `events` table stands in for the reference's Kafka topics in
  * streaming tests — a parquet directory replayed as a stream with the
  * same schema the batch path sees (`graft.Tables`).
  */
object Replay {

  /** Events schema with `ts` as the given type — legacy generations
    * store INT64 nanos (read as long under the legacy conf), current
    * ones timestamp[us] (read as TIMESTAMP_NTZ); see graft.Tables. */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events parquet DIRECTORY (Spark's file stream
    * source requires a directory, not a single file). The file stream
    * source needs an explicit schema, so probe the stored `ts` dtype
    * with a one-off batch footer read (driver-side, metadata only),
    * then normalize via the same recipe as the batch loader
    * (graft.Tables — incl. its note on the session-wide legacy conf).
    * An initially-EMPTY replay directory (stream started before any
    * file lands — the normal streaming bootstrap) has no footer to
    * probe; default to the current generation's timestamp[us] dtype.
    *
    * NOTE on that empty-dir default: if the first files that later
    * land are LEGACY INT64-nanos parquet, every micro-batch read
    * fails (the nanos-recovery branch runs at probe time only, and a
    * running file stream cannot re-pin its schema). The remedy is to
    * restart the stream once a file exists — the probe then sees the
    * real footer and pins the legacy dtype. [[startHealed]] automates
    * exactly that restart-once for the bootstrap window; re-probing
    * INSIDE the running stream would put a schema mutation on the hot
    * path of every healthy micro-batch to heal a bootstrap-only
    * corner, so the heal lives at the query lifecycle level instead. */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val storedTs =
      try spark.read.parquet(eventsDir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if graft.Tables.isLegacyNanos(e) =>
          graft.Tables.enableNanosAsLong(spark)
          spark.read.parquet(eventsDir).schema("ts").dataType
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          TimestampNTZType
      }
    graft.Tables.normalizeEventsTs(
      spark.readStream
        .schema(eventsRawSchema(storedTs))
        .parquet(eventsDir))
  }

  /** The failure signature of the empty-dir bootstrap corner: the
    * stream's schema was pinned (TimestampNTZ default, or nanos-as-
    * long if the session conf was already on) and the first files to
    * land carry the OTHER ts encoding, so the micro-batch's parquet
    * read dies on the ts conversion. Matched over the whole cause
    * chain: the probe-time form is the ILLEGAL_PARQUET_TYPE/NANOS
    * AnalysisException ([[graft.Tables.isLegacyNanos]]); the
    * executor-side form under an explicit schema surfaces as a
    * parquet column-conversion error. A false positive only costs one
    * extra restart — the retry fails identically and propagates. */
  private def isTsBootstrapFailure(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case a: org.apache.spark.sql.AnalysisException =>
        graft.Tables.isLegacyNanos(a)
      case t =>
        val m = t.getMessage
        // Spark 4's executor-side form (observed): [FAILED_READ_FILE.
        // PARQUET_COLUMN_DATA_TYPE_MISMATCH] ... Expected Spark type
        // timestamp_ntz, actual Parquet type INT64; older releases
        // surfaced SchemaColumnConvertNotSupportedException /
        // "Parquet column cannot be converted"
        m != null && (m.contains("NANOS") || m.contains("nanosAsLong") ||
          m.contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH") ||
          m.contains("Parquet column cannot be converted") ||
          m.contains("PARQUET_CONVERSION_FAILURE") ||
          m.contains("SchemaColumnConvertNotSupportedException"))
    }

  /** Run the replay stream with the empty-dir bootstrap SELF-HEAL:
    * `start` builds and starts the caller's query over
    * [[eventsStream]]'s frame; `await` is the caller's blocking
    * lifecycle (`processAllAvailable()` in tests, `awaitTermination()`
    * in a deployment loop). If the awaited query dies with the
    * ts-encoding bootstrap signature — stream started on an EMPTY
    * directory, so the schema was pinned to the default, and the first
    * files to land carry the other generation's encoding — the footer
    * is re-probed (a real file now exists, so the probe pins the true
    * dtype, enabling the legacy conf if needed) and the query is
    * restarted ONCE with the re-pinned schema: the documented operator
    * remedy, automated at the query-lifecycle level. The restarted
    * query resumes from the caller's checkpoint (file offsets survive;
    * the failed batch committed nothing), so the heal preserves
    * exactly-once. Any OTHER failure — and a heal that fails again —
    * propagates unchanged. Returns the query that `await` last
    * observed (healed or original). */
  def startHealed(spark: SparkSession, eventsDir: String)(
      start: DataFrame => StreamingQuery)(
      await: StreamingQuery => Unit = _.processAllAvailable()): StreamingQuery = {
    val q = start(eventsStream(spark, eventsDir))
    try { await(q); q }
    catch {
      // NonFatal only: a fatal error (OOM, thread death) whose cause
      // chain HAPPENS to contain a matching parquet message must not
      // trigger a stream restart on a dying JVM — the heal is for the
      // StreamingQueryException both processAllAvailable() and
      // awaitTermination() actually throw, and NonFatal keeps the
      // message-based signature match from widening past recoverable
      // query failures.
      case scala.util.control.NonFatal(e) if isTsBootstrapFailure(e) =>
        val healed = start(eventsStream(spark, eventsDir))
        await(healed)
        healed
    }
  }

  /** F4 topic-router as a partitioned file sink: one directory per
    * route value (batch flavor; streaming uses foreachBatch + same
    * write). The streaming-native alternative is N filtered sinks. */
  def routedWrite(df: DataFrame, routeCol: String, outDir: String): Unit =
    df.write.mode("overwrite").partitionBy(routeCol).parquet(outDir)
}
