package perfbench

import scala.collection.mutable

/** Order statistics, the metric catalogue and the one-line JSON result. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val d = xs.sorted
      val m = d.size
      if (m % 2 == 1) d(m / 2) else (d(m / 2 - 1) + d(m / 2)) / 2
    }

  /** Nearest-rank percentile over the sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val d = xs.sorted
      d(math.min(d.size - 1, math.max(0, math.ceil(p / 100.0 * d.size).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Every metric the benchmark can print, with its unit. `--trace 0` prints
  * the end-to-end set, `--trace 1` the per-layer set; a layer a workload
  * does not run reports 0. */
object Catalogue {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_mb" -> "MB",
    "latency_p50_ms" -> "ms", "latency_p95_ms" -> "ms",
    "throughput_per_s" -> "1/s")

  private val sparkLayer = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.idle_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes")

  private val streamingLayer = Seq(
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.gen_lag_ms" -> "ms",
    "streaming.backlog_rows" -> "count",
    "streaming.state_rows" -> "count", "streaming.state_updated_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.state_commit_ms" -> "ms",
    "streaming.state_partitions" -> "count")

  val storeOps: Seq[String] = Seq("nd_append", "vec_append", "topk", "delete", "purge", "compact")
  private val storeLayer = storeOps.flatMap(op => Seq(
    s"streaming.$op.ms" -> "ms", s"streaming.$op.jobs" -> "count",
    s"streaming.$op.fs_ops" -> "count", s"streaming.$op.bytes_written" -> "bytes"))

  val batchModules: Seq[String] = Seq("operators", "dedup", "corpus")
  private val batchLayer = batchModules.flatMap(m => Seq(
    s"$m.wall_s" -> "s", s"$m.jobs" -> "count", s"$m.task_cpu_s" -> "s",
    s"$m.shuffle_bytes" -> "bytes", s"$m.spill_bytes" -> "bytes",
    s"$m.gc_s" -> "s", s"$m.idle_s" -> "s", s"$m.planning_s" -> "s"))

  val perLayer: Seq[(String, String)] =
    sparkLayer ++ streamingLayer ++ Seq(
      "stedi.decode_ms_per_1k" -> "ms", "stedi.out_rows" -> "count",
      "sources.avro_decode_ms_per_1k" -> "ms",
      "cta.state_keys" -> "count", "cta.out_rows_per_batch" -> "count") ++
      storeLayer ++ Seq(
      "dedup.survivor_ratio" -> "ratio", "similarity.recall_at_k" -> "ratio",
      "store.delete_p50_ms" -> "ms", "store.maintenance_s" -> "s",
      "store.space_amp" -> "ratio", "batch.total_s" -> "s",
      "failed_ratio" -> "ratio") ++
      batchLayer ++
      endToEnd.map { case (n, u) => s"traced.$n" -> u }
}

/** What one run reports: counts of operations attempted and failed, and
  * metric values by name. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private var attemptedOps = 0L
  private var failedOps = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def set(name: String, v: Double): Unit = values(name) = v
  def get(name: String): Double = values.getOrElse(name, 0.0)

  def attempt(n: Long = 1): Unit = attemptedOps += n

  /** Record `n` failed operations with the reason (printed on stderr). */
  def fail(n: Long, why: => String): Unit = if (n > 0) {
    failedOps += n
    if (failures.size < 20) failures += why
  }

  def attempted: Long = attemptedOps
  def failed: Long = failedOps
  def reasons: Seq[String] = failures.toSeq

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(trace: Boolean): String = {
    val cat = if (trace) Catalogue.perLayer else Catalogue.endToEnd
    val ms = cat.map { case (n, u) =>
      s""""$n": {"value": ${num(values.getOrElse(n, 0.0))}, "unit": "$u"}""" }
    val correct = failedOps == 0 && attemptedOps > 0
    s"""{"correct": $correct, "attempted": ${math.max(1L, attemptedOps)}, """ +
      s""""failed": $failedOps, "metrics": {${ms.mkString(", ")}}}"""
  }
}
