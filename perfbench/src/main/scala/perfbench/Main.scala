package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed span of benchmark code around a call into the engine. */
final case class Span(name: String, module: String, start: Long, end: Long,
    fs: FsStats.Snap) {
  def ms: Double = (end - start).toDouble
}

/** Everything a workload needs: the session, its inputs' seed, the
  * measured duration, where it may write, and where it reports. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val dir: String, val report: Report,
    val progress: ProgressLog, val sparkTrace: Option[SparkTrace]) {

  private val setups = mutable.ArrayBuffer.empty[Double]

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, module: String)(f: => T): T = {
    val fs0 = FsStats.snap()
    val t0 = System.currentTimeMillis()
    try f finally {
      spans += Span(name, module, t0, System.currentTimeMillis(), FsStats.snap() - fs0)
    }
  }

  /** Record one workload set-up (fresh state, inputs, warm-up), seconds. */
  def setup[T](f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    setups += (System.nanoTime() - t0) / 1e9
    r
  }

  def setupMedian: Double = Stats.median(setups.toSeq)

  /** Driver heap in use after full collections, MB. The pause between
    * them lets Spark's context cleaner drop what the first one freed. */
  def heapMb(): Unit = {
    val rt = Runtime.getRuntime
    val used = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    report.set("heap_mb", used.min)
  }

  def path(name: String): String = s"$dir/$name"

  private val born = System.currentTimeMillis()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - born) / 1000.0}%7.2f $msg")
}

/** Runs one workload: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --dir <scratch dir>`. Prints the result as the last
  * line of standard output. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val trace = opts.getOrElse("trace", "0") == "1"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val builder = graft.GraftSession.builder("perfbench")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val sparkTrace = if (trace) Some(new SparkTrace) else None
    sparkTrace.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(s"[perfbench] session ready after $sessionS s")

    val report = new Report
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, trace,
      opts("dir"), report, progress, sparkTrace)
    workload match {
      case "stedi_stream" => StediWorkload.run(ctx)
      case "cta_stream" => CtaWorkload.run(ctx)
      case "store_ingest" => StoreWorkload.run(ctx)
      case "batch_operators" => BatchWorkload.run(ctx, opts("expected"))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    report.set("setup_s", sessionS + ctx.setupMedian)
    report.set("failed_ratio", report.failed.toDouble / math.max(1L, report.attempted))
    if (trace) Catalogue.endToEnd.foreach { case (n, _) => report.set(s"traced.$n", report.get(n)) }
    report.reasons.foreach(r => ctx.log(s"check failed: $r"))
    ctx.log("workload done")
    spark.stop()
    ctx.log("session stopped")
    println(report.json(trace))
    System.out.flush()
    sys.exit(0)
  }
}
