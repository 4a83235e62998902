package graft

import org.apache.spark.sql.SparkSession

/** Session factory with Spark-first defaults that mirror what we would set
  * on a real multi-executor cluster:
  *
  *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing);
  *  - `spark.sql.shuffle.partitions` sized to the local thread count, not
  *    the 200 default (on a 1000-executor cluster this is instead sized to
  *    ~2-3x total cores, and AQE coalesces down);
  *  - UTC session timezone so timestamp semantics match the DuckDB oracle.
  *
  * Compiled code is kept for the driver's lifetime, so codegen is paid
  * once per distinct class rather than once per query pass or micro-batch:
  *
  *  - `spark.sql.codegen.cache.maxEntries` 4,000 (a static conf, read
  *    once per JVM): Spark's LRU default of 100 is below the working set
  *    (q139 + q22 + q102 alone compile 153 distinct classes, one pass of
  *    the full registry about 2,960 at sf0.01), so classes were evicted
  *    before their reuse; a cached class holds about 30-45 KB of heap, so
  *    the cap bounds the cache at about 180 MB;
  *  - `spark.sql.codegen.useIdInClassName=false`: the class name no longer
  *    carries the codegen stage id, so identical code generated under
  *    another stage number hits the cached class;
  *  - `spark.ui.retainedJobs`/`retainedStages` 100 and
  *    `spark.sql.ui.retainedExecutions` 50 (defaults 1,000): the UI is off
  *    and nothing reads the status store, so the driver heap it held goes
  *    back to the code cache.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(appName: String = "graft", threads: Int = cpus): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")

  /** Local session for tests / ad-hoc runs. */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
