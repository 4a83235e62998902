package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{CorpusQueries, DedupQueries, GraftQuery, GraphQueries}

/** `batch_operators`: read-only batch queries of the operators, dedup and
  * corpus modules over generated tables shaped like the testdata (see
  * `Testdata`) at scale factor 0.01, each run through `GraftQuery.run` and
  * `queryExecution.toRdd.count()`. The tables are fixed (their results are
  * pinned in `expected_batch.json`); the seed only permutes the order of
  * the queries within each timed pass. */
object BatchWorkload {

  /** Query -> the module whose operator it exercises. */
  val Queries: Seq[(String, String)] = Seq(
    "q139_pagerank" -> "operators",
    "q22_jaccard_pairs" -> "dedup",
    "q102_bm25_topk" -> "corpus")

  val Scale = 0.01
  private val DataSeed = 42L

  /** The fixed tables the queries read: `documents` and `lineitem`. */
  def writeTables(ctx: Ctx, dir: String): Unit = {
    import Testdata._
    val rng = new java.util.SplittableRandom(DataSeed)
    val texts = new Texts(rng)
    val docs = (0 until (DocsPerSf * Scale).toInt).map { _ =>
      val i = texts.next()
      val t = texts.texts(i)
      Row(i.toLong, t, lang(rng), source(i), t.length.toLong)
    }
    ctx.spark.createDataFrame(java.util.Arrays.asList(docs: _*), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // every column uniform and independent: lines pick their order, part
    // and supplier at random, so lines per order are Poisson(4)
    val orders = (OrdersPerSf * Scale).toInt
    val parts = (PartsPerSf * Scale).toInt
    val suppliers = (SuppliersPerSf * Scale).toInt
    val day0 = 789004800000L // 1995-01-02
    val lines = (0 until (LinesPerSf * Scale).toInt).map { _ =>
      Row(rng.nextInt(orders).toLong, rng.nextInt(parts).toLong, rng.nextInt(suppliers).toLong,
        1 + rng.nextInt(7), (1 + rng.nextInt(50)).toDouble, 900 + rng.nextInt(10410000) / 100.0,
        rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
        new java.sql.Timestamp(day0 + rng.nextInt(2500) * 86400000L))
    }
    ctx.spark.createDataFrame(java.util.Arrays.asList(lines: _*), StructType(Seq(
        StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Row count and an order-insensitive hash of a result. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val Entry = "\"(q[0-9a-z_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*(\\d+)".r

  def expected(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path)
    try Entry.findAllMatchIn(src.mkString).map(m =>
      m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    finally src.close()
  }

  def run(ctx: Ctx, expectedPath: String): Unit = {
    val registry = (GraphQueries.all ++ DedupQueries.all ++ CorpusQueries.all)
      .map(q => q.name -> q).toMap
    val queries: Seq[(GraftQuery, String)] = Queries.map { case (n, m) => registry(n) -> m }
    val want = expected(expectedPath)
    val data = ctx.path("tables")
    val rows = mutable.Map.empty[String, Long]

    // set-up: tables and one pass that fingerprints each result, which
    // also warms the queries
    ctx.setup {
      writeTables(ctx, data)
      ctx.log("tables written")
      queries.foreach { case (q, _) =>
        val got = fingerprint(q.run(ctx.spark, data))
        rows(q.name) = got._1
        ctx.report.attempt()
        if (!want.get(q.name).contains(got)) {
          ctx.report.fail(1, s"batch ${q.name}: rows=${got._1} hash=${got._2}, " +
            s"expected ${want.get(q.name).map(e => s"rows=${e._1} hash=${e._2}").getOrElse("none")}")
        }
      }
    }

    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val planning = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val rng = new scala.util.Random(ctx.seed)
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      rng.shuffle(queries).foreach { case (q, module) =>
        val n = ctx.span(q.name, module) {
          val s0 = System.nanoTime()
          val df = q.run(ctx.spark, data)
          val c = df.queryExecution.toRdd.count()
          wall.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - s0) / 1e6
          planning.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
            df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum
          c
        }
        ctx.report.attempt()
        ctx.report.fail(if (n == rows(q.name)) 0 else 1,
          s"batch ${q.name}: $n rows in a timed pass, ${rows(q.name)} in the warm pass")
      }
      passes += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    ctx.heapMb()
    queries.foreach { case (q, _) => ctx.log(s"${q.name}: ${wall(q.name).map(_.toLong).mkString(", ")} ms") }

    val executions = wall.values.flatten.toSeq
    ctx.report.set("latency_p50_ms", Stats.median(executions))
    ctx.report.set("latency_p95_ms", Stats.pct(executions, 95))
    ctx.report.set("throughput_per_s", executions.size / timedS)
    ctx.report.set("batch.total_s", queries.map { case (q, _) => Stats.median(wall(q.name).toSeq) }.sum / 1000)

    if (ctx.trace) ctx.sparkTrace.foreach { t =>
      t.drain()
      val spans = ctx.spans.toSeq
      Streams.sparkLayers(ctx, spans.map(s => (s.start, s.end)))
      Catalogue.batchModules.foreach { m =>
        val mine = spans.filter(_.module == m)
        val work = mine.map(s => t.within(s.start, s.end)).foldLeft(Work.zero)(_ + _)
        // a job belongs to the module of its call site, or to the open span's
        val jobs = spans.map { s =>
          t.jobModules(s.start, s.end).toSeq.map { case (site, c) =>
            if (site.getOrElse(s.module) == m) c else 0 }.sum
        }.sum
        val r = ctx.report
        r.set(s"$m.wall_s", queries.filter(_._2 == m).map(q => Stats.median(wall(q._1.name).toSeq)).sum / 1000)
        r.set(s"$m.jobs", jobs.toDouble / passes)
        r.set(s"$m.task_cpu_s", work.cpuMs / 1000 / passes)
        r.set(s"$m.shuffle_bytes", work.shuffleWrite / passes)
        r.set(s"$m.spill_bytes", work.spill / passes)
        r.set(s"$m.gc_s", work.gcMs / 1000 / passes)
        r.set(s"$m.idle_s", mine.map(s => math.max(0.0, s.ms - t.within(s.start, s.end).busyMs)).sum / 1000 / passes)
        r.set(s"$m.planning_s", queries.filter(_._2 == m)
          .map(q => Stats.median(planning(q._1.name).toSeq)).sum / 1000)
      }
    }
  }
}
