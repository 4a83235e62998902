package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.streaming.NearDedupStream

/** Generated code is compiled once per distinct class and then served
  * from Spark's code cache for the session's lifetime. A query pass, or
  * a near-dedup micro-batch, that repeats an earlier one must therefore
  * compile nothing. The count is Spark's JVM-wide compile counter, read
  * around the repeat.
  *
  * Under Spark's defaults (an LRU cache of 100 classes, class names that
  * carry the codegen stage id) both repeat tests fail: the working set is
  * larger than the cache, so each pass evicts the classes the next one
  * needs, and at sf0.001 the second query pass recompiles 138 of its 150
  * classes, the second near-dedup batch 88 of 94. [[GraftSession]] raises the
  * cap and drops the id from class names.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `f`'s result and the classes compiled while it ran. */
  private def compiled[T](f: => T): (T, Long) = {
    val c0 = compiles
    val r = f
    (r, compiles - c0)
  }

  test("the compile counter sees a class no earlier code generated") {
    // a long literal is inlined into the generated source, so a fresh
    // value makes a class the cache cannot hold yet
    val fresh = System.nanoTime()
    assert(compiled {
      spark.range(4).select(org.apache.spark.sql.functions.col("id") + fresh).collect()
    }._2 > 0)
  }

  test("a second pass of q139, q22 and q102 compiles no class") {
    val names = Set("q139_pagerank", "q22_jaccard_pairs", "q102_bm25_topk")
    val queries = SparkEntry.registry.filter(q => names(q.name))
    assert(queries.map(_.name).toSet == names)
    def pass(): Seq[Long] =
      queries.map(_.run(spark, sf001).queryExecution.toRdd.count())
    val (warm, first) = compiled(pass())
    val (again, second) = compiled(pass())
    assert(again == warm)
    assert(second == 0, s"second pass recompiled $second classes (warm pass: $first)")
  }

  test("an identical near-dedup batch on the same index compiles no class") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codegen_reuse").toString
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    NearDedupStream.backfillIndex(
      Seq((100L, base), (101L, "mike november oscar papa quebec romeo sierra"))
        .toDF("doc_id", "text"), "doc_id", "text", s"$dir/index")
    val batch = Seq((1L, base + " tango"), (2L, "uniform victor whiskey xray yankee zulu"))
      .toDF("doc_id", "text")
    def survivors(): Set[Long] =
      NearDedupStream.nearDedupBatch(batch, s"$dir/index", "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (warm, first) = compiled(survivors())
    assert(warm == Set(2L))
    val (again, second) = compiled(survivors())
    assert(again == warm)
    assert(second == 0, s"second batch recompiled $second classes (first: $first)")
  }
}
