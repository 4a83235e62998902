package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Rows collected by a `foreachBatch` sink, per batch id. */
final class Sink[R] {
  private val byBatch = mutable.LinkedHashMap.empty[Long, Seq[R]]
  def add(batchId: Long, rows: Seq[R]): Unit = synchronized { byBatch(batchId) = rows }
  def get(batchId: Long): Option[Seq[R]] = synchronized(byBatch.get(batchId))
  def snapshot: Seq[(Long, Seq[R])] = synchronized(byBatch.toSeq.sortBy(_._1))
}

/** One fresh streaming query, with its own checkpoint and state, fed by
  * one memory input of events of type `T` and writing rows of type `R`
  * to a sink. Event `i` is the i-th event offered. */
abstract class Pipeline[T, R](val ctx: Ctx, val name: String) {
  val sink = new Sink[R]
  def input: MemoryStream[T]
  def query: StreamingQuery

  /** Events planned so far. */
  def planned: Int
  /** Plan the next `n` events; the generator thread then only reads them. */
  def plan(n: Int): Unit
  def record(i: Int): T
  /** Input the query needs before any event (STEDI's customers). */
  def prime(): Unit = ()
  /** For each event planned, the batch that emitted its result, or -1;
    * records failed content checks in the report. */
  def check(): Array[Long]

  def offer(n: Int): Seq[T] = { val from = planned; plan(n); (from until from + n).map(record) }
  def lastBatch: Long = sink.snapshot.lastOption.map(_._1).getOrElse(0L)
}

/** The two phases both stream workloads run, each on a fresh pipeline:
  * open loop at a fixed offered rate (latency), then closed loop with
  * fixed large batches (throughput). */
object Streams {

  /** Input partitions per micro-batch, as a Kafka topic with one partition
    * per core would give; without this the memory source makes one
    * partition per `addData` call, which an open-loop generator makes
    * every few milliseconds. */
  def partitions(ctx: Ctx): Int = ctx.spark.sparkContext.defaultParallelism

  /** What the two phases leave for a workload's traced figures. */
  final case class Phases[T](batches: Seq[BatchProgress], rowsPerBatch: Seq[Int],
      lastClosedBatch: Seq[T])

  /** Run both phases, each for half of `--seconds`, and report latency,
    * throughput and heap. Warm-up, counted in set-up: the first pipeline
    * of a run takes three small batches and one of closed-loop size, the
    * second starts in a warm JVM and takes the large one only; without it
    * JIT compilation still shows in the measured batch times. */
  def twoPhases[T](ctx: Ctx, make: String => Pipeline[T, _], openRatePerS: Double,
      warmEvents: Int, closedBatch: Int): Phases[T] = {
    val phaseMs = (ctx.seconds * 1000 / 2).toLong
    def fresh(name: String, warm: Seq[Int]): Pipeline[T, _] = ctx.setup {
      val p = make(name)
      p.prime()
      warm.foreach { n => p.input.addData(p.offer(n)); p.query.processAllAvailable() }
      p
    }
    /** Measured batches and the batch each event's result came out of. */
    def finish(p: Pipeline[T, _], first: Long): (Seq[BatchProgress], Array[Long]) = {
      val batchOf = p.check()
      val missing = batchOf.count(_ < 0)
      ctx.report.attempt(batchOf.length.toLong)
      ctx.report.fail(missing, s"${p.name}: $missing of ${batchOf.length} events have no result")
      (ctx.progress.batches(p.query.id.toString, p.lastBatch).filter(_.batchId >= first), batchOf)
    }

    // (a) open loop: latency of each event from the time it was due
    val a = fresh("open", Seq(warmEvents, warmEvents, warmEvents, closedBatch))
    val firstA = a.lastBatch + 1
    val n = (openRatePerS * phaseMs / 1000).toInt
    val base = a.planned
    a.plan(n)
    val (off, gen) = openLoop(a.input, n, openRatePerS)(i => a.record(base + i))
    gen.join()
    awaitDrained(a.query, 60000)
    val (batchesA, batchOf) = finish(a, firstA)
    val endOf = batchesA.map(b => b.batchId -> b.endMs).toMap
    val lat = (0 until n).flatMap(i => endOf.get(batchOf(base + i)).map(e => (e - off.dueMs(i)).toDouble))
    ctx.report.set("latency_p50_ms", Stats.median(lat))
    ctx.report.set("latency_p95_ms", Stats.pct(lat, 95))
    val lastDue = off.dueMs(n - 1)
    // rows consumed by batches that had finished when the last event was due
    val consumed = batchesA.filter(_.endMs <= lastDue).map(_.inputRows).sum
    val offeredBy = (0 until n).count(i => off.sentMs(i) <= lastDue)
    ctx.report.set("streaming.gen_lag_ms", Stats.mean((0 until n).map(i => (off.sentMs(i) - off.dueMs(i)).toDouble)))
    ctx.report.set("streaming.backlog_rows", math.max(0L, offeredBy - consumed).toDouble)
    ctx.log(s"open loop: $n events in ${batchesA.size} batches of " +
      batchesA.map(_.durations.getOrElse("triggerExecution", 0L)).mkString(",") + " ms")
    val rowsA = a.sink.snapshot.filter(_._1 >= firstA).map(_._2.size)
    ctx.heapMb()
    a.query.stop()

    // (b) closed loop: one caller offers a fixed batch and waits for it
    val b = fresh("closed", Seq(closedBatch))
    val firstB = b.lastBatch + 1
    val t0 = System.currentTimeMillis()
    var busyNs = 0L
    var sent = 0
    var last: Seq[T] = Nil
    while (System.currentTimeMillis() - t0 < phaseMs || sent < 2 * closedBatch) {
      last = b.offer(closedBatch)
      val s0 = System.nanoTime()
      b.input.addData(last)
      b.query.processAllAvailable()
      busyNs += System.nanoTime() - s0
      sent += closedBatch
    }
    ctx.report.set("throughput_per_s", sent / (busyNs / 1e9))
    val (batchesB, _) = finish(b, firstB)
    ctx.log(s"closed loop: $sent events in ${batchesB.size} batches of " +
      batchesB.map(_.durations.getOrElse("triggerExecution", 0L)).mkString(",") + " ms")
    val rowsB = b.sink.snapshot.filter(_._1 >= firstB).map(_._2.size)
    b.query.stop()

    val all = batchesA ++ batchesB
    if (ctx.trace) {
      streamingLayers(ctx, all)
      sparkLayers(ctx, all.map(p => (p.startMs, p.endMs)))
    }
    Phases(all, rowsA ++ rowsB, last)
  }

  /** Events handed to one input, with the time each was due and the time
    * the generator actually offered it. */
  final class Offered(n: Int) {
    val dueMs = new Array[Long](n)
    val sentMs = new Array[Long](n)
  }

  /** Open-loop generator on its own thread: event `i` is due at
    * `t0 + i / rate`. Every few milliseconds it offers all events already
    * due, in one `addData`, whatever the state of the query; a slow query
    * only makes the stream's backlog grow. */
  def openLoop[T](input: MemoryStream[T], events: Int, ratePerS: Double)(
      make: Int => T): (Offered, Thread) = {
    val off = new Offered(events)
    val t0 = System.currentTimeMillis() + 20
    (0 until events).foreach(i => off.dueMs(i) = t0 + (i * 1000.0 / ratePerS).toLong)
    val th = new Thread(() => {
      var next = 0
      while (next < events) {
        val now = System.currentTimeMillis()
        var upTo = next
        while (upTo < events && off.dueMs(upTo) <= now) upTo += 1
        if (upTo > next) {
          input.addData((next until upTo).map(make))
          val sent = System.currentTimeMillis()
          (next until upTo).foreach(i => off.sentMs(i) = sent)
          next = upTo
        } else Thread.sleep(math.max(1L, math.min(5L, off.dueMs(next) - now)))
      }
    }, "perfbench-generator")
    th.setDaemon(true)
    th.start()
    (off, th)
  }

  /** Wait for the query to consume everything offered, bounded. */
  def awaitDrained(q: StreamingQuery, timeoutMs: Long): Unit = {
    val done = new Thread(() => try q.processAllAvailable() catch { case _: Throwable => () })
    done.setDaemon(true)
    done.start()
    done.join(timeoutMs)
    if (done.isAlive) throw new IllegalStateException(
      s"stream did not drain within ${timeoutMs} ms")
  }

  /** Per-layer figures of the micro-batch engine and its state store, per
    * batch over the measured batches. */
  def streamingLayers(ctx: Ctx, bs: Seq[BatchProgress]): Unit = {
    val r = ctx.report
    def d(k: String) = Stats.mean(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    def max(f: BatchProgress => Long) = bs.map(f(_).toDouble).maxOption.getOrElse(0.0)
    r.set("streaming.batches", bs.size.toDouble)
    r.set("streaming.batch_ms", d("triggerExecution"))
    r.set("streaming.add_batch_ms", d("addBatch"))
    r.set("streaming.planning_ms", d("queryPlanning"))
    r.set("streaming.wal_commit_ms", d("walCommit"))
    r.set("streaming.commit_offsets_ms", d("commitOffsets"))
    r.set("streaming.rows_per_batch", Stats.mean(bs.map(_.inputRows.toDouble)))
    r.set("streaming.state_rows", max(_.stateRows))
    r.set("streaming.state_updated_rows", Stats.mean(bs.map(_.stateUpdated.toDouble)))
    r.set("streaming.state_bytes", max(_.stateBytes))
    r.set("streaming.state_commit_ms", Stats.mean(bs.map(_.stateCommitMs.toDouble)))
    r.set("streaming.state_partitions", max(_.statePartitions))
  }

  /** spark.* per operation, over the operations' wall-clock windows. */
  def sparkLayers(ctx: Ctx, windows: Seq[(Long, Long)]): Unit = ctx.sparkTrace.foreach { t =>
    t.drain()
    val n = math.max(1, windows.size).toDouble
    val ws = windows.map { case (a, b) => (t.within(a, b), (b - a).toDouble) }
    val tot = ws.map(_._1).foldLeft(Work.zero)(_ + _)
    val r = ctx.report
    r.set("spark.jobs", tot.jobs / n)
    r.set("spark.stages", tot.stages / n)
    r.set("spark.tasks", tot.tasks / n)
    r.set("spark.idle_ms", ws.map { case (w, d) => math.max(0.0, d - w.busyMs) }.sum / n)
    r.set("spark.task_cpu_ms", tot.cpuMs / n)
    r.set("spark.gc_ms", tot.gcMs / n)
    r.set("spark.shuffle_write_bytes", tot.shuffleWrite / n)
    r.set("spark.shuffle_read_bytes", tot.shuffleRead / n)
    r.set("spark.spill_bytes", tot.spill / n)
  }

  /** Time materializing `df` alone, all columns, median of three, ms. */
  def materializeMs(df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })
}
