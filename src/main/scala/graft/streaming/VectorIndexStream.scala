package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.similarity.{Similarity, VectorCodec}

/** Continuous ANN index maintenance — the durable-index streaming story
  * ([[IncrementalDedup]] for exact fingerprints, [[NearDedupStream]]
  * for LSH bands) extended to the similarity family: vectors arriving
  * on a stream land in a served IVF-Flat cell layout per micro-batch,
  * and a probe answers top-k over EVERYTHING admitted so far from the
  * stored artifacts alone, at any replay fence.
  *
  * Layout (`indexDir/`):
  *   `centroids`             — the coarse quantizer, trained ONCE at
  *                             seed time and never moved (see below);
  *   `ranges`, `codebook`    — the SQ8 grid (SQ8 and PQ stores) and the
  *                             PQ codebook (PQ stores), pinned the same
  *                             way;
  *   `meta`                  — version header that names the payload
  *                             codec ([[VectorCodec]]): (nLists) flat,
  *                             (nLists, dim) SQ8, (nLists, m, dim,
  *                             kCent) PQ. Only [[seedIndex]] chooses a
  *                             codec; every other entry reads it here;
  *   `cells/batch=-1/cell=N` — the seed corpus' cell-partitioned
  *                             vectors (batch -1 = oldest history,
  *                             the [[BatchIndex]] seed convention);
  *   `cells/batch=M/cell=N`  — micro-batch M's admitted vectors.
  *
  * FIXED centroids are the design point, not a shortcut: a cell id is
  * only meaningful relative to the quantizer that produced it, so
  * retraining centroids as data arrives would strand every previously
  * written partition (Faiss's IVF append story makes the same call —
  * add to a trained index, retrain offline as a REBUILD). A deployment
  * whose distribution drifts re-seeds a fresh index dir and swaps.
  *
  * Probe scale shape: the probed-cell literal IN prunes to nProbe cell
  * directories per batch partition. Batch partitions multiply the
  * directory count, which is the same listing growth the dedup stores
  * have — and the same [[compactIndex]] folds batches `<= N` back into
  * the seed partition to bound it.
  *
  * Replay safety: each batch overwrites its OWN `cells/batch=M`
  * subtree and reads nothing, so replays converge; a probe pinned to
  * `beforeBatch = M` sees exactly the pre-M index state regardless of
  * in-flight appends.
  */
object VectorIndexStream {

  /** Seed the index: train the codec's artifacts on the seed corpus
    * (the coarse centroids, plus the SQ8 grid and the PQ codebook for
    * the quantized codecs), pin them with the meta header that names
    * the codec, then write the corpus as the `batch=-1` partition. The
    * pinned artifacts serve every future append and probe: stored
    * codes are only comparable under the grid and codebook that
    * produced them, exactly as cell ids are under the centroids.
    * Streamed vectors outside the pinned SQ8 ranges clamp, the
    * standard saturation behavior.
    *
    * `codec` is the payload ([[VectorCodec]]): Flat (default) stores
    * full-precision vectors, Sq8 4x smaller codes, Pq(m, kCent) m code
    * bytes per vector. `centroids` swaps the quantizer: None picks the
    * deterministic md5-sampled table ([[Similarity.ivfCentroids]], the
    * oracle-verifiable default); pass [[Similarity.kmeansCentroids]]'s
    * output (or any (cent_id, cent_vec) frame) to pin a TRAINED
    * quantizer — same serving path, since every consumer reads the
    * quantizer from the store. */
  def seedIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      nLists: Int = 8, centroids: Option[DataFrame] = None,
      codec: VectorCodec = VectorCodec.Flat): Unit =
    writeCells(
      VectorCodec.train(codec, corpus, idCol, vecCol, nLists, centroids, indexDir),
      corpus, idCol, vecCol, indexDir, -1L)

  /** Append one batch: assign against the STORED centroids (always on
    * the full-precision vectors — storage compression never degrades
    * cell placement), encode the payload under the pinned codec, and
    * overwrite the batch's own cell-partitioned subtree. Also the
    * batch-backfill entry point (ingesting a static corpus as one
    * numbered batch). */
  def appendBatch(
      batch: DataFrame, idCol: String, vecCol: String, indexDir: String,
      batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be non-negative, got $batchId " +
      "(batch -1 is the seed partition)")
    writeCells(pinnedAt(batch.sparkSession, indexDir), batch, idCol, vecCol,
      indexDir, batchId)
  }

  private def pinnedAt(spark: SparkSession, indexDir: String): VectorCodec.Pinned =
    VectorCodec.load(spark, indexDir, s"vector store at $indexDir")

  private def writeCells(
      pinned: VectorCodec.Pinned, df: DataFrame, idCol: String, vecCol: String,
      indexDir: String, batchId: Long): Unit = {
    MaintenanceLease.refuseIfHeld(
      df.sparkSession, indexDir, s"append batch=$batchId")
    VectorCodec.encodeCells(pinned, df, idCol, vecCol, indexDir)
      .repartition(col("cell"))
      // id-sorted within each cell file: parquet row-group min/max on
      // the id column stay tight, so id-point reads (the refine stage's
      // literal-IN pushdown) skip non-intersecting row groups
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"$indexDir/cells/batch=$batchId")
    BatchIndex.stampBatch(df.sparkSession, s"$indexDir/cells", batchId)
  }

  /** The streaming-writer shape the vector appender and the delete
    * feed share: write the batch under its own partition, then let
    * `emit` observe it. */
  private def streamTo(
      vectors: DataFrame, checkpointDir: String,
      append: (DataFrame, Long) => Unit,
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    vectors.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, batchId)
        emit(batch, batchId)
        ()
      }

  /** Streaming writer: every micro-batch's vectors are appended under
    * their own batch partition ([[appendBatch]]). The store must be
    * seeded before the stream starts; its pinned artifacts are loaded
    * ONCE here and replayed as local frames, so no micro-batch re-lists
    * or re-reads them on the hot path. `emit` (optional) observes each
    * batch after its index write lands. Start with `.start()`. */
  def indexStreamTo(
      vectors: DataFrame, idCol: String, vecCol: String,
      indexDir: String, checkpointDir: String)(
      emit: (DataFrame, Long) => Unit = (_, _) => ()): DataStreamWriter[Row] = {
    val pinned = pinnedAt(vectors.sparkSession, indexDir)
    streamTo(vectors, checkpointDir,
      (b, i) => {
        require(i >= 0, s"batchId must be non-negative, got $i")
        writeCells(pinned, b, idCol, vecCol, indexDir, i)
      }, emit)
  }

  // Compaction journal protocol (same guarantees as BatchIndex): while
  // `cells/_compact_journal` exists the store is mid-swap and reads
  // REFUSE loudly — a partial swap state could silently drop the seed
  // and every folded batch. The journal is committed ATOMICALLY (write
  // to a temp name, rename into place — a crash mid-write must never
  // leave a truncated delete list that recovery would half-execute)
  // and only after the staged seed is complete. Its first line names
  // the nonce staging dir, so recovery is STATE-AWARE: staging still
  // present means the swap has not happened — re-execute the deletes
  // and promote; staging gone means the rename already promoted it —
  // the `batch=-1` on disk IS the new seed and replaying the deletes
  // would destroy it, so recovery only clears the journal. Every
  // fs.rename result is asserted: a false return (or a dest-exists
  // local-FS move-inside) proceeding to the journal delete would
  // strand the staged history invisibly.
  private val Journal = "_compact_journal"
  private val JournalTmp = "_compact_journal.tmp"
  private val StagingPrefix = "_compact_seed-"

  private def renamed(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(dst)) throw new IllegalStateException(
      s"compaction swap: rename target $dst already exists — refusing " +
        "(a local-FS rename would silently move the source INSIDE it)")
    if (!fs.rename(src, dst)) throw new IllegalStateException(
      s"compaction swap: rename $src -> $dst failed — the journal is " +
        "left in place; re-run compactIndex to retry the swap")
  }

  private def recoverPendingCompaction(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path): Unit = {
    // a temp journal is pre-commit debris: no mutation has happened yet
    val tmp = new org.apache.hadoop.fs.Path(root, JournalTmp)
    if (fs.exists(tmp)) fs.delete(tmp, false)
    val journal = new org.apache.hadoop.fs.Path(root, Journal)
    if (!fs.exists(journal)) {
      // no journal -> any staging dir is from an attempt that died
      // before commit; the original layout is intact, drop the debris
      fs.listStatus(root).foreach { e =>
        if (e.isDirectory && e.getPath.getName.startsWith(StagingPrefix))
          fs.delete(e.getPath, true)
      }
      return
    }
    val in = fs.open(journal)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
                finally in.close()
    val stagingName = lines.collectFirst { case l if l.startsWith("S ") =>
      l.stripPrefix("S ") }
      .getOrElse(throw new IllegalStateException(
        s"compaction journal at $root names no staging dir — unknown " +
          "format, refusing to guess at a swap"))
    val staging = new org.apache.hadoop.fs.Path(root, stagingName)
    if (fs.exists(staging)) {
      // pre-promotion crash: batch=-1 (if present) is still the OLD
      // seed the journal lists for deletion — finish the swap
      lines.collect { case l if l.startsWith("D ") => l.stripPrefix("D ") }
        .foreach { name =>
          fs.delete(new org.apache.hadoop.fs.Path(root, name), true)
        }
      renamed(fs, staging, new org.apache.hadoop.fs.Path(root, "batch=-1"))
    }
    // staging gone: the rename promoted it — batch=-1 is the NEW seed;
    // replaying the deletes here would destroy it (the lost-store bug).
    // `P name` lines (delete `name` under the INDEX root, the cell
    // dir's parent) execute in BOTH branches, idempotently, BEFORE the
    // journal clears: purgeTombstones names its tombstone sub-store
    // this way, so the tombstone drop is atomic with the swap — a
    // crash can never leave the purged (re-dated) rows visible beside
    // the tombstones that would re-kill their re-appended ids on the
    // next read or purge re-run.
    lines.collect { case l if l.startsWith("P ") => l.stripPrefix("P ") }
      .foreach { name =>
        fs.delete(new org.apache.hadoop.fs.Path(root.getParent, name), true)
      }
    fs.delete(journal, false)
  }

  /** Fold batch partitions `<= throughBatch` into the seed partition —
    * the listing-growth bound, same contract as the dedup stores'
    * compaction. Requires the writing stream stopped or between
    * batches. (Implemented directly rather than via [[BatchIndex]]:
    * the cell sub-partitioning must survive the rewrite, so rows are
    * re-written `partitionBy("cell")` instead of as flat seed files.)
    * Crash-safe via the journal protocol above: a crash at any point
    * either leaves the old layout intact (journal not yet written) or
    * is completed by the next [[compactIndex]] call (journal present —
    * reads fail loudly until then, never serve a partial store). */
  def compactIndex(
      spark: SparkSession, indexDir: String, throughBatch: Long): Unit = {
    require(throughBatch >= 0, "throughBatch must be non-negative")
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // tombstone resolution is BATCH-ORDERED (deadIds/purge compare an
    // id's append batch against its delete batch), and folding
    // re-dates every folded row to the seed's batch -1 — BELOW any
    // delete batch. Compacting with tombstones outstanding would
    // silently flip a re-appended id from alive to dead, so refuse:
    // purge first (purge itself folds, resolving before the batch
    // column is destroyed).
    if (Tombstones.exists(spark, indexDir))
      throw new IllegalStateException(
        s"$indexDir holds tombstones — purgeTombstones before " +
          "compactIndex: folding re-dates rows to the seed's batch -1, " +
          "which would flip batch-ordered delete resolution for " +
          "re-appended ids")
    val lease = MaintenanceLease.acquire(spark, indexDir,
      s"compact-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
    recoverPendingCompaction(fs, root)
    val batchDirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => batchIdOf(s.getPath.getName))
    val folding = batchDirs.filter(b => b >= 0 && b <= throughBatch)
    if (folding.isEmpty) return
    // folding the NEWEST batch would let a fence pinned just above it
    // suddenly see rows it used to exclude (seed reads as oldest
    // history) — same rule as BatchIndex.compact
    val maxBatch = batchDirs.max
    require(throughBatch < maxBatch,
      s"compactIndex(throughBatch=$throughBatch) would fold the newest " +
        s"batch ($maxBatch) into the seed partition, which re-includes it " +
        s"under every fence — compact through at most ${maxBatch - 1}")
    // read seed + folding partitions, rewrite into a staging seed, swap
    val foldNames = (Seq(-1L).filter(batchDirs.contains) ++ folding)
      .map(b => s"batch=$b")
    // basePath makes the multi-root read infer (batch, cell) partition
    // columns consistently; batch is then dropped — the folded rows all
    // become seed history
    val stagingName =
      StagingPrefix + java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(root, stagingName)
    val merged = spark.read.option("basePath", s"$indexDir/cells")
      .parquet(foldNames.map(n => s"$indexDir/cells/$n"): _*)
      .drop("batch")
    merged.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(staging.toString)
    // staging complete -> commit the journal ATOMICALLY (temp + rename:
    // a torn journal would make recovery delete a subset of the folded
    // dirs and then mis-promote), then perform the swap; a crash
    // anywhere after the rename below is finished state-awarely by
    // recoverPendingCompaction
    val tmp = new org.apache.hadoop.fs.Path(root, JournalTmp)
    val out = fs.create(tmp, true)
    try out.write(
      ((s"S $stagingName" +: foldNames.map(n => s"D $n"))
        .mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
    renamed(fs, tmp, new org.apache.hadoop.fs.Path(root, Journal))
    foldNames.foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true)
    }
    renamed(fs, staging, new org.apache.hadoop.fs.Path(root, "batch=-1"))
    fs.delete(new org.apache.hadoop.fs.Path(root, Journal), false)
    BatchIndex.pruneStamps(spark, s"$indexDir/cells")
    } finally MaintenanceLease.release(spark, lease)
  }

  /** `batch=N` partition-name parse that skips stray non-numeric
    * entries instead of throwing mid-maintenance (BatchIndex.batchOf's
    * contract). */
  private def batchIdOf(name: String): Option[Long] =
    if (name.startsWith("batch=")) name.stripPrefix("batch=").toLongOption
    else None

  /** Tombstone one batch of DELETIONS — ids whose vectors must stop
    * appearing in probe results (user deletion requests, revoked
    * licenses, recalled documents: the delete half of the CDC story
    * q229 materializes relationally). Stored under the shared
    * [[Tombstones]] layout (`_tombstones/batch=N`, stamped) — the one
    * protocol every durable store's delete path runs through — so
    * retention and as-of fences compose unchanged: a probe pinned
    * before the delete batch still sees the vector, the live probe
    * does not. Serving subtracts [[deadIds]] (re-appends resolved
    * latest-batch-wins; [[liveTombstones]] is the raw terminal set)
    * BEFORE ranking via the `excludeIds` hook on
    * [[filteredTopKFromIndex]] and [[Similarity.ivfTopKFromIndex]], so a
    * deleted top hit is replaced by the next-best live vector, never
    * silently shortening the top-k. Physical removal rides the
    * existing maintenance ops: compaction folds history and retention
    * drops expired delete batches with their cell batches. */
  def deleteBatch(
      spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String, batchId: Long): Unit =
    Tombstones.writeBatch(spark, indexDir, ids.select(col(idCol)), batchId)

  /** The RAW tombstoned-id set — distinct ids over every delete
    * batch; an empty (idCol: idType) frame when the store has never
    * seen a delete. `beforeBatch` pins the set as of a replay fence
    * (only delete batches strictly below it count), the same
    * time-travel contract every other batch=N store serves.
    *
    * This set reads a tombstone as TERMINAL: an id stays in it even
    * if a later batch re-appended the vector. When appends and
    * deletes share one batch clock (a single CDC feed, or manually
    * coordinated batch ids), [[deadIds]] instead resolves each id
    * latest-batch-wins against the cell store — the exclude set the
    * serving probes should subtract.
    *
    * `idType` names the id column's type for the never-deleted empty
    * frame (the stored tombstones carry their own schema) — a store
    * keyed by strings must not get a long-typed empty set whose
    * anti-join casts differently between the two branches. */
  def liveTombstones(
      spark: SparkSession, indexDir: String, idCol: String,
      beforeBatch: Option[Long] = None,
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame =
    Tombstones.readInferred(spark, indexDir, beforeBatch) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(idCol, idType))))
      case Some(all) => all.select(col(idCol)).distinct()
    }

  /** Per-id MAX delete batch under an optional fence — None when the
    * store has never seen a delete. The batch-ordered face of the
    * tombstone store ([[deadIds]] and [[purgeTombstones]] resolve
    * against it). */
  private def tombstoneMaxBatch(
      spark: SparkSession, indexDir: String, idCol: String,
      beforeBatch: Option[Long]): Option[DataFrame] =
    Tombstones.readInferred(spark, indexDir, beforeBatch)
      .map(_.groupBy(col(idCol))
        .agg(max(col("batch")).as("del_batch")))

  /** The ids a probe must exclude, resolved LATEST-BATCH-WINS against
    * the cell store: an id is dead iff its newest delete batch is at
    * or above its newest append batch — a re-append AFTER the delete
    * revives it, exactly the upsert semantics [[latestPerId]] gives
    * reused ids (the seed partition's batch -1 is always below any
    * delete batch, so a deleted seed vector stays dead until
    * re-appended). A tombstone for an id the store never held is kept
    * in the set (a harmless no-op for the anti-join, and correct if
    * the append is still in flight: once it lands at a higher batch
    * the id revives on the next read).
    *
    * CONTRACT: the comparison is only meaningful when appends and
    * deletes share one batch clock — one CDC feed fanned to both
    * writers, or manually coordinated batch ids. Deletes arriving on
    * an UNRELATED stream's counter should use [[liveTombstones]]'s
    * terminal reading instead. On a shared clock, a batch carrying
    * both an append and a delete for one id resolves to DELETED
    * (`del_batch >= app_batch`) — a takedown is never lost to a tie.
    *
    * `beforeBatch` fences BOTH stores to the same admitted history,
    * so an as-of read excludes exactly what a live read at that fence
    * would have. */
  def deadIds(
      spark: SparkSession, indexDir: String, idCol: String,
      beforeBatch: Option[Long] = None): DataFrame =
    tombstoneMaxBatch(spark, indexDir, idCol, beforeBatch) match {
      case None =>
        // never-deleted: an empty set in the CELL store's own id type
        readCells(spark, indexDir, beforeBatch.getOrElse(Long.MaxValue))
          .select(col(idCol)).limit(0)
      case Some(del) =>
        // append batches are only needed for TOMBSTONED ids: the
        // broadcast semi-join prunes the aggregate's exchange to the
        // tombstone set (small by contract) instead of every stored id
        val app = readCells(
            spark, indexDir, beforeBatch.getOrElse(Long.MaxValue))
          .join(broadcast(del.select(col(idCol))), Seq(idCol), "left_semi")
          .groupBy(col(idCol))
          .agg(max(col("batch")).as("app_batch"))
        del.join(app, Seq(idCol), "left")
          .filter(col("app_batch").isNull ||
            col("del_batch") >= col("app_batch"))
          .select(col(idCol))
    }

  /** Streaming DELETES: every micro-batch of ids becomes one
    * tombstone batch ([[deleteBatch]]) under the stream's own batch
    * ids — the takedown-feed consumer, exactly-once by the same
    * overwrite-idempotent batch layout the vector appenders use (a
    * replayed micro-batch rewrites its own tombstone partition).
    * Start with `.start()`. */
  def deleteStreamTo(
      ids: DataFrame, indexDir: String, checkpointDir: String,
      idCol: String): DataStreamWriter[Row] =
    streamTo(ids, checkpointDir,
      (batch, bid) =>
        deleteBatch(batch.sparkSession, indexDir, batch, idCol, bid),
      (_, _) => ())

  /** PHYSICALLY remove tombstoned vectors — the completion of the
    * delete path (a takedown is not done while the bytes remain on
    * disk): fold EVERY cell batch partition into the seed, resolving
    * id reuse latest-batch-wins BEFORE the batch column is destroyed,
    * subtract the tombstones BATCH-ORDERED (a row survives iff its
    * latest append batch is ABOVE the id's latest delete batch — a
    * re-append after the delete revives the id, [[deadIds]]'s exact
    * shared-clock contract; ties resolve to deleted), then drop the
    * tombstone store entirely (a kept tombstone is either executed or
    * superseded by the re-append that outlived it). Collapses batch
    * fences by design — physical deletion must destroy fenced history
    * too, the same posture as `expireIndex(dropSeed = true)`; after a
    * purge, probes need no `excludeIds` and as-of reads see only the
    * purged seed. REFUSES a purge that would empty the store (every
    * id dead): the staged seed would carry no parquet files and every
    * later probe would crash on schema inference — mirror of
    * [[expireIndex]]'s keep-at-least-one rule; re-seed a fresh dir
    * instead. Crash-safe via [[compactIndex]]'s exact staging+journal
    * protocol: a crash before the journal rename leaves the old
    * layout intact (staging is debris), a crash after it is completed
    * by `recoverPendingCompaction` on the next maintenance call, and
    * reads refuse a journaled store loudly in between. The tombstone
    * drop rides the journal (`P tombstones`, executed by recovery in
    * every branch), so no crash can leave the re-dated seed visible
    * beside tombstones that would flip its re-appended ids back to
    * dead on the next read or purge re-run. Requires the
    * writing stream stopped or between batches. Payload-agnostic
    * (flat vectors, SQ8 codes, and PQ codes purge identically). */
  def purgeTombstones(
      spark: SparkSession, indexDir: String, idCol: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val lease = MaintenanceLease.acquire(spark, indexDir,
      s"purge-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
    recoverPendingCompaction(fs, root)
    val tsRoot = new org.apache.hadoop.fs.Path(Tombstones.dirOf(indexDir))
    if (!fs.exists(tsRoot)) return
    // the RESOLVED set is pinned by an eager listing: every mutation
    // below (the del read's fence, the journal's P lines, the live
    // deletes) names exactly these batches, so a tombstone batch that
    // lands after this point — a takedown arriving while a crashed
    // purge's journal awaits replay, or during an expired-lease window
    // — is never destroyed unresolved. It stays on disk, keeps masking
    // (conservatively: against re-dated rows a kept tombstone re-kills
    // a same-key re-admission — takedowns win ties by design, and
    // false-dead is the safe direction for a takedown system), and the
    // next purge resolves it for real.
    val tombNames = fs.listStatus(tsRoot).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).sorted
    val maxListed = tombNames
      .flatMap(n => n.stripPrefix("batch=").toLongOption)
      .maxOption.getOrElse(-1L)
    // retirement is the shared helper's bounded drop: only batches at
    // or below the pinned horizon fall (the batch clock is monotone,
    // so listed == resolved here); later arrivals survive unresolved
    def dropResolvedTombstones(): Unit = {
      Tombstones.dropThrough(spark, indexDir, maxListed)
      ()
    }
    val delOpt = tombstoneMaxBatch(spark, indexDir, idCol,
      Some(maxListed + 1L))
    // no tombstone batches to resolve: retire any stamps-only debris a
    // recovered crash left behind (the journal's per-batch P lines
    // delete batch dirs but not the sub-store's stamp directory)
    if (delOpt.isEmpty) { dropResolvedTombstones(); return }
    val del = delOpt.get
    if (del.isEmpty) { dropResolvedTombstones(); return }
    val batchDirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => batchIdOf(s.getPath.getName))
    if (batchDirs.isEmpty) { dropResolvedTombstones(); return }
    val foldNames = batchDirs.sorted.map(b => s"batch=$b")
    val all = spark.read.option("basePath", s"$indexDir/cells")
      .parquet(foldNames.map(n => s"$indexDir/cells/$n"): _*)
    val payload = all.columns.toSeq.filterNot(c => c == idCol || c == "batch")
    val survivors = latestPerId(all, idCol, payload :+ "batch")
      .join(broadcast(del), Seq(idCol), "left")
      .filter(col("del_batch").isNull || col("batch") > col("del_batch"))
      .select((idCol +: payload).map(col): _*)
    if (survivors.isEmpty) throw new IllegalStateException(
      s"purgeTombstones at $indexDir would remove every row of the " +
        "store, leaving a seed whose probes crash on parquet schema " +
        "inference instead of answering empty — re-seed a fresh index " +
        "dir (and drop this one whole) instead of purging to nothing")
    val stagingName =
      StagingPrefix + java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(root, stagingName)
    survivors.repartition(col("cell"))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(staging.toString)
    val tmp = new org.apache.hadoop.fs.Path(root, JournalTmp)
    val out = fs.create(tmp, true)
    // the per-batch `P _tombstones/batch=N` lines make the RESOLVED
    // tombstone batches' drop part of the journaled swap: recovery
    // executes them in both branches, so there is no window where the
    // re-dated seed coexists with the tombstones the rewrite already
    // executed (which would flip its re-appended ids back to dead, and
    // a purge re-run would then destroy them). Naming each batch —
    // never the whole directory — means a takedown batch that lands
    // AFTER this journal commits survives the replay unresolved
    // instead of being silently destroyed with the store.
    try out.write(
      ((s"S $stagingName" +: foldNames.map(n => s"D $n")) ++
        tombNames.map(n => s"P _tombstones/$n"))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    renamed(fs, tmp, new org.apache.hadoop.fs.Path(root, Journal))
    foldNames.foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(root, n), true)
    }
    renamed(fs, staging, new org.apache.hadoop.fs.Path(root, "batch=-1"))
    dropResolvedTombstones()
    fs.delete(new org.apache.hadoop.fs.Path(root, Journal), false)
    BatchIndex.pruneStamps(spark, s"$indexDir/cells")
    } finally MaintenanceLease.release(spark, lease)
  }

  /** Retention: drop batch partitions admitted before `keepFromBatch`
    * (the seed too when `dropSeed`) — bounds total store size for
    * bounded-window deployments, exactly as the dedup stores' expire.
    * Expired vectors stop appearing in probe results and stop acting
    * as semantic-dedup history, so their near-duplicates re-admit.
    * Payload-agnostic (flat, SQ8, and PQ cells all expire the same
    * way); a crash partway leaves some expired partitions for the next
    * call — removal is per-directory idempotent. Refuses a store
    * mid-compaction (the journal's staged rows must be promoted
    * first). */
  def expireIndex(
      spark: SparkSession, indexDir: String,
      keepFromBatch: Long, dropSeed: Boolean = false): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(root, Journal)))
      throw new IllegalStateException(
        s"$indexDir/cells holds a compaction journal — complete the " +
          "pending compactIndex before expiring history")
    val lease = MaintenanceLease.acquire(spark, indexDir,
      s"expire-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
    val parts = fs.listStatus(root).toSeq
      .flatMap(e =>
        if (e.isDirectory) batchIdOf(e.getPath.getName).map(e.getPath -> _)
        else None)
    def expired(b: Long): Boolean =
      if (b == -1L) dropSeed else b < keepFromBatch
    // expiring EVERYTHING would leave a store whose probes crash on
    // parquet schema inference instead of answering empty — refuse,
    // mirroring compactIndex's newest-batch rule
    require(parts.exists { case (_, b) => !expired(b) },
      s"expireIndex(keepFromBatch=$keepFromBatch, dropSeed=$dropSeed) would " +
        "expire every partition of the store — keep at least the newest " +
        "batch, or re-seed a fresh index dir instead")
    parts.foreach { case (p, b) => if (expired(b)) fs.delete(p, true) }
    BatchIndex.pruneStamps(spark, s"$indexDir/cells")
    } finally MaintenanceLease.release(spark, lease)
  }

  /** Time-based [[expireIndex]]: drop batch partitions admitted before
    * `cutoffMillis`, resolved against the per-batch admission stamps
    * the appenders write (FS mtime for pre-stamp stores) — the
    * wall-clock face of batch-id retention, shared with every other
    * durable store ([[BatchIndex.expireOlderThan]]'s contract: the
    * newest batch always survives, the seed only falls to the explicit
    * `dropSeed`). Payload-agnostic like [[expireIndex]]. */
  def expireIndexOlderThan(
      spark: SparkSession, indexDir: String, cutoffMillis: Long,
      dropSeed: Boolean = false): Unit =
    BatchIndex.keepFromForCutoff(spark, s"$indexDir/cells", cutoffMillis)
      .foreach(k => expireIndex(spark, indexDir, k, dropSeed))

  /** fsck: classify the cell store's partitions against the writing
    * stream's checkpoint ([[BatchIndex.verifyStore]] — the seed
    * `batch=-1` is backfill domain and never flagged). An orphan here
    * serves wrong neighbors forever: no replay overwrites it, every
    * probe fence admits it. Payload-agnostic. */
  def verifyIndex(
      spark: SparkSession, indexDir: String,
      checkpointDir: String): StoreCheck =
    BatchIndex.verifyStore(spark, s"$indexDir/cells", checkpointDir)

  /** Move every orphan [[verifyIndex]] reports under
    * `cells/_quarantine/` — rename-only, and invisible to the probe
    * paths because partition discovery skips `_`-prefixed directories
    * ([[BatchIndex.quarantineOrphans]]). */
  def quarantineIndexOrphans(
      spark: SparkSession, indexDir: String,
      checkpointDir: String): Seq[Long] =
    BatchIndex.quarantineOrphans(spark, s"$indexDir/cells", checkpointDir)

  /** Two-stage PQ + exact refine SERVED FROM STREAMED STORES — the
    * streamed face of [[Similarity.pqRefinedTopKFromIndex]] (Faiss
    * IndexRefineFlat over a live index): the ADC shortlist runs
    * against THIS store's codes ([[topKFromIndex]] at k = rerankR:
    * pinned grid + codebook, probed-cell pruning, fenced batches),
    * then the |Q| x rerankR candidate ids are collected driver-side
    * (the same bounded-artifact posture as the ADC LUT) and pushed as
    * a literal IN onto a FLAT companion store (`seedIndex`/
    * `appendBatch` over the same vectors — the full-precision history
    * the refine needs), so the exact-cosine re-rank reads only row
    * groups intersecting the shortlist. Both stores share the
    * [[BatchIndex]] lifecycle (stamps, fences, compaction, expiry),
    * so one `beforeBatch` pins BOTH to the same admitted history.
    *
    * Scale shape: the corpus is scanned once as m-byte codes (probed
    * cells only); the flat store contributes an id-pruned point read;
    * nothing full-precision is ever scanned corpus-wide. */
  def pqRefinedTopKFromIndex(
      spark: SparkSession, pqIndexDir: String, vecsIndexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerankR: Int, nProbe: Int = 1,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    require(rerankR >= k, s"rerankR=$rerankR must be >= k=$k")
    val shortlist = topKFromIndex(spark, pqIndexDir, queries,
        idCol, vecCol, k = rerankR, nProbe = nProbe,
        beforeBatch = beforeBatch)
      .select(col("query_id"), col("neighbor_id"))
    val slRows = shortlist.collect()
    val ids = slRows.map(_.getLong(1)).distinct.sorted
    val slLocal = spark.createDataFrame(
      java.util.Arrays.asList(slRows: _*), shortlist.schema)
    val idFilter =
      if (ids.isEmpty) lit(false) else col(idCol).isin(ids: _*)
    val vecs = latestPerId(
      readCells(spark, vecsIndexDir, beforeBatch, cellFilter = lit(true))
        .filter(idFilter)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
          col("batch")),
      "neighbor_id", Seq("c_vec"))
    val qvec = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    vecs.join(broadcast(slLocal), Seq("neighbor_id"))
      .join(broadcast(qvec), Seq("query_id"))
      .withColumn("cos", graft.functions.VectorFunctions.cosineSim(
        col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Quantizer-drift report — the store-health gauge a PINNED
    * quantizer needs at 100 TB: centroids (and SQ8 grids / PQ
    * codebooks) are trained once at seed time, so as the embedding
    * distribution drifts, new batches concentrate into fewer cells —
    * probe candidate lists grow (cost), in-cell variance grows
    * (recall), and neither shows up in any per-query signal until it
    * is bad. This reads ONLY the store's (cell, batch) columns and
    * reports, per (batch, cell): the vector count, the cell's share
    * of its batch in exact integer millis (n*1000 div batch_total),
    * the batch's max share, the SEED's max share (the pinned
    * baseline), and `reseed_recommended` — true when the batch's max
    * share exceeds the seed's by `driftFactorMillis`/1000 (default
    * 2x). Integer arithmetic throughout: the decision is a
    * deterministic function of the stored assignments, no float
    * thresholds to flip. A flagged batch means the pinned quantizer
    * no longer matches the data — re-seed (re-train centroids/grid/
    * codebook on fresher data) and re-encode, the standard IVF
    * re-train trade. Payload-agnostic (flat/SQ8/PQ cells all carry
    * cell + batch). */
  def occupancyDriftReport(
      spark: SparkSession, indexDir: String,
      driftFactorMillis: Long = 2000L,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val occ = readCells(spark, indexDir, beforeBatch)
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("batch"), lit(-1L)).as("batch"))
      .groupBy(col("batch"), col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val w = Window.partitionBy(col("batch"))
    val shares = occ
      .withColumn("batch_total", sum(col("n_vectors")).over(w))
      .withColumn("cell_share_millis",
        expr("n_vectors * 1000 div batch_total"))
      .withColumn("batch_max_share_millis",
        max(col("cell_share_millis")).over(w))
      .drop("batch_total")
    // the aggregate always yields ONE row (null when the seed is gone
    // — a dropSeed retention), and a null baseline REFUSES at
    // execution: a gauge silently reporting "no drift" against a
    // missing baseline is exactly the monitoring failure it exists to
    // prevent
    val seedMax = shares.filter(col("batch") === -1L)
      .agg(max(col("cell_share_millis")).as("m"))
      .select(when(col("m").isNotNull, col("m"))
        .otherwise(raise_error(lit(
          s"occupancyDriftReport at $indexDir: the store has no seed " +
            "partition (batch=-1) — the pinned drift baseline is gone " +
            "(dropSeed retention?); re-seed before gauging drift")))
        .as("seed_max_share_millis"))
    shares.crossJoin(broadcast(seedMax))
      .withColumn("reseed_recommended",
        col("batch") =!= -1L &&
          col("batch_max_share_millis") * 1000L >
            col("seed_max_share_millis") * driftFactorMillis)
      .select(col("batch"), col("cell"), col("n_vectors"),
        col("cell_share_millis"), col("batch_max_share_millis"),
        col("seed_max_share_millis"), col("reseed_recommended"))
  }


  /** APPLY half of the quantizer-drift loop
    * ([[occupancyDriftReport]]/[[sq8BoundaryReport]]/
    * [[pqCodeUsageReport]] measure, this acts): re-seed a drifted store
    * into `newIndexDir`, same codec, with every pinned artifact
    * RETRAINED on the store's own LIVE corpus — every live id's
    * latest-batch-wins vector, tombstones subtracted — so the new
    * quantizer spans the distribution the store holds now, not the one
    * it held at seed time. The standard IVF re-train trade: cell ids
    * and codes are NOT comparable across quantizers, so the rebuild
    * lands in a fresh directory and serving cuts over atomically by
    * [[StorePointer.publish]]; the old store stays intact for as-of
    * reads until retired.
    *
    * The live vectors come from the store itself for a flat store, or
    * from `sourceCorpus` ([[liveCorpusFromSource]]: the store's live
    * ids joined back to the upstream corpus). A quantized store holds
    * CODES — its original vectors are gone — so it needs the source
    * and refuses loudly without one: decode-re-encode would bake the
    * old grid's quantization error into the new store permanently. */
  def rebuildIndex(
      spark: SparkSession, indexDir: String, newIndexDir: String,
      idCol: String, vecCol: String, nLists: Int = 8,
      beforeBatch: Long = Long.MaxValue,
      sourceCorpus: Option[DataFrame] = None): Unit = {
    require(newIndexDir != indexDir,
      "rebuildIndex writes a FRESH store — cell ids are not comparable " +
        "across quantizers, so rebuilding in place would corrupt every " +
        "concurrent reader; pass a new directory and cut over by path")
    val codec = pinnedAt(spark, indexDir).codec
    if (codec != VectorCodec.Flat && sourceCorpus.isEmpty)
      throw new IllegalStateException(
        s"store at $indexDir holds no '$vecCol' column — a quantized " +
          "(SQ8/PQ) store stores codes, not vectors; rebuild it by " +
          "re-ingesting the source corpus (decode-re-encode would bake " +
          "the old grid's quantization error into the new store)")
    // materialize the live corpus ONCE: the seed consumes it in
    // SEPARATE ACTIONS (centroid sample, ranges, the cell write), and
    // as a lazy lineage each action re-runs the store scan + latestPerId
    // shuffle (or the source join) + tombstone resolution (guide §1.2 —
    // the cross-action case where a localCheckpoint pays). Blocks are
    // freed when the seed returns.
    val live = sourceCorpus.fold(
        latestPerId(
            readCells(spark, indexDir, beforeBatch)
              .select(col(idCol), col(vecCol), col("batch")),
            idCol, Seq(vecCol))
          .join(broadcast(
              deadIds(spark, indexDir, idCol, Some(beforeBatch))
                .select(col(idCol))),
            Seq(idCol), "left_anti"))(
        liveCorpusFromSource(spark, indexDir, _, idCol, vecCol, beforeBatch))
      .select(col(idCol), col(vecCol))
      .localCheckpoint()
    try seedIndex(live, idCol, vecCol, newIndexDir, nLists, codec = codec)
    finally NearDedupStream.dropLocalCheckpoint(live)
  }

  /** The LIVE ids' full-precision vectors re-ingested from the SOURCE
    * corpus — the quantized-store rebuild path ([[rebuildIndex]]'s
    * `sourceCorpus`): the store's live id set
    * (latest-batch-wins survivors minus [[deadIds]]) joins back to the
    * upstream corpus that still holds the original vectors. A live id
    * MISSING from the source refuses loudly at execution — a rebuild
    * silently dropping a vector the old store still serves is exactly
    * the half-state the cutover protocol exists to prevent. Scale
    * shape: one (id)-only scan of the store, one key join against the
    * source (shuffle on the id — the rebuild is an offline op and the
    * source is the big side), nothing decoded from stored codes. */
  private def liveCorpusFromSource(
      spark: SparkSession, indexDir: String, sourceCorpus: DataFrame,
      idCol: String, vecCol: String, beforeBatch: Long): DataFrame = {
    require(sourceCorpus.columns.contains(vecCol),
      s"source corpus must carry the full-precision '$vecCol' column — " +
        s"got ${sourceCorpus.columns.toSeq}")
    val liveIds = readCells(spark, indexDir, beforeBatch)
      .select(col(idCol)).distinct()
      .join(broadcast(
          deadIds(spark, indexDir, idCol, Some(beforeBatch))
            .select(col(idCol))),
        Seq(idCol), "left_anti")
    liveIds
      .join(sourceCorpus.select(col(idCol), col(vecCol)), Seq(idCol), "left")
      .withColumn(vecCol,
        when(col(vecCol).isNotNull, col(vecCol))
          .otherwise(raise_error(concat(
            lit("rebuild at "), lit(indexDir), lit(": live id "),
            col(idCol).cast("string"),
            lit(" is missing from the source corpus — the rebuilt store " +
              "would silently drop a vector the old store still serves; " +
              "fix the source feed or tombstone the id first")))))
  }


  /** RANGE-drift gauge for the SQ8 store — [[occupancyDriftReport]]'s
    * complement: occupancy catches DIRECTION drift (batches
    * concentrating into fewer cells), this catches MAGNITUDE drift
    * (values escaping the pinned per-dimension quantization ranges).
    * An out-of-range coordinate clamps to code 0 or 255 — standard
    * SQ8 saturation, correct for stragglers, silent recall loss when
    * it becomes the norm (clamped dimensions stop discriminating).
    * Reads ONLY the stored codes and reports per batch: vector/code
    * counts, boundary-code counts (0s and 255s — the seed's own
    * min/max rows legitimately sit there, which is exactly why the
    * SEED share is the baseline), the share in exact integer millis,
    * and `regrid_recommended` when a batch's boundary share exceeds
    * the seed's by `driftFactorMillis`/1000 (default 2x). A flagged
    * batch means the pinned grid no longer spans the data — re-seed
    * (retrain ranges, re-encode), the same trade as the centroid
    * gauge. Pure integer decision — hash-exact. */
  def sq8BoundaryReport(
      spark: SparkSession, indexDir: String,
      driftFactorMillis: Long = 2000L,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val agg = readCells(spark, indexDir, beforeBatch)
      .select(coalesce(col("batch"), lit(-1L)).as("batch"),
        size(col("qv")).cast("long").as("w"),
        size(filter(col("qv"), x => x === 0L)).cast("long").as("nf"),
        size(filter(col("qv"), x => x === 255L)).cast("long").as("nc"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("w")).as("n_codes"),
        sum(col("nf")).as("n_floor"), sum(col("nc")).as("n_ceil"))
      .withColumn("boundary_share_millis",
        expr("(n_floor + n_ceil) * 1000 div n_codes"))
    // aggregate (never a filter): one row even when the seed is gone,
    // and the null baseline refuses at execution — same argument as
    // [[occupancyDriftReport]]'s
    val seed = agg.agg(max(when(col("batch") === -1L,
        col("boundary_share_millis"))).as("m"))
      .select(when(col("m").isNotNull, col("m"))
        .otherwise(raise_error(lit(
          s"sq8BoundaryReport at $indexDir: the store has no seed " +
            "partition (batch=-1) — the pinned range baseline is gone " +
            "(dropSeed retention?); re-seed before gauging drift")))
        .as("seed_boundary_share_millis"))
    agg.crossJoin(broadcast(seed))
      .withColumn("regrid_recommended",
        col("batch") =!= -1L &&
          col("boundary_share_millis") * 1000L >
            col("seed_boundary_share_millis") * driftFactorMillis)
      .select(col("batch"), col("n_vectors"), col("n_codes"),
        col("n_floor"), col("n_ceil"), col("boundary_share_millis"),
        col("seed_boundary_share_millis"), col("regrid_recommended"))
  }

  /** CODE-usage drift gauge for the PQ store — [[sq8BoundaryReport]]'s
    * PQ analog, closing the measure side for the last payload:
    * occupancy catches direction drift, the SQ8 gauge catches
    * magnitude drift, and this catches DISTRIBUTION COLLAPSE — the
    * production failure where an upstream encoder degrades and emits
    * near-constant vectors, every subvector snaps to the one codebook
    * entry nearest the collapsed point, and ADC distances stop
    * discriminating (every candidate reads the same code sum) with no
    * per-query symptom. Reads ONLY the stored m-byte codes and
    * reports, per (batch, subspace): the vector count, the most-used
    * code and its usage share in exact integer millis (ties to the
    * lower code index — deterministic), the batch's worst-subspace
    * share, the SEED's worst share (the pinned baseline — a healthy
    * codebook spreads its corpus, so the seed share is low), and
    * `recode_recommended` when a batch's worst share exceeds the
    * seed's by `driftFactorMillis`/1000 (default 2x). A flagged batch
    * means the pinned codebook no longer spans the data — re-ingest
    * from the source and retrain ([[rebuildIndex]] + pointer
    * cutover, the q284 path). Pure integer decision — hash-exact. */
  def pqCodeUsageReport(
      spark: SparkSession, indexDir: String,
      driftFactorMillis: Long = 2000L,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val use = readCells(spark, indexDir, beforeBatch)
      .select(coalesce(col("batch"), lit(-1L)).as("batch"),
        posexplode(col("codes")).as(Seq("s", "code")))
      .select(col("batch"), col("s").cast("long").as("s"),
        col("code").cast("long").as("code"))
      .groupBy(col("batch"), col("s"), col("code"))
      .agg(count(lit(1)).as("n"))
    val wS = Window.partitionBy(col("batch"), col("s"))
    val top = use
      .withColumn("n_codes", sum(col("n")).over(wS))
      .withColumn("rk", row_number().over(
        wS.orderBy(col("n").desc, col("code"))))
      .filter(col("rk") === 1)
      .select(col("batch"), col("s"), col("n_codes"),
        col("code").as("top_code"),
        expr("n * 1000 div n_codes").as("top_share_millis"))
    val shares = top.withColumn("batch_max_share_millis",
      max(col("top_share_millis")).over(Window.partitionBy(col("batch"))))
    // aggregate (never a filter): one row even when the seed is gone,
    // and the null baseline refuses at execution — same argument as
    // [[occupancyDriftReport]]'s
    val seedMax = shares.filter(col("batch") === -1L)
      .agg(max(col("top_share_millis")).as("m"))
      .select(when(col("m").isNotNull, col("m"))
        .otherwise(raise_error(lit(
          s"pqCodeUsageReport at $indexDir: the store has no seed " +
            "partition (batch=-1) — the pinned codebook baseline is " +
            "gone (dropSeed retention?); re-seed before gauging drift")))
        .as("seed_max_share_millis"))
    shares.crossJoin(broadcast(seedMax))
      .withColumn("recode_recommended",
        col("batch") =!= -1L &&
          col("batch_max_share_millis") * 1000L >
            col("seed_max_share_millis") * driftFactorMillis)
      .select(col("batch"), col("s"), col("n_codes"), col("top_code"),
        col("top_share_millis"), col("batch_max_share_millis"),
        col("seed_max_share_millis"), col("recode_recommended"))
  }


  /** The serve-time admission pipeline every FILTERED probe shares,
    * applied AFTER latest-batch-wins resolution and BEFORE ranking:
    * keep only `allowed` ids (broadcast semi-join — the request's
    * metadata predicate materialized as an id set), then subtract
    * `excludeIds` (broadcast anti-join — the takedown list,
    * [[deadIds]]). `allowed` must already be the single-column
    * `__allowed_id` frame. */
  private def servedRows(
      rows: DataFrame, id: String, allowed: DataFrame,
      excludeIds: Option[DataFrame]): DataFrame =
    VectorCodec.excluding(
      rows.join(broadcast(allowed), col(id) === col("__allowed_id"), "left_semi"),
      id, excludeIds)

  /** Per-cell SERVABLE candidate counts under the request's predicate
    * and takedown list — the exact floor statistic the auto-probe
    * choice ranks cell prefixes against. Scans only the store's
    * (id, cell) columns; a deployment maintaining per-cell metadata
    * counts as store stats serves it without any scan. */
  private def filteredCellCounts(
      spark: SparkSession, indexDir: String, idCol: String,
      beforeBatch: Long, allowed: DataFrame,
      excludeIds: Option[DataFrame]): DataFrame =
    servedRows(latestPerId(
        readCells(spark, indexDir, beforeBatch)
          .select(col(idCol), col("cell").cast("long").as("cell"),
            col("batch")),
        idCol, Seq("cell")), idCol, allowed, excludeIds)
      .groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))

  /** One row per stored id for a probe's candidate scan. The store's
    * id contract is global uniqueness across batches, but appends are
    * blind (they read nothing — that is the replay-safety design), so
    * a violated contract would otherwise DEGRADE SILENTLY: duplicate
    * ranked rows in the flat/SQ8 probes, and a summed-twice ADC
    * distance in the PQ probe (plausible-but-wrong rankings). Every
    * probe therefore resolves a reused id LATEST-BATCH-WINS — upsert
    * semantics, the deterministic reading of "this id was written
    * again" (within one batch the appenders already collapse to one
    * row, and batch ids are unique, so the max is unambiguous). The
    * map-side-partial `max_by` means one row per id reaches the
    * exchange, and the input is already pruned to the probed cells.
    *
    * The resolution is per-scan: a rewritten vector that MOVED cells
    * leaves its stale copy visible to probes of the old cell alone —
    * the same limitation as Faiss's add-with-duplicate-id (updating a
    * moved vector requires expiry/compaction or a re-seed, not a blind
    * re-append). What this guarantees is that no single scan ranks two
    * copies of one id, which is exactly the silent-corruption case. */
  private def latestPerId(
      cells: DataFrame, idCol: String, payload: Seq[String]): DataFrame =
    cells.groupBy(col(idCol))
      .agg(max_by(struct(payload.map(col): _*), col("batch")).as("m"))
      .select(col(idCol) +: payload.map(p => col("m." + p).as(p)): _*)

  /** Cell rows admitted before `beforeBatch`: (idCol as named in the
    * store, vector, cell, batch). `cellFilter` (a literal IN built from
    * a probe set) prunes directories statically when provided. Refuses
    * a store whose compaction journal is pending — a partial swap could
    * silently drop the seed and every folded batch; re-run
    * [[compactIndex]] to complete it first. */
  def readCells(
      spark: SparkSession, indexDir: String,
      beforeBatch: Long = Long.MaxValue,
      cellFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(new org.apache.hadoop.fs.Path(root, Journal)))
      throw new IllegalStateException(
        s"$indexDir/cells holds a compaction journal — a compaction is in " +
          "progress or crashed mid-swap; re-run compactIndex on this store " +
          "to complete it before reading")
    spark.read
      .option("basePath", s"$indexDir/cells")
      .parquet(s"$indexDir/cells")
      .filter(col("batch") < beforeBatch && cellFilter)
  }


  /** The store's candidate rows for one probe: the probed cells of the
    * batches admitted before `beforeBatch`, resolved latest-batch-wins
    * per id, then passed through `admit` (the filtered serve's
    * predicate and takedown list). */
  private def storeCandidates(
      spark: SparkSession, indexDir: String, idCol: String, stored: String,
      beforeBatch: Long, admit: DataFrame => DataFrame)(
      cellFilter: org.apache.spark.sql.Column): DataFrame =
    admit(latestPerId(
      readCells(spark, indexDir, beforeBatch, cellFilter)
        .select(col(idCol).as("neighbor_id"),
          col("cell").cast("long").as("cell"), col(stored).as("c_pay"),
          col("batch")),
      "neighbor_id", Seq("cell", "c_pay")))

  /** Top-k over everything admitted before `beforeBatch` (default: all
    * history), served from the stored artifacts alone through the one
    * IVF probe ([[VectorCodec.topK]]): queries assign against the
    * stored centroids, the probe set becomes a literal IN (static
    * partition pruning on the cell sub-directories of every surviving
    * batch partition), and the store's codec ranks in-cell — exact
    * cosine for a flat store (with the same centroids, identical to the
    * inline deterministic IVF over the union of everything admitted),
    * integer L2 under the pinned grid for SQ8 (identical to
    * [[Similarity.ivfSq8TopK]] under the same grid), the ADC distance
    * under the pinned codebook for PQ. Flat returns (query_id, rank,
    * neighbor_id); the quantized codecs add their integer `dist`, so
    * their (dist, id) ranking is hash-exact against the oracle. */
  def topKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 1,
      beforeBatch: Long = Long.MaxValue): DataFrame = {
    val pinned = pinnedAt(spark, indexDir)
    VectorCodec.topK(pinned, indexDir, queries, idCol, vecCol, k, nProbe, None,
      storeCandidates(spark, indexDir, idCol, pinned.storedCol(vecCol),
        beforeBatch, identity))
  }

  /** Metadata-FILTERED top-k served from the STREAMED store — the
    * production vector-serving shape (ONE shared index, a
    * label/language/license predicate on every request) composed with
    * the store's whole lifecycle (fences, appends, compaction), for
    * every codec: candidates are restricted to `allowedIds` (a
    * single-column id frame, broadcast — compute it from the metadata
    * dimension with the request's predicate) AFTER latest-batch-wins
    * resolution and BEFORE ranking, so a filtered-out top hit is
    * replaced by the next-best allowed vector, never a shortened top-k.
    *
    * Probe width: fixed `nProbe` by default; `minCandidates > 0`
    * switches to the per-query AUTO choice
    * ([[graft.similarity.Similarity.autoProbeSets]] — the shortest
    * ranked-cell prefix whose exact allowed-candidate count clears
    * the floor). The count pass scans only the store's (id, cell)
    * columns, never the payload — a sharp predicate probes deep, an
    * unselective one stays at the nearest cell.
    *
    * `excludeIds` composes the DELETE path into the same serve (pass
    * [[deadIds]]): tombstoned ids are subtracted alongside the
    * predicate, and the auto-probe counts see neither — the full
    * production request shape (one shared store, a predicate and a
    * takedown list per serve) in one plan. */
  def filteredTopKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, vecCol: String, allowedIds: DataFrame, k: Int,
      nProbe: Int = 1, minCandidates: Long = 0L,
      beforeBatch: Long = Long.MaxValue,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val pinned = pinnedAt(spark, indexDir)
    val allowed = allowedIds
      .select(col(allowedIds.columns.head).as("__allowed_id")).distinct()
    val autoProbe =
      if (minCandidates > 0L)
        Some((filteredCellCounts(spark, indexDir, idCol, beforeBatch,
          allowed, excludeIds), minCandidates))
      else None
    VectorCodec.topK(pinned, indexDir, queries, idCol, vecCol, k, nProbe,
      autoProbe,
      storeCandidates(spark, indexDir, idCol, pinned.storedCol(vecCol),
        beforeBatch, servedRows(_, "neighbor_id", allowed, excludeIds)))
  }

  // ---- alias-routed serving: the production entry point. A rebuild
  // ships as fresh-directory + StorePointer cutover, so a serving call
  // site holding a RAW store path can silently keep reading the
  // retired generation after a cutover — the one operational mistake
  // the alias exists to prevent. The wrapper resolves the alias (live
  // by default, a PINNED past generation via `version`) and serves
  // through [[topKFromIndex]]; pointer files are immutable once
  // renamed, so the resolve-then-read pair is consistent no matter how
  // many cutovers land in between (the resolved generation keeps
  // serving its own artifacts and codec). One listing + one small read
  // per serve — noise against the probe itself.

  private def resolved(
      spark: SparkSession, aliasDir: String, version: Option[Long]): String =
    version.fold(StorePointer.resolve(spark, aliasDir))(
      v => StorePointer.resolveVersion(spark, aliasDir, v))

  /** [[topKFromIndex]] routed through a [[StorePointer]] alias. */
  def topKFromAlias(
      spark: SparkSession, aliasDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 1,
      beforeBatch: Long = Long.MaxValue,
      version: Option[Long] = None): DataFrame =
    topKFromIndex(spark, resolved(spark, aliasDir, version), queries,
      idCol, vecCol, k, nProbe, beforeBatch)
}
