package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Standing dedup index as BUCKETED tables, so continuous (delta-vs-corpus)
  * ingestion never shuffles the corpus side again.
  *
  * [[Dedup.dedupIncremental]] recomputes corpus hashes/shingles and
  * exchanges them on every batch — fine for a one-shot backfill, wasted
  * work for the 100 TB steady state where the corpus is petabytes and the
  * delta is not. This module persists the corpus's dedup artifacts ONCE,
  * each bucketed on exactly its probe-join keys, so every per-batch join
  * reads bucket files already partitioned the way the join needs them
  * (`FileSourceScanExec` reports the bucket `HashPartitioning`, and
  * EnsureRequirements shuffles only the small delta side to match —
  * asserted in IOSpec):
  *
  *  - `<base>_exact(h, t, id)`  bucketed by `(h, t)`, h = xxhash64(text) —
  *    the exact-duplicate rule probes it with an equi-join on `h` plus the
  *    text equality (which Catalyst folds into the join keys, so the
  *    bucket spec carries BOTH keys; the leading 8-byte hash keeps bucket
  *    sort comparisons cheap); one row per HOLDER (id), so per-document
  *    deletion can retire a single holder's witness;
  *  - `<base>_pref(bk, id)`     bucketed by `bk` = xxhash64(block, prefix
  *    shingle hash) — PPJoin candidate generation is an equi-join on the
  *    fused key (a 64-bit collision can only ADD a candidate, which the
  *    exact verify then rejects — recall is unaffected);
  *  - `<base>_sh(id, blk, sh)`  bucketed by `id` — the verify join fetches
  *    each candidate's full sorted shingle-hash array by id;
  *  - `<base>_band(bk, id)`     bucketed by `bk` = the MinHash band hash —
  *    the LSH candidate generator (`candidates = "lsh"`), for corpora
  *    where the prefix explode is too wide (very long documents): ~b·n
  *    index rows regardless of document length, at the cost of LSH's
  *    probabilistic recall. Both generators feed the SAME exact-Jaccard
  *    verify, so precision is exact either way.
  *
  * Kept batches append to the same tables (`SaveMode.Append` preserves the
  * bucket spec), so the index *is* the corpus state and ingestion is:
  * judge batch → append survivors → next batch. Every row carries the
  * `bid` (batch id) it arrived in, and a probe can EXCLUDE its own batch
  * id — that makes a replayed micro-batch (restart after the append)
  * judge against exactly the pre-append state, so replay verdicts equal
  * the originals (tested in StreamSpec). */
object DedupIndex {

  def exactTable(base: String) = s"${base}_exact"
  def prefTable(base: String)  = s"${base}_pref"
  def shTable(base: String)    = s"${base}_sh"
  def bandTable(base: String)  = s"${base}_band"

  /** Pending deletions: one row per deleted doc id, stamped with the
    * exact table's snapshot EPOCH (dir name) it was aimed at — a
    * rebuild's commit changes the epoch, retiring surviving tombstones
    * atomically (no tombs+corpus two-table atomicity needed in either
    * direction). Tiny between compactions (DELTAS, never corpus rows),
    * so probes broadcast it. One table for all four corpus tables: the
    * exact table stores each holder's id precisely so that deletion can
    * be per-document (a (hash, text) tombstone would mask the shared
    * exact row for EVERY holder of a duplicated text). */
  def tombsTable(base: String) = s"${base}_tombs"

  /** MinHash/LSH banding parameters (k = bands·rows): 16 bands of 4 rows —
    * [[Dedup.minhashPairs]]' defaults; collision probability at the 0.5
    * Jaccard operating point ≈ 0.64 per pair and ≥ 0.99 by ~0.7. */
  val LshK = 64
  val LshBands = 16
  val LshSeed = 42L

  /** Advisory append-pressure sidecar on the anchor (exact) table:
    * payload `"<docs appended since last fold> <docs in the snapshot>"`.
    * [[write]] seeds `0 <n>`, each append folds its batch's doc count
    * in, [[compact]] re-bases to `0 <folded n>`, and [[compactPartial]]
    * to `<appended> <folded n>` (it carries the pref/band append files
    * whole) — so [[needsCompact]] can weigh accumulated append mass
    * against the snapshot without scanning anything. Same crash
    * contract as the ANN occupancy sidecar: a crash between an append's
    * row commit and the sidecar fold leaves it stale-low; a crash between
    * a build's or compaction's snapshot commit and its sidecar write
    * leaves it missing (appends then skip the fold and
    * [[appendedSinceSnapshot]] reports unknown until the next
    * [[compact]]). */
  private val AppendedSidecar = "_appended"

  /** The per-document index artifacts for one frame: id, block, text hash,
    * text, and the hash-sorted shingle array ([[Dedup.prefixJaccardPairs]]'
    * representation — prefix-filter theory only needs a consistent global
    * order, and hash order qualifies). */
  private def artifacts(df: DataFrame, textCol: String, idCol: String,
                        blockCol: String, shingleN: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      col(blockCol).cast("string").as("blk"),
      xxhash64(col(textCol)).as("h"),
      col(textCol).as("t"),
      graft.functions.TextExpressions
        .sortedShingleHashes(col(textCol), shingleN).as("sh"))

  /** The [[artifacts]] frame of one batch, exposed so an ingestion step
    * can materialize the batch's shingle pass ONCE and share it between
    * the probe ([[matchEdges]]) and the append ([[appendKept]]) — the
    * two would otherwise each re-derive it, and at scale the shingle
    * pass IS the batch's compute (§2.4: don't compute it twice). The
    * derivation is purely row-wise, so filtering the result to the kept
    * rows equals deriving from the kept rows. */
  def batchArtifacts(df: DataFrame, textCol: String, idCol: String,
                     blockCol: String, shingleN: Int = 3): DataFrame =
    artifacts(df, textCol, idCol, blockCol, shingleN)

  /** Bulk (non-batch) index rows carry this sentinel batch id. */
  val BulkBid: Long = -1L

  /** LSH band explode of the shingle arrays: one (bk, id) row per MinHash
    * band, bk = xxhash64("band", band index, the band's signature slice) —
    * identical banding to [[Dedup.minhashPairs]], derived from the STORED
    * hashes ([[graft.functions.TextExpressions.minhashFromHashes]] produces
    * the same signature as hashing the text's shingles directly). */
  private def bandRows(art: DataFrame): DataFrame = {
    val rows = LshK / LshBands
    art.select(col("id"), col("bid"),
        graft.functions.TextExpressions
          .minhashFromHashes(col("sh"), LshK, LshSeed).as("sig"))
      .select(col("id"), col("bid"),
        explode(Dedup.bandHashes(col("sig"), LshBands, rows)).as("bk"))
      .select(col("bk"), col("id"), col("bid"))
  }

  /** Prefix-filter explode of the shingle arrays: one (bk, id, pos, sz)
    * row per prefix shingle, bk fused from (block, shingle hash) so the
    * candidate join is single-key. prefLen = |s| - ceil(t·|s|) + 1 — the
    * PPJoin prefix bound for Jaccard ≥ t. `pos` (1-based position of the
    * shingle in the hash-sorted set) and `sz` (set size) feed
    * [[Dedup.ppFilter]]'s positional + length pruning at probe time, so a
    * boilerplate shingle shared by millions of documents cannot go
    * quadratic on its one candidate key. */
  private def prefixRows(art: DataFrame, threshold: Double): DataFrame = {
    val prefLen = Dedup.prefLenOf(size(col("sh")), threshold)
    art.select(col("blk"), col("id"), col("bid"), size(col("sh")).as("sz"),
        posexplode(slice(col("sh"), lit(1), prefLen)))
      .select(xxhash64(col("blk"), col("col")).as("bk"), col("id"), col("bid"),
        (col("pos") + lit(1)).as("pos"), col("sz"))
  }

  /** Build (overwrite) the standing index for `corpus`. `threshold` is
    * baked into the stored prefix length — probe with the same threshold.
    * One pass derives all four tables (the artifact frame is
    * materialized once, then written four ways). */
  def write(corpus: DataFrame, textCol: String, idCol: String,
            blockCol: String, base: String, threshold: Double,
            shingleN: Int = 3, buckets: Int = 32,
            mode: SaveMode = SaveMode.Overwrite,
            batchId: Long = BulkBid): Unit =
    BucketedTables.withWriterLease(corpus.sparkSession, exactTable(base),
        "write") {
      writeImpl(corpus, textCol, idCol, blockCol, base, threshold, shingleN,
        buckets, mode, batchId, healFirst = true)
    }

  /** [[write]] body; `healFirst = false` skips the entry heal for
    * callers that already healed this call chain ([[appendKept]]) —
    * the heal's cache refresh forces a full file re-listing per table,
    * a real per-batch cost in streaming ingestion. */
  private def writeImpl(corpus: DataFrame, textCol: String, idCol: String,
                        blockCol: String, base: String, threshold: Double,
                        shingleN: Int, buckets: Int, mode: SaveMode,
                        batchId: Long, healFirst: Boolean,
                        precomputedArtifacts: Option[DataFrame] = None)
      : Unit = {
    // adopt any rewrite a crash split between its two catalog ops BEFORE
    // looking at table existence: an Append must see the healed table (a
    // fresh-create here would otherwise shadow the full corpus snapshot).
    // Only Append needs the cache refresh — an Overwrite reads nothing
    if (healFirst)
      healInterrupted(corpus.sparkSession, base,
        refresh = mode == SaveMode.Append)
    // bid stamped ONCE here (constant per call, so the exact table's
    // whole-row distinct still folds a replayed batch), shingle once,
    // feed four writes. A caller-precomputed artifact frame (the probe's
    // shingle pass, a checkpointed SUPERSET of this corpus) is filtered
    // to this call's rows instead of re-shingling — identical rows by
    // the row-wise derivation.
    val art = precomputedArtifacts
      .map(_.join(corpus.select(col(idCol).as("id")).distinct(),
        Seq("id"), "left_semi"))
      .getOrElse(artifacts(corpus, textCol, idCol, blockCol, shingleN))
      .withColumn("bid", lit(batchId))
      .localCheckpoint()
    try {
      // The writes are independent actions over the one checkpointed
      // artifact frame — submitted concurrently so the scheduler overlaps
      // them (driver-side job-submission overhead dominates small builds;
      // on a cluster the stages simply share the executors). On an
      // OVERWRITE (rebuild), the EXACT table commits LAST, sequentially:
      // its snapshot dir is the tombstone EPOCH anchor, so pending
      // deletions stay active until the whole rebuild has landed — a
      // crashed rebuild can only over-mask (safe for takedowns), never
      // resurrect. Appends never change the epoch, so the streaming hot
      // path keeps all four writes concurrent.
      // The exact table stores each holder's id (one row per DOCUMENT,
      // not per distinct text): per-document deletion must retire
      // exactly one holder's witness — a text shared by several live
      // documents keeps witnessing the exact rule for the others.
      val exactWrite = () => BucketedTables.writeBucketed(
        art.select(col("h"), col("t"), col("bid"), col("id")).distinct(),
        exactTable(base), Seq("h", "t"), buckets, mode)
      val others = Seq[(String, () => Unit)](
        "dedup: pref write" -> (() => BucketedTables.writeBucketed(
          prefixRows(art, threshold), prefTable(base), Seq("bk"), buckets, mode)),
        "dedup: sh write" -> (() =>
          BucketedTables.writeBucketed(
            art.select(col("id"), col("blk"), col("sh"), col("bid")),
            shTable(base), Seq("id"), buckets, mode)),
        "dedup: band write" -> (() =>
          BucketedTables.writeBucketed(bandRows(art), bandTable(base), Seq("bk"),
            buckets, mode)))
      // append-pressure sidecar input: counted from the checkpointed
      // artifact blocks (one doc per row, no second corpus pass) — a
      // read-only leg riding the concurrent group instead of a serial
      // job after it
      @volatile var nDocs = 0L
      val countLeg: (String, () => Unit) =
        ("dedup: doc count" -> (() => { nDocs = art.count(); () }))
      val concurrent =
        (if (mode == SaveMode.Append)
           others :+ ("dedup: exact write" -> exactWrite)
         else others) :+ countLeg
      // Concurrent.labeled waits for ALL writes to SETTLE (not fail-fast):
      // the shared localCheckpoint blocks cannot be recomputed from
      // lineage, so unpersisting while sibling writes are still running
      // would kill them with missing-block errors — and in Append mode
      // leave the tables inconsistently appended. Unpersist stays in
      // `finally`; the first failure rethrows after all settle.
      graft.exec.Concurrent.labeled(concurrent)
      // liveness heartbeat: the satellite snapshots have landed — the
      // longest phase of a build/append is behind us
      BucketedTables.renewLease(corpus.sparkSession, exactTable(base))
      if (mode != SaveMode.Append) exactWrite()
      val spark = corpus.sparkSession
      if (mode == SaveMode.Append) foldAppended(spark, base, nDocs)
      else BucketedTables.addSidecar(spark, exactTable(base),
        AppendedSidecar, s"0 $nDocs".getBytes("UTF-8"))
    } finally
      // free the checkpoint blocks even when a write fails mid-retry —
      // otherwise every failed attempt pins a dead block set until GC
      graft.exec.Partitioning.unpersistCheckpoint(art)
    // A rebuild's commits changed the snapshot epoch, so every pending
    // tombstone is ALREADY inert (re-ingested documents must not be
    // masked); dropping the table is garbage collection. Crash-safe in
    // both directions: before the commits the old corpus stays live
    // WITH its tombstones active (a takedown never silently
    // resurfaces), after them the stale rows are epoch-mismatched
    // noise.
    if (mode != SaveMode.Append)
      BucketedTables.dropTable(corpus.sparkSession, tombsTable(base))
  }

  /** [[BucketedTables.heal]] over this index's tables (the four corpus
    * tables plus the tombstone table, which goes through the same
    * scratch-then-rename overwrites during compaction) — called on
    * entry by every index-mutating/probing API. */
  private def healInterrupted(spark: SparkSession, base: String,
                              refresh: Boolean = true): Unit =
    BucketedTables.heal(spark,
      corpusTables(base).map(_._1) :+ tombsTable(base), refresh)

  /** The four corpus tables with their bucket keys, the exact table —
    * the tombstone epoch anchor — last. Each table keeps its own catalog
    * bucket spec through every rewrite: re-bucketing on different keys
    * or counts would break the probes' exchange-free scans. */
  private def corpusTables(base: String): Seq[(String, Seq[String])] = Seq(
    prefTable(base)  -> Seq("bk"),
    shTable(base)    -> Seq("id"),
    bandTable(base)  -> Seq("bk"),
    exactTable(base) -> Seq("h", "t"))

  /** Mark documents deleted by id — the dedup twin of
    * [[SimilarityIndex.delete]]: [[BucketedTables.stampTombs]] against
    * the exact table's snapshot epoch (which every rebuild commit
    * changes LAST), so the corpus tables are never rewritten and a
    * crash anywhere can only over-mask. Probes mask tombstoned ids with
    * broadcast anti-joins — the exact table stores each holder's id, so
    * a deleted document stops witnessing the exact rule while other
    * holders of the same text keep witnessing it — and the next
    * [[compact]] folds the deletions into the rewritten snapshots.
    * DELETE WINS over re-ingestion: the deleted document's OLD artifact
    * rows stay physically in the corpus tables until a compaction, so a
    * document re-ingested while its tombstone is pending stays masked
    * (unmasking would resurrect the old content too), and the next
    * [[compact]] removes old and re-appended rows alike. Re-ingest a
    * deleted document AFTER a compact (or a rebuild) has retired its
    * tombstone. */
  def delete(spark: SparkSession, base: String, ids: DataFrame,
             idCol: String): Unit =
   // leased: a delete racing a compaction swap would stamp an epoch the
   // swap just retired — a silently lost takedown
   BucketedTables.withWriterLease(spark, exactTable(base), "delete") {
    // exact is healed too (scratch-adopt only): the epoch stamp reads
    // its live snapshot identity
    BucketedTables.heal(spark,
      Seq(exactTable(base), tombsTable(base)), refresh = false)
    BucketedTables.stampTombs(spark, exactTable(base), tombsTable(base),
      ids, idCol)
   }

  /** Compact the standing index: fold each bucket's accumulated append
    * files back to one file, drop exact-duplicate rows a replayed
    * append may have left, and physically remove tombstoned documents.
    * The rewrite is per-bucket and shuffle-free
    * ([[BucketedTables.compactionFrame]]; the tombstone anti-joins
    * broadcast their tiny side, so the corpus never exchanges), lands
    * in fresh snapshot dirs, and goes live only at
    * [[BucketedTables.commitSnapshots]]' single-catalog-op swaps, exact
    * LAST — a compaction that dies mid-write leaves probes on the old
    * snapshots, and one that dies between table swaps leaves the
    * unfolded tables still masked by their tombstones. Run it OFFLINE
    * relative to WRITERS (probes racing the swap re-plan safely; a
    * concurrent append could land in the dir being replaced) — ENFORCED
    * by the writer lease: a racing append/delete fails loudly instead
    * of losing rows. */
  def compact(spark: SparkSession, base: String): Unit =
   BucketedTables.withWriterLease(spark, exactTable(base), "compaction") {
    healInterrupted(spark, base)
    compactImpl(spark, base)
   }

  /** [[compact]] body, unleased and pre-healed — [[compactAuto]] calls
    * it while already holding the writer lease (not reentrant). */
  private def compactImpl(spark: SparkSession, base: String): Unit = {
    val tombIds = BucketedTables.liveTombIds(spark, exactTable(base),
      tombsTable(base))
    val tables = corpusTables(base)
    BucketedTables.withForcedBucketedScan(spark) {
      // the four snapshot writes are scratch-dir work on independent
      // tables — overlapped (§2.6); every snapshot reads the PRE-swap
      // state it would have read serially (no snapshot depends on a
      // sibling table). All commits happen after all writes.
      val snaps = graft.exec.Concurrent.all[String](
        tables.map { case (table, keys) => () =>
          BucketedTables.writeSnapshot(spark, table, keys,
            BucketedTables.maskByTombs(
              BucketedTables.compactionFrame(spark, table), tombIds))
        })
      BucketedTables.commitSnapshots(spark, exactTable(base),
        tables.map(_._1).zip(snaps))
      BucketedTables.clearTombs(spark, tombsTable(base))
      // re-base the append-pressure sidecar from the folded snapshot
      // (read by PATH — a write path must not prime the relation cache)
      val folded = spark.read.parquet(
        BucketedTables.location(spark, exactTable(base)).toString).count()
      BucketedTables.addSidecar(spark, exactTable(base), AppendedSidecar,
        s"0 $folded".getBytes("UTF-8"))
    }
  }

  /** PARTIAL compaction: retire the pending tombstones by REWRITING ONLY
    * THE FILES THAT HOLD THEM, carrying every other file into the new
    * snapshot by hard link / server-side copy
    * ([[BucketedTables.planPartial]], [[BucketedTables.writePartial]]) —
    * the full [[compact]] is a linear corpus rewrite even when one
    * document was deleted, and at 100 TB that rewrite IS the cost of a
    * takedown.
    *
    * Which files rewrite:
    *  - in `exact` and `sh` — deletions are LOCAL here (one row per
    *    holder / per document), so exactly the files physically
    *    holding a tombstoned row rewrite (discovered by an id-column +
    *    `input_file_name` scan — no text decode).
    *  - in `pref` and `band` — none: one document's rows SCATTER across
    *    buckets (each prefix shingle / band key hashes independently),
    *    so deletion-dirty tracking would mark everything. A deleted
    *    document's stale pref/band rows are VERIFY-NEUTRAL: every near
    *    candidate joins the sh table (the source of truth) by holder id
    *    before it can judge, and the compacted sh table no longer holds
    *    the deleted id — so stale accelerator rows cost a dead candidate
    *    row at probe time, never a verdict. The next full [[compact]]
    *    drops them physically, and folds append fragmentation.
    *
    * The rewrite unit is the FILE: rewrite cost is bounded by (files
    * holding deleted rows) × (file size), independent of corpus size.
    *
    * Same crash contract as [[compact]]: per-table scratch snapshot +
    * [[BucketedTables.commitSnapshots]] (exact LAST), writer lease held
    * throughout. Verdict-equivalence with the full fold (same probes,
    * same masked state) is asserted in ExtSpec. */
  def compactPartial(spark: SparkSession, base: String): Unit =
   BucketedTables.withWriterLease(spark, exactTable(base), "compaction") {
    healInterrupted(spark, base)
    compactPartialImpl(spark, base, exactDirty = None)
   }

  /** [[compactPartial]] body, unleased and pre-healed; `exactDirty` lets
    * [[compactAuto]] hand over the exact table's dirty-file scan its
    * dispatch already paid for (the sh table still discovers its own). */
  private def compactPartialImpl(spark: SparkSession, base: String,
                                 exactDirty: Option[Set[String]]): Unit = {
    val tombIds = BucketedTables.liveTombIds(spark, exactTable(base),
      tombsTable(base))
    // a partial fold carries pref/band whole and clean exact/sh files by
    // link, so the append fragmentation survives it: keep the PRE-swap
    // appended count across the re-base
    val appended = readAppended(spark, base).fold(0L)(_._1)
    BucketedTables.withForcedBucketedScan(spark) {
      // per-table plan + snapshot write + carry-over run as concurrent
      // legs (§2.6) — independent tables doing scratch-dir work; every
      // leg reads the PRE-swap state it would have read serially. All
      // commits happen after all writes.
      val snaps = graft.exec.Concurrent.all(corpusTables(base).map {
        case (table, keys) => () =>
          val dirty =
            if (table == exactTable(base)) exactDirty
            else if (table == shTable(base)) None
            else Some(Set.empty[String]) // pref/band: deletions scatter
          BucketedTables.planPartial(spark, table, keys, tombIds, dirty)
            .map(fold => table -> BucketedTables.writePartial(spark, fold))
      }).flatten
      BucketedTables.commitSnapshots(spark, exactTable(base), snaps)
      val t3 = System.nanoTime()
      // tombstone GC (tombs table) and the folded-count read (exact
      // table's new location) are independent post-swap steps —
      // overlapped (§2.6)
      @volatile var folded = 0L
      graft.exec.Concurrent.labeled[Unit](Seq(
        "dedup: tomb gc" -> (() =>
          BucketedTables.clearTombs(spark, tombsTable(base))),
        // re-base the snapshot count; the carried append mass stays
        "dedup: folded count" -> (() =>
          folded = spark.read.parquet(
            BucketedTables.location(spark, exactTable(base)).toString)
            .count())))
      BucketedTables.addSidecar(spark, exactTable(base), AppendedSidecar,
        s"$appended $folded".getBytes("UTF-8"))
      System.err.println(f"[compactPartial] tomb GC + sidecar " +
        f"${(System.nanoTime() - t3) / 1e9}%.2fs")
    }
  }

  /** Fold the standing index choosing full vs partial compaction
    * AUTOMATICALLY ([[BucketedTables.chooseCompaction]] on the exact
    * table and the [[AppendedSidecar]] counter, the
    * [[SimilarityIndex.compactAuto]] twin): append mass that
    * [[needsCompact]] reports forces the full fold, because a partial
    * fold carries the pref/band append files whole. Returns the strategy
    * that ran. */
  def compactAuto(spark: SparkSession, base: String): String =
   BucketedTables.withWriterLease(spark, exactTable(base), "compaction") {
    healInterrupted(spark, base)
    val (choice, dirty) = BucketedTables.chooseCompaction(spark,
      exactTable(base), tombsTable(base), readAppended(spark, base))
    if (choice == "partial") compactPartialImpl(spark, base, dirty)
    else compactImpl(spark, base)
    choice
   }

  /** Fold an append's doc count into the [[AppendedSidecar]]. A sidecar
    * missing after a crash between a snapshot commit and its sidecar
    * write stays missing — folding into an unknown base would record a
    * lie; the next [[compact]] establishes it. */
  private def foldAppended(spark: SparkSession, base: String,
                           nDocs: Long): Unit =
    readAppended(spark, base).foreach { case (appended, snap) =>
      BucketedTables.addSidecar(spark, exactTable(base), AppendedSidecar,
        s"${appended + nDocs} $snap".getBytes("UTF-8"))
    }

  /** The [[AppendedSidecar]] payload, None when it is missing. */
  private def readAppended(spark: SparkSession,
                           base: String): Option[(Long, Long)] =
    if (!BucketedTables.sidecarExists(spark, exactTable(base), AppendedSidecar))
      None
    else {
      val p = new String(BucketedTables.readSidecar(
        spark, exactTable(base), AppendedSidecar), "UTF-8").split(" ")
      Some((p(0).toLong, p(1).toLong))
    }

  /** Docs appended since the last full [[compact]], with the snapshot's
    * doc count — None when a crash between a snapshot commit and its
    * sidecar write left the sidecar missing (run a [[compact]] once to
    * establish it). */
  def appendedSinceSnapshot(spark: SparkSession,
                            base: String): Option[(Long, Long)] = {
    healInterrupted(spark, base)
    readAppended(spark, base)
  }

  /** Takedown-SLO watermark: the [[BucketedTables.liveTombIds]] count —
    * the deletions the next compaction will fold. The tombstone table is
    * delta-sized by contract, so this count is never a corpus scan. */
  def pendingTombstones(spark: SparkSession, base: String): Long = {
    healInterrupted(spark, base)
    BucketedTables.liveTombIds(spark, exactTable(base), tombsTable(base))
      .map(_.count()).getOrElse(0L)
  }

  /** Occupancy of the standing dedup index — the observability twin of
    * [[SimilarityIndex.stats]]: one row per (table, bucket) across the
    * four corpus tables, so an operator can SEE the state the probes'
    * exchange-free contract depends on instead of trusting it:
    *
    *  - `tbl` — `exact` / `pref` / `sh` / `band`;
    *  - `bucket` — the catalog bucket (the same Murmur3+pmod layout the
    *    bucketed writes used, recomputed from each table's bucket keys
    *    — so these rows ARE the file sets a probe's equi-join reads);
    *  - `n_rows` — the bucket's physical rows (tombstone-masked rows
    *    still get read, so they count);
    *  - `share` — fraction of the TABLE's rows in this bucket (skew in
    *    this column = one bucket dominating that table's probe I/O);
    *  - `files` — parquet files in the bucket: a freshly compacted
    *    bucket is one file, and every append adds more, so this is the
    *    small-file/compaction-pressure signal per bucket.
    *
    * One map-side-combinable aggregation per table down to ≤ buckets
    * rows; the file counts come from the snapshot dir listing (driver
    * metadata, no data read). */
  def stats(spark: SparkSession, base: String): DataFrame = {
    healInterrupted(spark, base)
    val tables = Seq(
      ("exact", exactTable(base), Seq("h", "t")),
      ("pref",  prefTable(base),  Seq("bk")),
      ("sh",    shTable(base),    Seq("id")),
      ("band",  bandTable(base),  Seq("bk")))
    val perBucket = tables.map { case (label, table, keys) =>
      val buckets = BucketedTables.bucketsOf(spark, table)
      spark.table(table)
        .groupBy(pmod(hash(keys.map(col): _*), lit(buckets)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .select(lit(label).as("tbl"), col("bucket"), col("n_rows"))
    }.reduce(_.unionByName(_))
    val fileCounts = tables.flatMap { case (label, table, _) =>
      BucketedTables.bucketFilePaths(spark, table).groupBy(_._1).toSeq
        .map { case (b, fs) => (label, b, fs.size.toLong) }
    }
    val filesDf = spark.createDataFrame(fileCounts)
      .toDF("tbl", "bucket", "files")
    val byTbl = org.apache.spark.sql.expressions.Window.partitionBy(col("tbl"))
    perBucket
      .join(filesDf, Seq("tbl", "bucket"), "left")
      .withColumn("files", coalesce(col("files"), lit(0L)))
      .withColumn("share", col("n_rows") / sum(col("n_rows")).over(byTbl))
      .select(col("tbl"), col("bucket"), col("n_rows"), col("share"),
        col("files"))
  }

  /** Advisory compaction trigger: true when deletions are pending (the
    * fold is what physically applies a takedown) or when the appended
    * doc mass since the last full [[compact]] is
    * [[BucketedTables.appendHeavy]] (append files accumulate per batch
    * — the full fold restores one-file-per-bucket scans). An unknown
    * append counter (the sidecar lost to a crash after a snapshot
    * commit) decides on tombstones alone. Deliberately NOT
    * triggered by [[stats]]' `files` column: a fresh parallel build
    * legitimately writes many files per bucket, and deciding on file
    * counts would cry wolf right after every rebuild — the per-bucket
    * file signal is surfaced for the operator instead. */
  def needsCompact(spark: SparkSession, base: String): Boolean =
    pendingTombstones(spark, base) > 0 ||
      appendedSinceSnapshot(spark, base).exists { case (appended, snap) =>
        BucketedTables.appendHeavy(appended, snap)
      }

  /** Judge `delta` against the standing index — same output contract as
    * [[Dedup.dedupIncremental]] (every delta row with `keep` + drop
    * `reason`), but the corpus side of every join is a bucketed scan with
    * NO exchange: only the delta's artifacts shuffle.
    *
    * `candidates` picks the near-rule generator: `"prefix"` (lossless
    * PPJoin, the default) or `"lsh"` (MinHash bands — constant index rows
    * per document, probabilistic recall).
    *
    * `excludeBatchId`: ignore index rows stamped with this batch id — a
    * replayed micro-batch passes its own id so its earlier append (if the
    * first attempt died after appending) is invisible, and the replay
    * reproduces the original verdicts exactly. */
  def dedupIncremental(spark: SparkSession, base: String, delta: DataFrame,
                       textCol: String, idCol: String, blockCol: String,
                       threshold: Double, shingleN: Int = 3,
                       candidates: String = "prefix",
                       excludeBatchId: Long = Long.MinValue): DataFrame =
    verdictsFromEdges(delta, idCol,
      matchEdges(spark, base, delta, textCol, idCol, blockCol, threshold,
        shingleN, candidates, excludeBatchId))

  /** Derive the [[dedupIncremental]] verdict frame from a
    * [[matchEdges]] edge frame — no index access, so a caller that
    * needs BOTH (streaming ingestion maintaining a [[ClusterIndex]])
    * probes the corpus tables exactly once. */
  def verdictsFromEdges(delta: DataFrame, idCol: String,
                        edges: DataFrame): DataFrame = {
    val exactIds = edges.filter(col("rule") === "exact")
      .select(col("id_b").as("id")).distinct()
      .select(col("id"), lit(true).as("__e"))
    val nearIds = edges.filter(col("rule") === "near")
      .select(col("id_b").as("id")).distinct()
      .select(col("id"), lit(true).as("__n"))
    delta.select(col(idCol).as("id"))
      .join(exactIds, Seq("id"), "left")
      .join(nearIds, Seq("id"), "left")
      .select(col("id").as(idCol),
        (col("__e").isNull && col("__n").isNull).as("keep"),
        when(col("__e").isNotNull, "exact")
          .when(col("__n").isNotNull, "near").as("reason"))
  }

  /** The VERIFIED duplicate edges between `delta` and the live index:
    * one row per (index holder `id_a`, delta document `id_b`, rule ∈
    * 'exact' | 'near') — the same probes as [[dedupIncremental]] with
    * the matched partner's identity kept, feeding incremental
    * connected components ([[ClusterIndex.fold]]). A pair matched by
    * both rules appears twice with different `rule` tags.
    *
    * `precomputedArtifacts` (optional): the batch's [[batchArtifacts]]
    * frame, typically checkpointed by the caller so the probe and the
    * later append share ONE shingle pass — content-identical to the
    * internal derivation by construction. */
  def matchEdges(spark: SparkSession, base: String, delta: DataFrame,
                 textCol: String, idCol: String, blockCol: String,
                 threshold: Double, shingleN: Int = 3,
                 candidates: String = "prefix",
                 excludeBatchId: Long = Long.MinValue,
                 precomputedArtifacts: Option[DataFrame] = None): DataFrame = {
    healInterrupted(spark, base)
    // Tombstoned documents must witness no rule: every table masks by
    // holder id (the exact table stores one row per holder for exactly
    // this purpose). Read ONCE, BEFORE any corpus table resolves
    // (BucketedTables.liveTombIds' read-order contract).
    val tombIds = BucketedTables.liveTombIds(spark, exactTable(base),
      tombsTable(base))
    def tbl(name: String) = BucketedTables.maskByTombs(
      spark.table(name).filter(col("bid") =!= lit(excludeBatchId)).drop("bid"),
      tombIds)
    val d = precomputedArtifacts
      .getOrElse(artifacts(delta, textCol, idCol, blockCol, shingleN))
      .withColumn("bid", lit(BulkBid)) // probe-side stamp is never stored
      .repartition(col("id")) // one artifact pass shared by all three rules
    // Exact rule: equi-join on the 64-bit text hash (the bucket key),
    // settled by the residual full-text comparison. The index side's
    // holder id is KEPT as the edge partner (`id_a`).
    val exactEdges = d.select(col("id").as("id_b"), col("h"),
        col("t").as("__dt"))
      .join(tbl(exactTable(base)).withColumnRenamed("id", "id_a"), Seq("h"))
      .filter(col("t") === col("__dt"))
      .select(col("id_a"), col("id_b")).distinct()
    // Near rule: candidates from the chosen generator, verified with
    // exact Jaccard on the stored shingle arrays — both generators are
    // single-key equi-joins against their bucketed table. The prefix
    // generator prunes each match with the PPJoin positional + length
    // bounds on the stored (pos, sz).
    val cand = candidates match {
      case "prefix" =>
        prefixRows(d, threshold)
          .select(col("bk"), col("id").as("id_b"),
            col("pos").as("__pb"), col("sz").as("__szb"))
          .join(tbl(prefTable(base)).select(col("bk"), col("id").as("id_a"),
            col("pos").as("__pa"), col("sz").as("__sza")), Seq("bk"))
          .filter(Dedup.ppFilter(
            col("__sza"), col("__pa"), col("__szb"), col("__pb"), threshold))
          .select(col("id_a"), col("id_b")).distinct()
      case "lsh" =>
        bandRows(d).withColumnRenamed("id", "id_b")
          .join(tbl(bandTable(base)).withColumnRenamed("id", "id_a"), Seq("bk"))
          .select(col("id_a"), col("id_b")).distinct()
      case other => throw new IllegalArgumentException(
        s"candidates must be 'prefix' or 'lsh', got '$other'")
    }
    val corpusSh = tbl(shTable(base))
    val nearEdges = cand
      .join(corpusSh.select(col("id").as("id_a"), col("blk").as("__blk_a"),
        col("sh").as("__sh_a")), Seq("id_a"))
      .join(d.select(col("id").as("id_b"), col("blk").as("__blk_b"),
        col("sh").as("__sh_b")), Seq("id_b"))
      // the blk equality settles fused-key collisions across blocks
      .filter(col("__blk_a") === col("__blk_b") &&
        graft.functions.TextExpressions
          .jaccardSortedLongs(col("__sh_a"), col("__sh_b")) >= threshold)
      .select(col("id_a"), col("id_b")).distinct()
    exactEdges.withColumn("rule", lit("exact"))
      .unionByName(nearEdges.withColumn("rule", lit("near")))
  }

  /** The index's live snapshot epoch (the exact table's snapshot-dir
    * name), healed first so a crash adoption cannot later read as a
    * foreign swap. Capture this BEFORE probing ([[matchEdges]]) and pass
    * it to [[appendKept]]'s `expectEpoch` — the single-writer-per-index
    * contract then becomes CHECKED instead of assumed: a compaction or
    * rebuild committed by another session between probe and append
    * changes the epoch, and the append refuses loudly instead of folding
    * rows judged against a retired snapshot through stale caches. */
  def snapshotEpoch(spark: SparkSession, base: String): String = {
    healInterrupted(spark, base, refresh = false)
    BucketedTables.snapshotEpoch(spark, exactTable(base))
  }

  /** Fold a judged batch's KEPT rows into the index (bucket-preserving
    * appends) — the state transition of continuous ingestion. The bucket
    * count is read from the existing table's spec: an append with a
    * different count would be rejected by the catalog.
    *
    * `healRefresh = false` keeps the crash-adopt half of the entry heal
    * but skips the per-table relation-cache refresh — for callers that
    * ALREADY refreshed this batch (streaming ingestion probes the index
    * with [[matchEdges]], which heals with refresh, right before
    * appending; a second refresh mid-batch forces five full file
    * re-listings that can only re-observe the probe's own state).
    * Such callers pass the probe-time [[snapshotEpoch]] as `expectEpoch`
    * so the skipped refresh stays sound by CHECK, not assumption: the
    * epoch is re-read here inside the writer lease (one metadata read —
    * no concurrent swap can be mid-flight) and a mismatch refuses the
    * append instead of landing rows judged against a replaced
    * snapshot. */
  def appendKept(spark: SparkSession, base: String, batch: DataFrame,
                 verdicts: DataFrame, textCol: String, idCol: String,
                 blockCol: String, threshold: Double,
                 shingleN: Int = 3, batchId: Long = BulkBid,
                 healRefresh: Boolean = true,
                 expectEpoch: Option[String] = None,
                 precomputedArtifacts: Option[DataFrame] = None): Unit =
   // leased: rows appended while a compaction is writing its snapshots
   // would land in a dir the swaps are about to replace and vanish
   BucketedTables.withWriterLease(spark, exactTable(base), "append") {
    healInterrupted(spark, base, refresh = healRefresh)
    expectEpoch.foreach { probed =>
      val live = BucketedTables.snapshotEpoch(spark, exactTable(base))
      require(live == probed,
        s"$base: index snapshot advanced between probe and append " +
          s"(probed epoch $probed, live epoch $live) — another writer " +
          "compacted or rebuilt this index mid-batch; re-probe " +
          "(matchEdges) against the live snapshot before appending")
    }
    val buckets = BucketedTables.bucketsOf(spark, exactTable(base))
    val kept = batch.join(
      verdicts.filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
    // a kept id with a PENDING tombstone lands but stays masked: delete
    // wins until a compaction retires the tombstone (see [[delete]])
    // healFirst = false: this call chain healed (with refresh) above
    writeImpl(kept, textCol, idCol, blockCol, base, threshold, shingleN,
      buckets, mode = SaveMode.Append, batchId = batchId, healFirst = false,
      precomputedArtifacts = precomputedArtifacts)
  }
}
