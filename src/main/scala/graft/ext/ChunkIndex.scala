package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** STANDING content-defined chunk index — the streaming maintenance of
  * [[Sharding.contentChunks]]: as document batches arrive, the per-chunk
  * manifest (counts, token totals, order-insensitive checksums) is kept
  * current by recomputing ONLY the dirty chunks — the chunks the batch's
  * documents land in, plus the chunk each new CUT document splits — and
  * the work per batch is bounded by batch size + dirty-chunk members,
  * never the corpus.
  *
  * Layout at `base/` (all three tables are [[DeltaChains]] — per-batch
  * DELTA partitions, written with dynamic partition overwrite so a
  * replayed micro-batch rewrites its own partition — the same idempotence
  * contract as the dedup-index ingestion):
  *  - `docs/batch_id=N/`     doc stats (doc_id, h, n_tokens, fp), h-sorted
  *                           inside files so the dirty-range scan prunes
  *                           on parquet min/max
  *  - `cuts/batch_id=N/`     the batch's cut documents (doc_id, h)
  *  - `manifest/batch_id=N/` manifest rows recomputed this batch
  *
  * Reads: the current manifest is each chunk key's row from the LATEST
  * batch that recomputed it (chunk keys are stable content identities, so
  * versions supersede by key). All reads inside a batch step exclude the
  * current batch's partitions, so a replay sees exactly the pre-batch
  * state and reproduces its output byte-for-byte.
  *
  * Deletion (takedown) follows the dedup-index tombstone pattern:
  * `tombs/batch_id=N/` masks doc ids on every read — an O(|deleted|)
  * append, no delta rewritten — and the delete step recomputes only the
  * victims' chunks plus, for each deleted CUT doc, its predecessor chunk
  * (where the orphaned members merge; chains of adjacent deleted cuts
  * resolve because every victim contributes its own predecessor). */
object ChunkIndex {

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", LongType),
    StructField("n_tokens", LongType), StructField("fp", LongType),
    StructField("batch_id", LongType)))
  private val cutsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", LongType),
    StructField("batch_id", LongType)))
  private val manifestSchema = StructType(Seq(
    StructField("chunk_key", LongType), StructField("n_docs", LongType),
    StructField("n_tokens", LongType), StructField("checksum", LongType),
    StructField("batch_id", LongType)))

  private val tombsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("batch_id", LongType)))

  private val Chains = Seq("docs", "cuts", "manifest")
  private val Retired = Seq("tombs")

  private def readTombs(spark: SparkSession, base: String,
                        excludeBatch: Long): DataFrame =
    DeltaChains.read(spark, base, "tombs", tombsSchema)
      .filter(col("batch_id") =!= excludeBatch)
      .select(col("doc_id").as("__tomb_id"), col("batch_id").as("__tomb_batch"))

  /** Mask a delta table against tombstones. A tombstone hides only rows
    * from batches AT OR BEFORE its own batch — so a doc re-appended after
    * its takedown is live again (the new delta row's batch_id exceeds the
    * tombstone's), matching what a full rebuild over the live corpus
    * would say. Masking all batches unconditionally would make
    * re-ingest-before-compact inconsistent: the append-time manifest
    * counts the new row while reads hide it until compact(). */
  private def maskTombs(delta: DataFrame, tombs: DataFrame): DataFrame =
    delta.join(tombs,
      delta("doc_id") === tombs("__tomb_id") &&
        delta("batch_id") <= tombs("__tomb_batch"), "left_anti")

  /** Doc stats with tombstones masked — deletion is an O(|deleted|)
    * tombstone append; no delta partition is ever rewritten. */
  def readDocs(spark: SparkSession, base: String,
               excludeBatch: Long = Long.MinValue): DataFrame =
    maskTombs(
      DeltaChains.read(spark, base, "docs", docsSchema)
        .filter(col("batch_id") =!= excludeBatch),
      readTombs(spark, base, excludeBatch))

  /** Cut markers with tombstones masked: a deleted cut doc stops being a
    * boundary the moment its tombstone lands. */
  def readCuts(spark: SparkSession, base: String,
               excludeBatch: Long = Long.MinValue): DataFrame =
    maskTombs(
      DeltaChains.read(spark, base, "cuts", cutsSchema)
        .filter(col("batch_id") =!= excludeBatch),
      readTombs(spark, base, excludeBatch))

  /** Current manifest: per chunk key, the row from the latest batch that
    * recomputed it. The window partitions by key — per-key state is the
    * handful of versions a key has ever had, never the corpus. */
  def readManifest(spark: SparkSession, base: String,
                   excludeBatch: Long = Long.MinValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    heal(spark, base)
    DeltaChains.read(spark, base, "manifest", manifestSchema)
      .filter(col("batch_id") =!= excludeBatch)
      .withColumn("__rk", row_number().over(
        Window.partitionBy("chunk_key").orderBy(col("batch_id").desc)))
      .filter(col("__rk") === 1)
      .filter(col("n_docs") > 0) // zero-member versions are tombstones
      .select("chunk_key", "n_docs", "n_tokens", "checksum")
  }

  /** Ingest one batch of documents. */
  def append(spark: SparkSession, base: String, batch: DataFrame,
             textCol: String, idCol: String, seed: Long, cutMod: Long,
             batchId: Long): Unit = {
    heal(spark, base)
    // batch stats and the standing-cut read are independent inputs —
    // materialized concurrently (§2.6)
    val Seq(stats, standingCuts) = graft.exec.Concurrent.all(Seq(
      () => batch.select(
          col(idCol).cast(LongType).as("doc_id"),
          TextAnalysis.tokenCount(col(textCol)).cast(LongType).as("n_tokens"),
          TextAnalysis.fingerprint(col(textCol)).as("fp"))
        .withColumn("h", Sharding.shuffleKey(col("doc_id"), seed))
        .select("doc_id", "h", "n_tokens", "fp")
        .localCheckpoint(),
      () => readCuts(spark, base, excludeBatch = batchId)
        .select("doc_id", "h").localCheckpoint()))

    // POST assignment (key_a): standing cuts and batch cuts both start
    // chunks. PRE assignment (key_b): only standing cuts do — it names
    // the chunk a new cut doc SPLITS (whose remaining members must be
    // recounted). One fused exchange computes both (the flags share the
    // (h, id) order), halving the leg's fixed shuffle/checkpoint jobs.
    val batchIds = stats.select(col("doc_id").as("id"))
    val both = Sharding.assignChunkKeysBy2(
        standingCuts.select(col("doc_id").as("id"), lit(0L).as("n_tokens"),
            col("h"), lit(1L).as("is_cut_a"), lit(1L).as("is_cut_b"))
          .unionByName(stats.select(col("doc_id").as("id"), col("n_tokens"),
            col("h"), (col("h") % cutMod === 0L).cast("long").as("is_cut_a"),
            lit(0L).as("is_cut_b"))))
      .join(batchIds, "id")
      .select(col("id"), col("key_a").as("post_key"),
        col("key_b").as("pre_key"))
      .localCheckpoint()
    val post = both.select(col("id"), col("post_key"))
    val dirty = both.select(col("post_key").as("chunk_key"))
      .union(both.select(col("pre_key").as("chunk_key")))
      .distinct().localCheckpoint()

    // Dirty-chunk h-ranges from the POST cut set: [cut, next cut).
    val postCuts = standingCuts.select("h")
      .unionByName(stats.filter(col("h") % cutMod === 0L).select("h"))
      .distinct()
    val dirtyRanges = cutRanges(spark, postCuts).join(dirty, "chunk_key")
      .localCheckpoint()

    // Members of dirty chunks: standing docs in the dirty h-ranges (the
    // parquet scan prunes on h min/max because delta files are h-sorted)
    // + the whole batch (every batch doc's post chunk is dirty).
    val standingMembers = readDocs(spark, base, excludeBatch = batchId)
      .join(broadcast(dirtyRanges), col("h") >= col("lo") && col("h") < col("hi"))
      .select(col("doc_id"), col("chunk_key"), col("n_tokens"), col("fp"))
    val batchMembers = stats
      .join(post, stats("doc_id") === post("id"))
      .select(col("doc_id"), col("post_key").as("chunk_key"),
        col("n_tokens"), col("fp"))
    val recomputed = recomputeManifest(dirty,
      standingMembers.unionByName(batchMembers))

    // the three delta writes are independent sinks whose inputs all
    // exclude this batch id (every standing read above passed
    // excludeBatch = batchId), so no write can observe a sibling's
    // output — overlapped (§2.6), cutting the leg's serial job chain
    graft.exec.Concurrent.run(
      () => DeltaChains.write(base, "docs", batchId, stats, Some("h")),
      () => DeltaChains.write(base, "cuts", batchId,
        stats.filter(col("h") % cutMod === 0L).select("doc_id", "h"),
        Some("h")),
      () => DeltaChains.write(base, "manifest", batchId, recomputed))
  }

  /** (chunk_key, lo, hi) h-ranges of the given cut set, including the −1
    * prefix chunk. */
  private def cutRanges(spark: SparkSession, cuts: DataFrame): DataFrame = {
    val rankedCuts = graft.exec.Ranks.globalRowNumber(cuts, Seq(col("h")), "rk")
    val nextCuts = rankedCuts.select(col("h").as("next_h"), (col("rk") - 1).as("rk"))
    // prefix chunk as a LAZY one-row aggregate: min cut h bounds it, and
    // a cutless corpus coalesces to (-1, MIN, MAX) — same rows as the
    // former eager isEmpty branch, minus that branch's extra Spark job
    // on every append/delete/compact leg (the takedown capstone pays
    // these fixed jobs on 40-doc deltas)
    val prefixRange = cuts
      .agg(coalesce(min(col("h")), lit(Long.MaxValue)).as("hi"))
      .select(lit(-1L).as("chunk_key"), lit(Long.MinValue).as("lo"),
        col("hi"))
    rankedCuts
      .join(nextCuts, Seq("rk"), "left")
      .select(col("h").as("chunk_key"), col("h").as("lo"),
        coalesce(col("next_h"), lit(Long.MaxValue)).as("hi"))
      .unionByName(prefixRange)
  }

  /** Left-join from the dirty keys: a dirty chunk that ends the batch
    * EMPTY (a late cut absorbing the whole −1 prefix, or a delete
    * draining a chunk) must still emit a row — n_docs = 0 — or its stale
    * pre-batch version would survive the latest-wins read
    * (ChunkIndexSpec pins this). */
  private def recomputeManifest(dirty: DataFrame, members: DataFrame): DataFrame =
    dirty.join(
        members.groupBy("chunk_key")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
            sum(expr(s"(doc_id * 31 + fp) % ${Sharding.HashMod}")).as("checksum")),
        Seq("chunk_key"), "left")
      .select(col("chunk_key"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("checksum"), lit(0L)).as("checksum"))

  /** Takedown: tombstone `ids` and recompute only the chunks they leave —
    * each victim's chunk under the PRE-delete cuts, plus the predecessor
    * chunk of every victim CUT doc (its orphaned members merge there).
    * Caller contract: `batchId` must exceed every previous batch id (the
    * manifest read is latest-wins per key). Replay-idempotent like
    * append: all three deltas are this batch's own partitions.
    *
    * STREAM-INTERLEAVING contract: when a takedown runs between two legs
    * of a SAME-checkpoint stream ([[run]]), its `batchId` must also be an
    * id no checkpoint REPLAY can renumber to — a restarted stream with
    * `baseBatch` B stamps a replayed micro-batch k as B + k, so a
    * takedown at B + k would have its delta partitions overwritten by
    * the replay's content. Under `Trigger.AvailableNow` a leg's batches
    * are committed before `awaitTermination` returns, so once a leg
    * completes normally its ids cannot replay and `maxBatch + 1` is safe
    * (the q_stream_chunk_lifecycle pattern); a leg that CRASHED mid-batch
    * must be re-run to termination on the same checkpoint BEFORE any
    * takedown claims an id, so the replay lands first. */
  def delete(spark: SparkSession, base: String, ids: DataFrame,
             idCol: String, cutMod: Long, batchId: Long): Unit = {
    heal(spark, base)
    // victim lookup (docs chain) and the standing-cut read (cuts chain)
    // are independent inputs — materialized concurrently (§2.6)
    val Seq(victims, preCuts) = graft.exec.Concurrent.all(Seq(
      () => readDocs(spark, base, excludeBatch = batchId)
        .join(ids.select(col(idCol).cast(LongType).as("doc_id")),
          Seq("doc_id"))
        .select("doc_id", "h", "n_tokens", "fp")
        .localCheckpoint(),
      () => readCuts(spark, base, excludeBatch = batchId)
        .select("doc_id", "h").localCheckpoint()))

    // chunk of each non-cut victim under PRE cuts
    val nonCutKeys = Sharding.assignChunkKeysBy(
        preCuts.select(col("doc_id").as("id"), lit(0L).as("n_tokens"),
          col("h"), lit(1L).as("is_cut"))
        .unionByName(victims.filter(col("h") % cutMod =!= 0L)
          .select(col("doc_id").as("id"), col("n_tokens"), col("h"),
            lit(0L).as("is_cut"))))
      .join(victims.filter(col("h") % cutMod =!= 0L)
        .select(col("doc_id").as("id")), Seq("id"))
      .select("chunk_key")
    // each victim cut dirties itself and its predecessor (chains of
    // adjacent deleted cuts resolve: every victim contributes its own)
    val victimCuts = victims.filter(col("h") % cutMod === 0L).select("h")
    val rankedPre = graft.exec.Ranks.globalRowNumber(
      preCuts.select("h"), Seq(col("h")), "rk")
    val prevPre = rankedPre.select(col("h").as("prev_h"), (col("rk") + 1).as("rk"))
    val cutAndPred = victimCuts.join(rankedPre, Seq("h"))
      .join(prevPre, Seq("rk"), "left")
      .select(col("h").as("chunk_key"),
        coalesce(col("prev_h"), lit(-1L)).as("pred_key"))
    val dirty = nonCutKeys
      .union(cutAndPred.select(col("chunk_key")))
      .union(cutAndPred.select(col("pred_key").as("chunk_key")))
      .distinct().localCheckpoint()

    // post-delete cut set and the surviving members of dirty chunks
    val postCuts = preCuts.select("h")
      .join(victimCuts, Seq("h"), "left_anti")
    val dirtyRanges = cutRanges(spark, postCuts).join(dirty, "chunk_key")
      .localCheckpoint()
    val members = readDocs(spark, base, excludeBatch = batchId)
      .join(victims.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(broadcast(dirtyRanges), col("h") >= col("lo") && col("h") < col("hi"))
      .select(col("doc_id"), col("chunk_key"), col("n_tokens"), col("fp"))

    // independent sinks, inputs exclude this batch (append's contract)
    graft.exec.Concurrent.run(
      () => DeltaChains.write(base, "tombs", batchId, victims.select("doc_id")),
      () => DeltaChains.write(base, "manifest", batchId,
        recomputeManifest(dirty, members)))
  }

  /** Takedown-SLO watermark: manifest delta versions still standing —
    * pure directory listing (driver metadata). 1 right after a
    * compaction; each append/delete adds one. */
  def manifestVersions(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.batchIds(spark, base, "manifest").size.toLong
  }

  /** Erasure-LAG watermark (batch units): delta batches landed since
    * the OLDEST outstanding tombstone batch — 0 when no tombstones are
    * outstanding or the newest batch is the delete itself. Every
    * append/delete writes a manifest delta, so the manifest chain IS
    * the batch clock. Two directory listings, no row reads. */
  def tombBatchLag(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.tombBatchLag(spark, base, Seq("manifest"),
      oldestTomb(spark, base))
  }

  /** Wall-clock twin of [[tombBatchLag]]: ms since the oldest
    * outstanding tombstone batch landed (delta-dir mtime), None when
    * none outstanding. Clock-dependent, so an operator API — not part
    * of any oracle-gated frame. */
  def oldestTombstoneAgeMs(spark: SparkSession, base: String): Option[Long] = {
    heal(spark, base)
    DeltaChains.tombstoneAgeMs(spark, base, "tombs", oldestTomb(spark, base))
  }

  private def oldestTomb(spark: SparkSession, base: String): Option[Long] =
    DeltaChains.batchIds(spark, base, "tombs").minOption

  /** Takedown-SLO watermark: tombstoned doc ids not yet physically
    * retired by a compaction — delta-sized read ([[compact]]'s heal
    * deletes the whole tombs chain, so this reads 0 right after). */
  def pendingTombstones(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    readTombs(spark, base, excludeBatch = Long.MinValue)
      .select("__tomb_id").distinct().count()
  }

  /** Streaming maintenance: each micro-batch appends through the batch
    * step above ([[DeltaChains.stream]]). Micro-batch ids version the
    * delta partitions directly, so a replayed batch overwrites its own
    * partitions and the standing manifest is unchanged (ChunkIndexSpec
    * pins the same step called twice). */
  def run(stream: DataFrame, base: String, textCol: String, idCol: String,
          seed: Long, cutMod: Long, checkpoint: String, baseBatch: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    DeltaChains.stream(stream, checkpoint, baseBatch) { (batch, batchId) =>
      append(batch.sparkSession, base, batch, textCol, idCol, seed, cutMod,
        batchId)
    }

  /** Observability: physical layout (delta batches, live vs tombstoned
    * docs, manifest versions) plus logical totals. `needs_compact` flags
    * an index whose read amplification has drifted — many delta batches
    * or a tombstone share worth folding. One row. */
  def stats(spark: SparkSession, base: String): DataFrame = {
    heal(spark, base)
    import spark.implicits._
    val allDocs = DeltaChains.read(spark, base, "docs", docsSchema)
    val nBatches = allDocs.select("batch_id").distinct().count()
    val nRows = allDocs.count()
    val nTombs = DeltaChains.read(spark, base, "tombs", tombsSchema)
      .select("doc_id").distinct().count()
    val live = readDocs(spark, base)
    val nLive = live.count()
    val toks = live.agg(coalesce(sum("n_tokens"), lit(0L))).head.getLong(0)
    val manifest = readManifest(spark, base)
    val nChunks = manifest.count()
    val versions =
      DeltaChains.read(spark, base, "manifest", manifestSchema).count()
    Seq((nBatches, nRows, nTombs, nLive, toks, nChunks, versions,
      nBatches > 8 || (nRows > 0 && nTombs * 5 > nRows)))
      .toDF("n_delta_batches", "n_doc_rows", "n_tombstones", "n_live_docs",
        "n_tokens", "n_chunks", "n_manifest_versions", "needs_compact")
  }

  // ------------------------------------------------------------- compaction

  /** Roll an interrupted compaction forward (commit marker present) or
    * back (only the start marker) — [[DeltaChains.heal]]. Every index
    * entry point calls this, so a crash at any point leaves the next call
    * with a consistent view. */
  def heal(spark: SparkSession, base: String): Unit =
    DeltaChains.heal(spark, base, Chains, Retired)

  /** Fold every delta and tombstone into one consolidated batch. Single
    * writer: run between ingestion runs, never concurrently with one.
    * Crash-safe via the [[DeltaChains.commit]] window. Returns the
    * consolidated batch id — resume streaming with `baseBatch` above it. */
  def compact(spark: SparkSession, base: String, cutMod: Long): Long = {
    heal(spark, base)
    // Next consolidated id = max over ALL FOUR chains, not just docs:
    // with the delta writes overlapped, a crash can leave a cuts/
    // manifest/tombs delta for a batch whose docs delta never landed,
    // and a docs-only max could re-issue that batch id and collide with
    // the orphan (violating the "batch ids only grow" latest-wins
    // contract). Batch ids are partition DIRECTORY names, so the max is
    // a driver listing (guide §6), not a data scan.
    val c = DeltaChains.nextBatchId(spark, base, Chains ++ Retired)
    // three independent latest-wins folds of the three chains,
    // materialized concurrently (§2.6)
    val Seq(docs, cuts, manifest) = graft.exec.Concurrent.all(Seq(
      () => readDocs(spark, base).select("doc_id", "h", "n_tokens", "fp")
        .localCheckpoint(),
      () => readCuts(spark, base).select("doc_id", "h").localCheckpoint(),
      () => readManifest(spark, base).localCheckpoint()))
    // the consolidated writes land under the start marker (heal rolls
    // batch c back if any is incomplete) and read only the checkpointed
    // folds — independent sinks, overlapped
    DeltaChains.commit(spark, base, c, Chains, Retired) {
      graft.exec.Concurrent.run(
        () => DeltaChains.write(base, "docs", c, docs, Some("h")),
        () => DeltaChains.write(base, "cuts", c, cuts, Some("h")),
        () => DeltaChains.write(base, "manifest", c, manifest))
    }
    c
  }
}
