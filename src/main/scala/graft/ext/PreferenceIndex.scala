package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Standing pairwise-preference matrix — the persistent state behind a
  * continuously-updated Bradley–Terry leaderboard (the Chatbot-Arena
  * operating mode: judgments stream in forever; items — model variants —
  * enter and leave the arena).
  *
  * The state is the DIRECTED OUTCOME MATRIX (winner, loser, n): counts
  * are additive, so ingestion is embarrassingly incremental — each
  * micro-batch lands its own pre-aggregated delta partition and the
  * current matrix is one sum over deltas. The expensive artifact (the
  * MM rating fit, [[Preference.btRatings]]) is recomputed FROM the
  * matrix on demand: K items bound the fit at K², independent of how
  * many billions of judgments ever streamed.
  *
  * Layout (same delta/tombstone discipline as [[ChunkIndex]]; the chains,
  * heal and two-marker compaction commit are [[DeltaChains]]):
  *
  *   base/edges/batch_id=N/  (winner, loser, n)  per-batch win counts
  *   base/ties/batch_id=N/   (a, b, n), a < b    per-batch draw counts
  *   base/tombs/batch_id=N/  (item)              withdrawn items
  *
  * Draws ([[appendJudgments]]/[[runJudgments]]/[[ties]]) feed the
  * Rao-Kupper tie-aware fit ([[Preference.rkRatings]]); win-only
  * callers never touch the ties table and behave exactly as before.
  *
  * WITHDRAWAL IS PERMANENT (delete-wins, the [[SimilarityIndex]]
  * contract, NOT ChunkIndex's revive-on-reappend): a withdrawn item
  * must not re-enter the leaderboard via late-arriving judgments, so
  * masking ignores batch order — any edge touching a tombstoned item
  * is dead no matter when it landed or lands. Re-admitting an item is
  * an explicit operator decision (compact first, which retires the
  * tombstone along with the masked edges, then ingest).
  *
  * Replay-idempotence: a micro-batch writes ONLY its own
  * `edges/batch_id=N` partition with dynamic partition overwrite, so a
  * checkpoint replay (restart between sink write and commit) rewrites
  * the identical partition instead of double-counting. Withdrawals
  * write only `tombs/` partitions — disjoint from every append — so
  * mid-stream takedowns cannot collide with replays at all.
  */
object PreferenceIndex {

  private val edgesSchema = StructType(Seq(
    StructField("winner", StringType), StructField("loser", StringType),
    StructField("n", LongType), StructField("batch_id", LongType)))
  // draws, canonical a < b — the Rao-Kupper tie matrix (see
  // [[Preference.rkRatings]]); lives beside edges/ with the same delta
  // discipline, so plain win-only indexes never materialize the dir
  private val tiesSchema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType),
    StructField("n", LongType), StructField("batch_id", LongType)))
  private val tombsSchema = StructType(Seq(
    StructField("item", StringType), StructField("batch_id", LongType)))

  private val Chains = Seq("edges", "ties")
  private val Retired = Seq("tombs")

  /** Ingest one batch of judgments: aggregate (winner, loser) rows to
    * counts and land them as this batch's own delta partition. */
  def append(spark: SparkSession, base: String, batch: DataFrame,
             winnerCol: String, loserCol: String, batchId: Long): Unit = {
    heal(spark, base)
    DeltaChains.write(base, "edges", batchId,
      batch.select(col(winnerCol).cast(StringType).as("winner"),
          col(loserCol).cast(StringType).as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("n")))
  }

  /** Ingest one batch of judgments that may contain DRAWS: rows are
    * (itemA, itemB, outcome) with outcome 'a' | 'b' | 'tie' (anything
    * else raises row-level — silent judgment loss is never acceptable).
    * Decided rows land as this batch's edges delta exactly like
    * [[append]]; draws land as a ties delta in canonical (least,
    * greatest) orientation. Same replay-idempotence: both deltas
    * rewrite only their own batch_id partition. */
  def appendJudgments(spark: SparkSession, base: String, batch: DataFrame,
                      aCol: String, bCol: String, outcomeCol: String,
                      batchId: Long): Unit = {
    heal(spark, base)
    val typed = batch.select(
      col(aCol).cast(StringType).as("ia"), col(bCol).cast(StringType).as("ib"),
      when(col(outcomeCol).isin("a", "b", "tie"), col(outcomeCol))
        .otherwise(raise_error(concat(
          lit("appendJudgments: outcome must be 'a'|'b'|'tie', got "),
          coalesce(col(outcomeCol).cast(StringType), lit("NULL")))))
        .as("oc"))
      // localCheckpoint: both delta writes read this frame — without
      // it every micro-batch re-scans its source (and re-runs the
      // outcome validation) twice in the streaming hot path
      .localCheckpoint()
    // independent sinks over the checkpointed frame — overlapped (§2.6)
    graft.exec.Concurrent.run(
      () => DeltaChains.write(base, "edges", batchId,
        typed.filter(col("oc") =!= "tie")
          .select(
            when(col("oc") === "a", col("ia")).otherwise(col("ib")).as("winner"),
            when(col("oc") === "a", col("ib")).otherwise(col("ia")).as("loser"))
          .groupBy("winner", "loser").agg(count(lit(1)).as("n"))),
      () => DeltaChains.write(base, "ties", batchId,
        typed.filter(col("oc") === "tie")
          .select(least(col("ia"), col("ib")).as("a"),
            greatest(col("ia"), col("ib")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))))
  }

  /** Ingest one batch of PRE-AGGREGATED win counts (winner, loser, n) —
    * the feed for callers that already hold a per-window outcome table
    * (the drift probes append one batch per time window, so batch id
    * doubles as window id). Same replay-idempotence as [[append]]. */
  def appendCounts(spark: SparkSession, base: String, counts: DataFrame,
                   batchId: Long): Unit = {
    heal(spark, base)
    DeltaChains.write(base, "edges", batchId,
      counts.select(col("winner").cast(StringType).as("winner"),
          col("loser").cast(StringType).as("loser"),
          col("n").cast(LongType).as("n"))
        .groupBy("winner", "loser").agg(sum("n").as("n")))
  }

  /** The live outcome matrix RESOLVED PER BATCH — (batch_id, winner,
    * loser, n) under the same delete-wins masking as [[matrix]]. This
    * is the standing-index feed for the windowed drift fits: ingestion
    * batches are time-ordered, so when each window appends as its own
    * batch the leaderboard's nonstationarity reads straight off the
    * index with no batch recompute over the judgment log. */
  def matrixByBatch(spark: SparkSession, base: String): DataFrame =
    live(spark, base, "edges", edgesSchema, byBatch = true)

  /** The live TIE matrix resolved per batch — (batch_id, a, b, n) under
    * the same delete-wins masking as [[ties]]: the standing-index feed
    * for tie-aware windowed drift fits (batch id ≡ window id, exactly
    * like [[matrixByBatch]]). Empty for win-only indexes. */
  def tiesByBatch(spark: SparkSession, base: String): DataFrame =
    live(spark, base, "ties", tiesSchema, byBatch = true)

  /** Retire the pending tombstones while PRESERVING per-batch history —
    * the drift-probe sibling of [[compact]] (which folds everything
    * into one consolidated batch and so destroys the batch ≡ window
    * correspondence). PARTIAL, the deletion-bounded discipline of
    * [[DedupIndex.compactPartial]]: only the delta partitions that
    * physically HOLD a withdrawn item's rows rewrite (then a
    * dynamic-partition-overwrite of exactly those batch ids); clean
    * partitions — the vast majority under a request-driven takedown,
    * since an item's judgments cluster in the windows it was live —
    * are never rewritten. DISCOVERY is lifetime-bounded too, not
    * corpus(W)-bounded (the r14 experiment's one remaining linear
    * term): the tombstone set is delta-sized by contract, so it
    * collects to an `IN`-literal predicate that reaches parquet
    * row-group min/max stats — a window partition whose item range
    * excludes every withdrawn item reads its FOOTERS, not its rows,
    * exactly the [[BucketedTables.dirtyFiles]] discipline. Items live
    * in bounded consecutive-window spans, so the windows that decode
    * rows are the takedown's lifetime. A degenerate tombstone set
    * (> `discoveryInListMax`) falls back to the broadcast semi-join. Batches left with NO
    * surviving rows are dropped, and the tombstone table is deleted
    * LAST. Crash-safe without markers: the masking rewrite is
    * idempotent, and a crash anywhere before the tombstone delete
    * leaves the tombstones active — reads stay masked, re-running
    * completes the retirement. Re-admission follows the [[withdraw]]
    * contract: only after this returns may the item's judgments
    * re-enter (as a fresh batch). */
  def compactBatched(spark: SparkSession, base: String,
                     discoveryInListMax: Int = 10000): Unit = {
    heal(spark, base)
    val tombs = DeltaChains.read(spark, base, "tombs", tombsSchema)
      .select(col("item")).distinct().localCheckpoint()
    try {
      // delta-sized by contract: collect once so the discovery scan can
      // run as an IN-literal predicate parquet stats prune against
      val tombItems: Array[String] =
        tombs.limit(discoveryInListMax + 1).collect().map(_.getString(0))
      if (tombItems.isEmpty) {
        DeltaChains.dropChain(spark, base, "tombs")
        return
      }
      def retire(table: String, schema: StructType,
                 maskCols: Seq[String]): Unit = {
        val all = DeltaChains.read(spark, base, table, schema)
        // the REWRITE SET: batches holding at least one withdrawn row.
        // IN-literal discovery reads footers on clean partitions (the
        // predicate reaches row-group min/max stats); the broadcast
        // semi-join fallback pays a full columnar read but tolerates a
        // degenerate (corpus-sized) tombstone set
        val dirtyScan =
          if (tombItems.length <= discoveryInListMax)
            all.filter(maskCols.map(c =>
              col(c).isin(tombItems.toIndexedSeq: _*)).reduce(_ || _))
          else maskCols.map(c =>
              all.join(broadcast(tombs.select(col("item").as(c))), Seq(c),
                "left_semi"))
            .reduce(_.unionAll(_))
        val dirty = dirtyScan
          .select("batch_id").distinct().collect().map(_.getLong(0)).toSet
        if (dirty.isEmpty) return
        val masked = maskCols.foldLeft(
            all.filter(col("batch_id").isin(dirty.toSeq: _*))) { (df, c) =>
          df.join(broadcast(tombs.select(col("item").as(c))), Seq(c),
            "left_anti")
        }.localCheckpoint()
        try {
          val after = masked.select("batch_id").distinct()
            .collect().map(_.getLong(0)).toSet
          DeltaChains.overwrite(base, table, masked)
          // a batch whose every row was withdrawn writes no partition —
          // drop its stale dir, or clearing the tombstones would
          // resurrect it
          (dirty -- after).foreach(b => DeltaChains.fs(spark)
            .delete(DeltaChains.batchDir(base, table, b), true))
        } finally graft.exec.Partitioning.unpersistCheckpoint(masked)
      }
      // independent tables, tombstones deleted only after BOTH retire —
      // overlapped (§2.6); the crash contract is unchanged (tombstones
      // stay active until the final delete, rewrites are idempotent)
      graft.exec.Concurrent.run(
        () => retire("edges", edgesSchema, Seq("winner", "loser")),
        () => retire("ties", tiesSchema, Seq("a", "b")))
      DeltaChains.dropChain(spark, base, "tombs")
      ()
    } finally graft.exec.Partitioning.unpersistCheckpoint(tombs)
  }

  /** Withdraw items from the arena: O(|items|) tombstone append; no edge
    * partition is rewritten. Permanent until the next [[compact]]. */
  def withdraw(spark: SparkSession, base: String, items: DataFrame,
               itemCol: String, batchId: Long): Unit = {
    heal(spark, base)
    DeltaChains.write(base, "tombs", batchId,
      items.select(col(itemCol).cast(StringType).as("item")).distinct())
  }

  /** The live outcome matrix: delta counts summed, edges touching a
    * withdrawn item masked on BOTH endpoints regardless of batch order
    * (see the delete-wins contract above). */
  def matrix(spark: SparkSession, base: String): DataFrame =
    live(spark, base, "edges", edgesSchema, byBatch = false)

  /** The live tie matrix (a, b, n), a < b — delta counts summed under
    * the SAME delete-wins masking as [[matrix]]: a draw touching a
    * withdrawn item is dead regardless of batch order. Empty for
    * win-only indexes. */
  def ties(spark: SparkSession, base: String): DataFrame =
    live(spark, base, "ties", tiesSchema, byBatch = false)

  /** One count chain (its first two columns are the item pair) with every
    * row touching a withdrawn item masked on BOTH endpoints, summed per
    * pair — and per batch when `byBatch`. */
  private def live(spark: SparkSession, base: String, chain: String,
                   schema: StructType, byBatch: Boolean): DataFrame = {
    heal(spark, base)
    val Array(x, y) = schema.fieldNames.take(2)
    val keys = (if (byBatch) Seq("batch_id") else Nil) ++ Seq(x, y)
    val tombs = DeltaChains.read(spark, base, "tombs", tombsSchema)
      .select(col("item")).distinct()
    DeltaChains.read(spark, base, chain, schema)
      .join(tombs.select(col("item").as(x)), Seq(x), "left_anti")
      .join(tombs.select(col("item").as(y)), Seq(y), "left_anti")
      .groupBy(keys.head, keys.tail: _*).agg(sum("n").as("n"))
  }

  /** Takedown-SLO watermark: distinct withdrawn items whose tombstones
    * a retirement ([[compact]]/[[compactBatched]]) has not yet folded
    * away. Delta-sized read by the tombstone contract. */
  def pendingTombstones(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.read(spark, base, "tombs", tombsSchema)
      .select(col("item")).distinct().count()
  }

  /** Erasure-LAG watermark (batch units): judgment batches landed since
    * the OLDEST outstanding tombstone batch — 0 when no tombstones are
    * outstanding or nothing landed after the withdrawal. All three
    * chains partition by batch_id, so this is pure directory listing
    * (driver metadata, no row reads). */
  def tombBatchLag(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.tombBatchLag(spark, base, Chains, oldestTomb(spark, base))
  }

  /** Wall-clock twin of [[tombBatchLag]]: milliseconds since the OLDEST
    * outstanding tombstone batch landed (its delta dir's modification
    * time), None when nothing is outstanding. Unverifiable by a
    * deterministic oracle (it reads the clock), so it lives here as an
    * operator API rather than in a gated query frame; one directory
    * listing + one status read. */
  def oldestTombstoneAgeMs(spark: SparkSession, base: String): Option[Long] = {
    heal(spark, base)
    DeltaChains.tombstoneAgeMs(spark, base, "tombs", oldestTomb(spark, base))
  }

  private def oldestTomb(spark: SparkSession, base: String): Option[Long] =
    DeltaChains.batchIds(spark, base, "tombs").minOption

  /** Observability: physical layout vs logical content, and whether read
    * amplification has drifted enough to fold. One row. */
  def stats(spark: SparkSession, base: String): DataFrame = {
    heal(spark, base)
    import spark.implicits._
    val all = DeltaChains.read(spark, base, "edges", edgesSchema)
    val allTies = DeltaChains.read(spark, base, "ties", tiesSchema)
    // deltas across BOTH tables drive the compaction signal — a tie-heavy
    // arena fragments the ties table just as fast as edges
    val nBatches = all.select("batch_id")
      .unionAll(allTies.select("batch_id")).distinct().count()
    val nRows = all.count()
    val nTieRows = allTies.count()
    val nTombs = DeltaChains.read(spark, base, "tombs", tombsSchema)
      .select("item").distinct().count()
    val live = matrix(spark, base)
    val nEdges = live.count()
    val liveTies = ties(spark, base)
    val nLiveTies = liveTies.count()
    val nItems = live.select(explode(array(col("winner"), col("loser"))).as("item"))
      .unionAll(liveTies.select(explode(array(col("a"), col("b"))).as("item")))
      .distinct().count()
    val nJudg = live.agg(coalesce(sum("n"), lit(0L))).head.getLong(0) +
      liveTies.agg(coalesce(sum("n"), lit(0L))).head.getLong(0)
    Seq((nBatches, nRows, nTieRows, nTombs, nEdges, nLiveTies, nItems, nJudg,
      nBatches > 8 || nTombs > 0))
      .toDF("n_delta_batches", "n_edge_rows", "n_tie_rows",
        "n_withdrawn_items", "n_live_edges", "n_live_ties", "n_live_items",
        "n_judgments", "needs_compact")
  }

  /** Streaming maintenance: each micro-batch appends through the batch
    * step above (foreachBatch — the matrix must outlive the stream and
    * serve batch readers; Structured Streaming contributes exactly-once
    * batch boundaries and restart bookkeeping via the checkpoint).
    * `baseBatch` offsets a later leg's ids above earlier versions; see
    * [[DeltaChains.stream]] and [[ChunkIndex.delete]] for the
    * renumbering contract. */
  def run(stream: DataFrame, base: String, winnerCol: String,
          loserCol: String, checkpoint: String, baseBatch: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    DeltaChains.stream(stream, checkpoint, baseBatch) { (batch, batchId) =>
      append(batch.sparkSession, base, batch, winnerCol, loserCol, batchId)
    }

  /** [[run]] for judgment streams that may contain draws — each
    * micro-batch goes through [[appendJudgments]] (edges + ties deltas
    * under one batch id). */
  def runJudgments(stream: DataFrame, base: String, aCol: String,
                   bCol: String, outcomeCol: String, checkpoint: String,
                   baseBatch: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    DeltaChains.stream(stream, checkpoint, baseBatch) { (batch, batchId) =>
      appendJudgments(batch.sparkSession, base, batch, aCol, bCol,
        outcomeCol, batchId)
    }

  // ------------------------------------------------------------- compaction

  /** Roll an interrupted compaction forward (commit marker present) or
    * back (only the start marker) — [[DeltaChains.heal]]. */
  def heal(spark: SparkSession, base: String): Unit =
    DeltaChains.heal(spark, base, Chains, Retired)

  /** Fold every delta minus the withdrawn edges into one consolidated
    * batch and retire the tombstones. Single writer; crash-safe via the
    * two-marker protocol. Returns the consolidated batch id — resume
    * streaming with `baseBatch` above it. */
  def compact(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    val c = DeltaChains.nextBatchId(spark, base, Chains)
    val folded = matrix(spark, base).localCheckpoint()
    val foldedTies = ties(spark, base).localCheckpoint()
    DeltaChains.commit(spark, base, c, Chains, Retired) {
      DeltaChains.write(base, "edges", c, folded)
      // A win-only index never materializes base/ties (the documented
      // layout contract) — writing an empty folded batch here would create
      // it on the first compaction. Only skip when the dir is ALSO absent:
      // an index whose ties were all withdrawn still needs the folded
      // (empty) batch so heal() can retire the old deltas it is about to
      // drop.
      if (foldedTies.limit(1).count() > 0 ||
          DeltaChains.exists(spark, base, "ties"))
        DeltaChains.write(base, "ties", c, foldedTies)
    }
    c
  }
}
