package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.ext.{ClusterIndex, DedupIndex}

/** Streaming near-duplicate ingestion against the standing bucketed dedup
  * index — the unbounded twin of [[graft.ext.DedupIndex.dedupIncremental]],
  * and the full 100 TB continuous-ingestion shape: the corpus state lives
  * in bucketed tables that are never re-shuffled; each micro-batch judges
  * its rows (exact text rule + prefix-filtered exact-Jaccard near rule,
  * the lossless candidate generator), emits a verdict row per input, and
  * optionally folds the survivors back into the index so later batches
  * are judged against earlier survivors too.
  *
  * foreachBatch (not a stateful operator) is the right tool here: the
  * dedup state is far too large for stream state stores — it IS the
  * corpus — and lives in the bucketed tables instead; Structured
  * Streaming contributes exactly-once batch boundaries and restart
  * bookkeeping via the checkpoint. */
object IngestDedup {

  /** Build the writer (caller `.start()`s it). Verdicts land in
    * `verdictPath` as parquet partitioned by `batch_id`, written with
    * dynamic partition OVERWRITE — a replayed micro-batch (restart between
    * sink write and checkpoint commit) rewrites its own partition instead
    * of appending a duplicate copy, so the sink is idempotent. The index
    * append is replay-safe as well: appended rows are stamped with a tag
    * derived from (checkpoint location, batch id) — stable across
    * restarts of the SAME logical run, unique across different ingestion
    * runs sharing the index — and the probe EXCLUDES the current batch's
    * tag, so a replay judges against exactly the pre-append state and
    * reproduces the original verdicts, while its duplicate append rows
    * only cost space (probes distinct their matches) until compaction.
    * With `updateIndex`, each batch's kept rows append to the index
    * (bucket-preserving), making batch order significant exactly like
    * sequential ingestion is. */
  def run(stream: DataFrame, base: String, textCol: String, idCol: String,
          blockCol: String, threshold: Double, verdictPath: String,
          checkpoint: String, updateIndex: Boolean,
          shingleN: Int = 3,
          candidates: String = "prefix",
          clusterBase: String = "",
          clusterTrackEdges: Boolean = true): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, base, textCol, idCol, blockCol,
          threshold, verdictPath, updateIndex, shingleN, candidates,
          runTag = checkpoint, clusterBase = clusterBase,
          clusterTrackEdges = clusterTrackEdges)
      }

  /** One micro-batch step, exposed so the replay-idempotence contract is
    * directly testable: calling it twice with the SAME batchId (what a
    * restart between sink write and checkpoint commit does) must leave
    * exactly one copy of the batch's verdicts. */
  def processBatch(batch: DataFrame, batchId: Long, base: String,
                   textCol: String, idCol: String, blockCol: String,
                   threshold: Double, verdictPath: String,
                   updateIndex: Boolean, shingleN: Int = 3,
                   candidates: String = "prefix",
                   runTag: String = "",
                   clusterBase: String = "",
                   clusterTrackEdges: Boolean = true): Unit = {
    val spark = batch.sparkSession
    // The index stamp must be stable across restarts of this run (a
    // replayed batch must see and exclude its first attempt's rows) but
    // unique across RUNS sharing the standing index (a later run's batch
    // 0 must not mask an earlier run's batch 0) — hash the checkpoint
    // location in. A bare batchId satisfies the first and violates the
    // second.
    val stamp = graft.functions.TextHash.xxhash(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        s"$runTag#$batchId"))
    // Captured BEFORE the probe; appendKept re-verifies it inside the
    // writer lease, so the healRefresh = false fast path below is
    // CHECKED against foreign compactions, not assumed safe (one
    // metadata read per batch).
    val probeEpoch =
      if (updateIndex) Some(DedupIndex.snapshotEpoch(spark, base)) else None
    // Materialize the EDGES before any index mutation: they are
    // consumed up to three times (verdict derivation, cluster fold,
    // kept-row filter), and later evaluations must not see the index
    // as it looks after the append. The verdicts derive from the
    // checkpointed edges without touching the index again
    // (DedupIndex.verdictsFromEdges), so maintaining clusters costs no
    // second probe pass.
    // The batch's ARTIFACT frame (tokenize + shingle + hash — the
    // batch's dominant compute at scale) is materialized ONCE and shared
    // by the probe and the index append below (§2.4: the two used to
    // each re-derive it). The artifact pass chains ahead of the probe
    // inside one leg; the standing CLUSTER state's latest-wins read is
    // an independent structure and overlaps both (§2.6), so the fold
    // starts from a pre-materialized state instead of paying that read
    // on its critical path.
    val foldId = ClusterIndex.streamFoldId(batchId)
    @volatile var art: DataFrame = null
    @volatile var edges: DataFrame = null
    @volatile var cur: DataFrame = null
    val reads = Seq.newBuilder[(String, () => Unit)]
    reads += ("ingest: probe" -> (() => {
      art = graft.exec.Concurrent.withDesc("ingest: batch artifacts") {
        DedupIndex.batchArtifacts(batch, textCol, idCol, blockCol, shingleN)
          .localCheckpoint()
      }
      edges = DedupIndex.matchEdges(spark, base, batch,
          textCol, idCol, blockCol, threshold, shingleN, candidates,
          excludeBatchId = stamp, precomputedArtifacts = Some(art))
        .localCheckpoint()
    }))
    if (clusterBase.nonEmpty)
      reads += ("ingest: cluster state" -> (() =>
        cur = ClusterIndex.currentSnapshot(spark, clusterBase, foldId)))
    try {
      graft.exec.Concurrent.labeled(reads.result())
      val verdicts = DedupIndex.verdictsFromEdges(batch, idCol, edges)
      // The batch's three consumers — verdict sink, cluster fold, index
      // append — all derive from the CHECKPOINTED edges and write to
      // DISTINCT state (the verdict path, the cluster base, the index
      // tables), so they run as concurrent driver-submitted jobs
      // (guide §2.6): the fold — a handful of small jobs around one
      // union-find task — finishes inside the append's bucketed write
      // instead of waiting behind it.
      // Replay safety is per-leg and order-free — each leg was already
      // individually idempotent (dynamic partition overwrite / strided
      // fold id / stamped append), so a crash after ANY subset of legs
      // replays to the same state serial execution reached.
      val legs = Seq.newBuilder[(String, () => Unit)]
      legs += ("ingest: verdict sink" -> (() =>
        verdicts.withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(verdictPath)))
      // Incremental connected components: fold this batch's verified
      // edges (and every batch document as a node) into the standing
      // cluster state. Stamped with the STRIDED logical batch id
      // (ClusterIndex.streamFoldId — a pure function of the epoch, so a
      // replay folds against the pre-batch state and rewrites its own
      // assertions, idempotent by the same argument as the verdict
      // partition) leaving id room for manual withdrawals/compactions
      // between epochs.
      if (clusterBase.nonEmpty)
        legs += ("ingest: cluster fold" -> (() =>
          ClusterIndex.fold(spark, clusterBase,
            edges, batch.select(col(idCol)), foldId,
            trackEdges = clusterTrackEdges,
            precomputedCur = Some(cur))))
      if (updateIndex)
        // healRefresh = false: matchEdges healed WITH refresh at the
        // top of this batch, so this session's relation caches reflect
        // the state the batch probed; a second refresh would force five
        // full file re-listings per micro-batch for state this batch
        // itself observed. The single-writer-per-index deployment
        // contract this relies on is CHECKED, not assumed: matchEdges
        // runs unleased and appendKept takes the lease only at entry,
        // so a compaction completing in ANOTHER session between the
        // probe and the append would leave these caches stale — but the
        // probe-time epoch passed below is re-verified inside the
        // append's lease, so that foreign swap makes the append REFUSE
        // loudly (re-run the batch against the live snapshot) instead
        // of folding rows judged through a retired snapshot's caches
        legs += ("ingest: index append" -> (() =>
          DedupIndex.appendKept(spark, base, batch, verdicts,
            textCol, idCol, blockCol, threshold, shingleN, batchId = stamp,
            healRefresh = false, expectEpoch = probeEpoch,
            precomputedArtifacts = Some(art))))
      graft.exec.Concurrent.labeled(legs.result())
    } finally {
      // free the batch's checkpoint blocks even on a failed/retried
      // batch — a long-running stream must not accumulate one dead
      // frame per attempt (unpersist is idempotent; fold also frees the
      // cluster snapshot on its own success/failure paths)
      if (edges != null) graft.exec.Partitioning.unpersistCheckpoint(edges)
      if (cur != null) graft.exec.Partitioning.unpersistCheckpoint(cur)
      if (art != null) graft.exec.Partitioning.unpersistCheckpoint(art)
    }
  }
}
