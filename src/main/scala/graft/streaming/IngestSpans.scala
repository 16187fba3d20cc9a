package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.ext.SpanIndex

/** Streaming substring-dedup ingestion against the standing span index —
  * the unbounded twin of [[graft.ext.SpanIndex.trimIncremental]]. Each
  * micro-batch is span-trimmed against everything ingested so far (plus
  * its own within-batch duplicates, keep-first), the trimmed documents
  * land in the sink, and the survivors' window hashes fold back into the
  * index so later batches are trimmed against earlier survivors.
  *
  * Same architecture rationale as [[IngestDedup]]: the dedup state IS
  * the corpus fingerprint set — far beyond stream state stores — so it
  * lives in the bucketed index table; foreachBatch contributes
  * exactly-once batch boundaries via the checkpoint. Replay safety
  * follows the [[graft.ext.DedupIndex]] stamp protocol: appended rows
  * carry a tag derived from (checkpoint, batch id), the probe excludes
  * the current batch's tag (a replayed batch sees exactly the pre-append
  * state and reproduces its original trim), and the sink writes with
  * dynamic partition overwrite so a replay rewrites its own partition
  * instead of duplicating it. The index append is additionally
  * idempotent outright: it anti-joins every visible row, so a replay
  * finds its first attempt's hashes and appends nothing. */
object IngestSpans {

  /** Build the writer (caller `.start()`s it). Trimmed docs land in
    * `outPath` as parquet partitioned by `batch_id`. */
  def run(stream: DataFrame, base: String, textCol: String, idCol: String,
          outPath: String, checkpoint: String,
          updateIndex: Boolean = true): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, base, textCol, idCol, outPath,
          updateIndex, runTag = checkpoint)
      }

  /** One micro-batch step, exposed so the replay-idempotence contract is
    * directly testable: calling it twice with the SAME batchId (what a
    * restart between sink write and checkpoint commit does) must leave
    * exactly one copy of the batch's output, with the original values. */
  def processBatch(batch: DataFrame, batchId: Long, base: String,
                   textCol: String, idCol: String, outPath: String,
                   updateIndex: Boolean, runTag: String = ""): Unit = {
    val spark = batch.sparkSession
    val stamp = graft.functions.TextHash.xxhash(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        s"$runTag#$batchId"))
    // Materialize BEFORE the index mutation: the trimmed frame is
    // consumed twice (sink + append source) and the second evaluation
    // must not see the post-append index.
    val trimmed = graft.exec.Concurrent.withDesc("spans: trim probe") {
      SpanIndex.trimIncremental(spark, base, batch,
          textCol, idCol, excludeBid = Some(stamp))
        .localCheckpoint()
    }
    try {
      // sink write and index append are independent consumers of the
      // checkpointed trim writing to DISTINCT state (the out path vs the
      // index tables) — overlapped (§2.6). Each leg is individually
      // idempotent (dynamic partition overwrite / anti-joined append),
      // so a crash after any subset replays to the serial end state.
      val legs = Seq.newBuilder[(String, () => Unit)]
      legs += ("spans: sink" -> (() =>
        trimmed.withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outPath)))
      if (updateIndex)
        legs += ("spans: index append" -> (() =>
          SpanIndex.append(spark, base, trimmed, "trimmed_text", idCol,
            bid = stamp)))
      graft.exec.Concurrent.labeled(legs.result())
    } finally
      graft.exec.Partitioning.unpersistCheckpoint(trimmed)
  }
}
