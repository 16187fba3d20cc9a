package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ext.SimilarityIndex

/** Streaming vector ingestion into the standing ANN index — the unbounded
  * twin of [[graft.ext.SimilarityIndex.append]], completing the
  * continuous-ingestion story for similarity search the way
  * [[IngestDedup]] does for deduplication: the corpus state lives in the
  * bucketed cells table (never re-shuffled), each micro-batch is assigned
  * with the STORED quantizer and bucket-preservingly appended, and new
  * vectors are searchable as soon as their batch commits.
  *
  * Replay contract (restart between append and checkpoint commit): cell
  * assignment under the stored quantizer is DETERMINISTIC, so a replayed
  * batch appends byte-identical rows. Probes dedup their probed slice
  * ([[SimilarityIndex.topK]]), so duplicate rows never distort top-k —
  * they only cost space until an offline [[SimilarityIndex.compact]]
  * folds them away.
  *
  * foreachBatch (not a stateful operator) for the same reason as
  * [[IngestDedup]]: the index IS the state and is far too large for
  * stream state stores; Structured Streaming contributes batch
  * boundaries and restart bookkeeping via the checkpoint. */
object IngestVectors {

  /** Build the writer (caller `.start()`s it). */
  def run(stream: DataFrame, base: String, checkpoint: String,
          idCol: String = "vec_id", vecCol: String = "embedding")
      : DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SimilarityIndex.append(batch.sparkSession, base, batch, idCol, vecCol)
      }
}
