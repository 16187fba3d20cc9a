package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowing — tumbling / sliding / session — written once and
  * usable under both batch and Structured Streaming (the plans are
  * identical; streaming adds a watermark for state eviction).
  *
  * Scale notes: windowed aggregation shuffles on (window, keys) — the same
  * partial+final aggregate as any groupBy; session windows shuffle on the
  * grouping keys and merge per key. Watermarks bound streaming state: at
  * 100 TB/day the state store only holds windows newer than the watermark. */
object Windows {

  private val defaultAggs: Seq[Column] = Seq(count(lit(1)).as("n"))

  /** Tumbling-window aggregate per (window, keys). */
  def tumbling(events: DataFrame, ts: String, width: String, keys: Seq[String],
               aggs: Seq[Column] = defaultAggs): DataFrame =
    events.groupBy((window(col(ts), width) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("window.start").as("w_start"), col("window.end").as("w_end")) ++
        keys.map(col) ++ aggNames(aggs).map(col)): _*)

  /** Sliding-window aggregate (each event lands in width/slide windows). */
  def sliding(events: DataFrame, ts: String, width: String, slide: String,
              keys: Seq[String], aggs: Seq[Column] = defaultAggs): DataFrame =
    events.groupBy((window(col(ts), width, slide) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("window.start").as("w_start"), col("window.end").as("w_end")) ++
        keys.map(col) ++ aggNames(aggs).map(col)): _*)

  /** Session windows: events less than `gap` apart merge; the window closes
    * `gap` after the last event. */
  def session(events: DataFrame, ts: String, gap: String, keys: Seq[String],
              aggs: Seq[Column] = defaultAggs): DataFrame =
    events.groupBy((session_window(col(ts), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end")) ++
        keys.map(col) ++ aggNames(aggs).map(col)): _*)

  private def aggNames(aggs: Seq[Column]): Seq[String] =
    aggs.map(_.toString.split(" AS ").last.stripSuffix("`").split("`").last)

  /** The streaming twin of [[tumbling]]: same plan + watermark. Call on a
    * `readStream` DataFrame; output mode append once the watermark passes
    * the window end. */
  def tumblingStream(events: DataFrame, ts: String, width: String,
                     keys: Seq[String], watermark: String,
                     aggs: Seq[Column] = defaultAggs): DataFrame =
    tumbling(events.withWatermark(ts, watermark), ts, width, keys, aggs)
}
