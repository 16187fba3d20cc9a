package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.exec.Wrangle

/** Scan/sink layer (SURVEY.md §2.5 rows 1-2 — absent from the reference,
  * which receives and emits in-memory Python objects; an engine needs both).
  *
  * Scale conventions baked in:
  *  - writes are *partitioned* by the query's natural pruning key (date,
  *    tenant, lang...) so downstream scans prune directories for free;
  *  - `sortWithinPartitions` orders rows inside files so parquet row-group
  *    min/max statistics actually skip IO on range predicates;
  *  - dimension tables can be *bucketed* on their join key: two tables
  *    bucketed the same way join with zero shuffle (verified in IOSpec);
  *  - the upsert is the set-oriented left-anti/coalesce pattern from
  *    graft.exec.Wrangle, i.e. MERGE INTO expressed as joins. */
object IO {

  /** Schema-enforced newline-delimited JSON read (semi-structured intake —
    * the reference's native input shape, SURVEY §1.1). PERMISSIVE mode
    * plus a corrupt-record column: bad lines land in `_corrupt` instead of
    * failing the scan. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Schema-evolution read: merges the footers of every parquet file under
    * `path` into the union schema — columns a file predates come back NULL.
    * The intake mode for long-lived datasets whose producers add fields
    * over time (mergeSchema is off by default because footer-merging costs
    * a pass over file metadata — opt in only where evolution is real). */
  def readTableEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Schema-enforced CSV read with header. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Schema-enforced ORC read (the other columnar format large estates
    * carry alongside parquet; same pushdown/pruning behavior). */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned, optionally sorted parquet sink. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       sortCols: Seq[String] = Nil,
                       mode: SaveMode = SaveMode.Overwrite): Unit = {
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    sorted.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
  }

  /** Morton (Z-order) interleave of the low `bits` bits of each column —
    * the multi-dimensional clustering key: sorting by it co-locates rows
    * close in EVERY dimension, so parquet row-group min/max stats prune
    * range predicates on any of the columns, not just the leading sort
    * key. Pure literal-shift bit arithmetic (codegen'd; Spark's
    * shiftleft/shiftright take literal shifts only), identical in any
    * SQL engine. Columns are masked to `bits` bits first (values beyond
    * that interleave only their low bits — pick `bits` to cover the
    * domain). */
  def zorderKey(cols: Seq[org.apache.spark.sql.Column], bits: Int): org.apache.spark.sql.Column = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 63,
      "need 1+ columns and bits*ncols <= 63")
    val d = cols.size
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
      i * d + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Z-ordered parquet sink: range-partition + sort by the interleaved
    * key, so every file covers a small hyper-rectangle of the key space
    * (verified in IOSpec: per-file spans of EACH dimension stay narrow).
    * Interleaving treats every bit level as equally significant — scale
    * the column expressions to comparable domains first (e.g. map each
    * to [0, 2^bits)), or a wide-domain column dominates the key and the
    * narrow ones get no clustering. */
  def writeZordered(df: DataFrame, path: String,
                    zCols: Seq[org.apache.spark.sql.Column],
                    bits: Int = 16, numFiles: Int = 8,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    val keyed = df.withColumn("__z", zorderKey(zCols, bits))
    keyed
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Bucketed managed table: `n` buckets on `bucketCols`, sorted within
    * buckets. Joins between tables bucketed identically on the join key
    * skip the shuffle entirely. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    n: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** MERGE INTO as joins: existing rows keep their record unless a matching
    * update arrives (update wins); unmatched updates are appended. Returns
    * the new dimension content — write it back with your sink of choice. */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val kept = existing.join(updates.select(keys.map(col): _*), keys, "left_anti")
    kept.unionByName(updates)
  }

  /** Insert-only-new (the reference's get-or-create miss path): rows of
    * `incoming` whose key is absent from `existing`. */
  def insertNew(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    Wrangle.newRecords(incoming, existing, keys)

  /** Streaming upsert sink: `foreachBatch` applies the MERGE-as-joins
    * [[upsert]] per micro-batch, so a stream maintains a keyed dimension —
    * the streaming half of the reference's get-or-create store. The batch
    * is deduped on the keys first (last write in a batch wins arbitrarily
    * -> keep it deterministic by deduping), and the merged result is
    * materialized (`localCheckpoint`) before overwriting the path it was
    * read from. Checkpointing makes retries idempotent: re-running a batch
    * re-merges the same keys. Caller starts/stops the returned query. */
  def writeStreamUpsert(stream: DataFrame, path: String, checkpoint: String,
                        keys: Seq[String]) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val deduped = batch.dropDuplicates(keys)
        val merged =
          if (new java.io.File(path).exists())
            upsert(spark.read.parquet(path), deduped, keys)
          else deduped
        merged.localCheckpoint()
          .write.mode(SaveMode.Overwrite).parquet(path)
        ()
      }
}
