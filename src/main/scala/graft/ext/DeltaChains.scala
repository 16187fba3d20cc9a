package graft.ext

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** The batch-dir chain protocol shared by [[ChunkIndex]],
  * [[PreferenceIndex]] and [[ClusterIndex]]. A CHAIN is one plain
  * parquet table at `base/<chain>/`, partitioned by `batch_id`: each
  * batch lands as its own `batch_id=N/` directory through a dynamic
  * partition overwrite, so a replayed batch rewrites its own partition
  * instead of double-counting. Batch ids only grow; every structure
  * resolves its chains latest-wins (or by sum) over those ids itself —
  * this module never interprets rows.
  *
  * COMPACTION folds a structure's chains into one consolidated batch `c`
  * under two markers at `base/`, each holding `c` as decimal UTF-8:
  *  - `_compact_start` lands before the first consolidated write;
  *  - `_compact_commit` lands after the last one.
  * [[heal]] — called on every entry point of the three structures —
  * rolls an interrupted compaction FORWARD when the commit marker is
  * present (drop every batch below `c`, delete the retired dirs, then
  * the start and commit markers, in that order, so a crash inside heal
  * re-runs it from the top) and BACK when only the start marker is
  * (drop batch `c`, then the start marker). With neither present it
  * costs exactly two existence probes. */
private[ext] object DeltaChains {

  def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, base: String, chain: String): Boolean =
    fs(spark).exists(new Path(s"$base/$chain"))

  // Empty ONLY for a genuinely absent chain; any other read failure must
  // propagate. Swallowing a transient listing error would let a compaction
  // fold against a phantom-empty chain, write the commit marker, and
  // retire tombstones without having masked their rows — silently
  // resurrecting deleted entries.
  def read(spark: SparkSession, base: String, chain: String,
           schema: StructType): DataFrame =
    if (!exists(spark, base, chain))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(s"$base/$chain")

  /** Land `df` as batch `batchId` of `chain`, optionally sorted within
    * files by `sortCol` (so scans prune on parquet min/max). */
  def write(base: String, chain: String, batchId: Long, df: DataFrame,
            sortCol: Option[String] = None): Unit = {
    val stamped = df.withColumn("batch_id", lit(batchId))
    overwrite(base, chain,
      sortCol.fold(stamped)(stamped.sortWithinPartitions(_)))
  }

  /** Rewrite exactly the batches `df`'s `batch_id` column names. */
  def overwrite(base: String, chain: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$base/$chain")

  def dropChain(spark: SparkSession, base: String, chain: String): Unit =
    fs(spark).delete(new Path(s"$base/$chain"), true)

  def batchDir(base: String, chain: String, batchId: Long): Path =
    new Path(s"$base/$chain/batch_id=$batchId")

  private def batchDirs(spark: SparkSession, base: String,
                        chain: String): Seq[(Long, FileStatus)] = {
    val dir = new Path(s"$base/$chain")
    val f = fs(spark)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("batch_id=") =>
        st.getPath.getName.stripPrefix("batch_id=").toLong -> st
    }
  }

  /** Live batch ids of one chain. The batch id IS the partition directory
    * name, so this is a driver listing, zero Spark jobs. A partition dir
    * exists iff its delta wrote rows (a partitioned write of an empty frame
    * creates none), so the listing equals the column's distinct values. */
  def batchIds(spark: SparkSession, base: String, chain: String): Seq[Long] =
    batchDirs(spark, base, chain).map(_._1)

  /** One above every batch id in `chains` (0 for an empty structure). */
  def nextBatchId(spark: SparkSession, base: String,
                  chains: Seq[String]): Long =
    (chains.flatMap(batchIds(spark, base, _)) :+ -1L).max + 1L

  /** Erasure-LAG watermark (batch units): distinct batches of the `clock`
    * chains landed after the `oldest` outstanding tombstone batch — 0 when
    * none is outstanding. Directory listings only. */
  def tombBatchLag(spark: SparkSession, base: String, clock: Seq[String],
                   oldest: Option[Long]): Long =
    oldest.fold(0L)(o =>
      clock.flatMap(batchIds(spark, base, _)).distinct.count(_ > o).toLong)

  /** Wall-clock twin of [[tombBatchLag]]: ms since `chain`'s batch
    * `oldest` landed (its partition dir's mtime). */
  def tombstoneAgeMs(spark: SparkSession, base: String, chain: String,
                     oldest: Option[Long]): Option[Long] =
    oldest.map(o => System.currentTimeMillis() -
      fs(spark).getFileStatus(batchDir(base, chain, o)).getModificationTime)

  private def startMarker(base: String) = new Path(s"$base/_compact_start")
  private def commitMarker(base: String) = new Path(s"$base/_compact_commit")

  private def writeMarker(spark: SparkSession, p: Path, c: Long): Unit = {
    val out = fs(spark).create(p, true)
    try out.write(c.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readMarker(spark: SparkSession, p: Path): Option[Long] =
    if (!fs(spark).exists(p)) None
    else {
      val in = fs(spark).open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toLong)
      } finally in.close()
    }

  private def dropBatches(spark: SparkSession, base: String,
                          chains: Seq[String], pred: Long => Boolean): Unit =
    for (chain <- chains; (b, st) <- batchDirs(spark, base, chain) if pred(b))
      fs(spark).delete(st.getPath, true)

  /** Finish or undo an interrupted compaction of `chains` (see the header);
    * `retire` names the dirs a committed compaction folded away whole. */
  def heal(spark: SparkSession, base: String, chains: Seq[String],
           retire: Seq[String]): Unit =
    readMarker(spark, commitMarker(base)) match {
      case Some(c) => // consolidation complete: finish the cleanup
        dropBatches(spark, base, chains, _ < c)
        retire.foreach(dropChain(spark, base, _))
        fs(spark).delete(startMarker(base), false)
        fs(spark).delete(commitMarker(base), false)
      case None => readMarker(spark, startMarker(base)) match {
        case Some(c) => // consolidation may be partial: discard it
          dropBatches(spark, base, chains, _ == c)
          fs(spark).delete(startMarker(base), false)
        case None => ()
      }
    }

  /** The compaction commit window: `writes` must land every consolidated
    * batch `c` strictly between the start and commit markers; the trailing
    * [[heal]] then rolls forward. Before the commit marker lands the
    * consolidated partitions are garbage (rolled back); after it, the old
    * partitions are. */
  def commit(spark: SparkSession, base: String, c: Long, chains: Seq[String],
             retire: Seq[String])(writes: => Unit): Unit = {
    writeMarker(spark, startMarker(base), c)
    writes
    writeMarker(spark, commitMarker(base), c)
    heal(spark, base, chains, retire)
  }

  /** Streaming maintenance through a batch step: foreachBatch, not a
    * stateful operator — the state must outlive the stream and serve batch
    * readers. `baseBatch` offsets the stream's ids: a run resumed with a
    * FRESH checkpoint restarts its counter at 0, which would sort below
    * every existing version — pass the structure's current max batch + 1. */
  def stream(df: DataFrame, checkpoint: String, baseBatch: Long)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, baseBatch + batchId)
      }
}
