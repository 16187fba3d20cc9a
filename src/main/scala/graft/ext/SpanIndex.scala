package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Standing substring-dedup index: the ≥w-token window fingerprints of
  * everything ingested so far, bucketed + sorted by hash, so each new
  * batch can be span-trimmed against 100 TB of history without
  * rescanning or reshuffling that history.
  *
  * [[Dedup.trimSpans]] dedups one static corpus; ingestion pipelines see
  * a stream of batches instead, and each batch must lose (a) every span
  * the corpus already owns and (b) every within-batch duplicate span
  * except its first occurrence — after which the batch's surviving spans
  * join the index.
  *
  * Rows are (h, cnt, bid): OCCURRENCE REFCOUNTS, not a bare hash set.
  * The count is what makes takedown exact — deleting a document appends
  * negative counts for ITS occurrences, and a window stays live exactly
  * while some non-deleted document still contains it (sum > 0). The live
  * set is computed with a bucket-local aggregation: the table is bucketed
  * by `h`, so the groupBy needs no exchange and only the probing delta
  * ever shuffles. After compaction the table holds one row per distinct
  * hash, a small fraction of corpus bytes.
  *
  * Extension surface — the reference (timfi/wrangle_pypes) holds no
  * standing state; conventions follow [[DedupIndex]]/[[SimilarityIndex]]
  * (versioned snapshots, writer lease, sidecar-pinned parameters,
  * replay-stamped appends, negative-count tombstones folded away at
  * compaction). The window width `w` is pinned in a snapshot sidecar at
  * build time so a probe can never silently fingerprint with a different
  * width than the index was built with. */
object SpanIndex {
  def hashTable(base: String) = s"${base}_spanh"
  // leading underscore: Spark's file listing skips it, so the bucketed
  // scan never mistakes the sidecar for a bucket file
  private val WSidecar = "_span_w"

  /** Batch stamp of bulk (non-streaming) writes. Streaming appends stamp
    * rows with a per-micro-batch id instead, so a replayed batch can
    * probe with its own first attempt's rows EXCLUDED and reproduce the
    * original trim verdicts (same protocol as [[DedupIndex]]). */
  val BulkBid = 0L

  private def windowCounts(df: DataFrame, textCol: String, idCol: String,
                           w: Int): DataFrame =
    Dedup.spanWindows(df, textCol, idCol, w)
      .groupBy("h").agg(count(lit(1)).as("cnt"))

  /** [[BucketedTables.heal]] of the hash table, called on entry by every
    * index API: a rebuild that died between its DROP and RENAME left the
    * complete new snapshot under the scratch entry. `refresh = false`
    * before an overwrite (nothing reads the old state). */
  private def heal(spark: SparkSession, base: String,
                   refresh: Boolean = true): Unit =
    BucketedTables.heal(spark, Seq(hashTable(base)), refresh)

  /** Build the index over an already-deduped corpus. */
  def write(corpus: DataFrame, textCol: String, idCol: String, base: String,
            w: Int = 6, buckets: Int = 8): Unit = {
    heal(corpus.sparkSession, base, refresh = false)
    val h = windowCounts(corpus, textCol, idCol, w)
      .withColumn("bid", lit(BulkBid))
    BucketedTables.writeBucketed(h, hashTable(base), Seq("h"), buckets,
      SaveMode.Overwrite,
      sidecar = Seq(WSidecar -> w.toString.getBytes("UTF-8")))
  }

  /** The window width the index was built with (sidecar-pinned). */
  def windowWidth(spark: SparkSession, base: String): Int = {
    heal(spark, base, refresh = false)
    new String(BucketedTables.readSidecar(spark, hashTable(base), WSidecar),
      "UTF-8").toInt
  }

  /** The live hash set: positive summed refcount, optionally blind to one
    * batch stamp. The `distinct()` discards byte-identical rows a
    * replayed append may have duplicated, so refcount sums stay exact
    * even before a compaction folds the copies; both it and the groupBy
    * cluster on `h`, which the bucketed scan already provides — no
    * exchange on the index side. */
  private def liveHashes(spark: SparkSession, base: String,
                         excludeBid: Option[Long]): DataFrame =
    excludeBid
      .foldLeft(spark.table(hashTable(base)))((t, b) => t.filter(col("bid") =!= b))
      .select(col("h"), col("cnt"), col("bid")).distinct()
      .groupBy("h").agg(sum(col("cnt")).as("__n"))
      .filter(col("__n") > 0)
      .select(col("h"))

  /** Span-trim a delta batch against the standing corpus and itself.
    * A window hash live in the index removes every batch occurrence
    * (the corpus owns the canonical copy); a hash new to this batch but
    * duplicated within it keeps its first (id, pos) occurrence — the
    * same canonical rule as [[Dedup.trimSpans]]. Every delta doc comes
    * back: (idCol, kept_tokens, trimmed_text). */
  def trimIncremental(spark: SparkSession, base: String, delta: DataFrame,
                      textCol: String, idCol: String,
                      excludeBid: Option[Long] = None): DataFrame = {
    heal(spark, base)
    val w = windowWidth(spark, base)
    // h-keyed materialization point: the index probe, the canon
    // aggregation and the join-back all consume one exchange of the
    // delta's fingerprints (the Dedup.duplicateSpans pattern)
    val we = Dedup.spanWindows(delta, textCol, idCol, w).repartition(col("h"))
    val fromIndex = we.join(liveHashes(spark, base, excludeBid), Seq("h"), "left_semi")
      .select(col("id"), col("n_tokens"), col("pos"))
    val canon = we.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("id"), col("pos"))).as("canon"))
      .filter(col("n_occ") > 1)
      .select(col("h"), col("canon"))
    val withinDelta = we.join(canon, Seq("h"))
      .filter(struct(col("id"), col("pos")) =!= col("canon"))
      .select(col("id"), col("n_tokens"), col("pos"))
    // No distinct on the union: a position hit by BOTH rules duplicates,
    // but the island merge is insensitive to duplicate (id, pos) rows
    // (lag sees a zero gap, min/max unchanged) — dropping the dedup
    // saves a full exchange of the hit set.
    val hits = fromIndex.unionAll(withinDelta)
    Dedup.removeCovered(delta, textCol, idCol, Dedup.mergeIslands(hits, w))
  }

  /** Novelty scoring — the curation-side read of the same probe: for
    * each delta doc, how many of its windows the corpus already owns,
    * and the fraction that are new. Pipelines sample by novelty (keep
    * documents that add information) without paying for a trim; the
    * plan is the probe's first half only — one semi-markable join of the
    * delta's fingerprints against the exchange-free live set, one
    * per-doc count. Output: (idCol, n_windows, known_windows,
    * novelty_frac). */
  def noveltyStats(spark: SparkSession, base: String, delta: DataFrame,
                   textCol: String, idCol: String,
                   excludeBid: Option[Long] = None): DataFrame = {
    heal(spark, base)
    val w = windowWidth(spark, base)
    val we = Dedup.spanWindows(delta, textCol, idCol, w)
    val known = we.join(liveHashes(spark, base, excludeBid), Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("known_windows"))
    we.groupBy("id").agg(count(lit(1)).as("n_windows"))
      .join(known, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_windows"),
        coalesce(col("known_windows"), lit(0L)).as("known_windows"),
        ((col("n_windows") - coalesce(col("known_windows"), lit(0L)))
          .cast(org.apache.spark.sql.types.DoubleType) /
          col("n_windows")).as("novelty_frac"))
  }

  /** Publish a trimmed batch: append its surviving occurrence counts,
    * stamped with `bid`. Leased, like every mutation of a bucketed index
    * table, so rows cannot land in a snapshot dir a concurrent rewrite
    * is about to replace. Replay-idempotent in effect: a replayed append
    * writes byte-identical rows, which [[liveHashes]] distincts away and
    * [[compact]] physically removes. */
  def append(spark: SparkSession, base: String, trimmed: DataFrame,
             textCol: String, idCol: String, bid: Long = BulkBid): Unit =
    BucketedTables.withWriterLease(spark, hashTable(base), "append") {
      heal(spark, base)
      val w = windowWidth(spark, base)
      val fresh = windowCounts(
          trimmed.filter(length(trim(col(textCol))) > 0), textCol, idCol, w)
        .withColumn("bid", lit(bid))
      BucketedTables.writeBucketed(fresh, hashTable(base), Seq("h"),
        bucketsOf(spark, hashTable(base)), SaveMode.Append)
    }

  /** Takedown: remove `docs`' contribution from the index by appending
    * NEGATIVE occurrence counts for their windows. A window survives
    * exactly while a non-deleted document still contains it — the
    * refcount design makes this O(|deleted docs' tokens|), never a
    * corpus rewrite; [[compact]] later folds cancelled hashes away
    * physically. The caller supplies the documents' text (takedowns
    * arrive as documents), and deleting the same rows twice is the
    * caller's contract to avoid, as in [[DedupIndex.delete]]. Stamp
    * SEPARATE takedown calls with DISTINCT `bid`s: the replay-dedup in
    * [[liveHashes]] drops byte-identical rows, so two single-owner
    * takedowns of the same window under one stamp would collapse into
    * one tombstone (one call covering many docs is always exact — the
    * counts aggregate before writing). */
  def delete(spark: SparkSession, base: String, docs: DataFrame,
             textCol: String, idCol: String, bid: Long = BulkBid): Unit =
    BucketedTables.withWriterLease(spark, hashTable(base), "delete") {
      heal(spark, base)
      val w = windowWidth(spark, base)
      val tomb = windowCounts(docs, textCol, idCol, w)
        .select(col("h"), (-col("cnt")).as("cnt"))
        .withColumn("bid", lit(bid))
      BucketedTables.writeBucketed(tomb, hashTable(base), Seq("h"),
        bucketsOf(spark, hashTable(base)), SaveMode.Append)
    }

  /** Compact the hash table: fold each bucket's accumulated append files
    * (streaming leaves one file set per micro-batch) down to summed
    * refcounts and drop cancelled hashes (refcount ≤ 0 — retired
    * takedowns) and replay-duplicated rows. Shuffle-free: distinct,
    * groupBy and filter all cluster on `h`, which the forced
    * one-partition-per-bucket scan provides. Lands in a fresh snapshot
    * dir with the width sidecar re-pinned and goes live at
    * [[BucketedTables.swapLocation]]'s single catalog op, under the
    * writer lease.
    *
    * `preserveStamps` keeps one row per (h, bid) instead of one per h —
    * the fold an IN-LINE streaming compaction must use, because fully
    * folding batch stamps away would break a later replay's
    * stamp-exclusion. Offline compactions (no in-flight stream) fold
    * fully. */
  def compact(spark: SparkSession, base: String,
              preserveStamps: Boolean = false): Unit =
    BucketedTables.withWriterLease(spark, hashTable(base), "compaction") {
      heal(spark, base)
      val w = windowWidth(spark, base)
      val keys = if (preserveStamps) Seq(col("h"), col("bid"))
                 else Seq(col("h"))
      val folded0 = BucketedTables.withForcedBucketedScan(spark) {
        val t = spark.table(hashTable(base))
          .select(col("h"), col("cnt"), col("bid")).distinct()
          .groupBy(keys: _*).agg(sum(col("cnt")).as("cnt"))
        val f = if (preserveStamps)
          // only (append ⊕ delete) pairs within one stamp cancel here;
          // cross-stamp cancellation folds at the next offline compact
          t.filter(col("cnt") =!= 0)
            .select(col("h"), col("cnt"), col("bid"))
        else
          t.filter(col("cnt") > 0)
            .select(col("h"), col("cnt"), lit(BulkBid).as("bid"))
        f
      }
      val path = BucketedTables.withForcedBucketedScan(spark) {
        BucketedTables.writeSnapshot(spark, hashTable(base), Seq("h"),
          folded0, sidecar = Seq(WSidecar -> w.toString.getBytes("UTF-8")))
      }
      BucketedTables.swapLocation(spark, hashTable(base), path)
    }

  /** Takedown-SLO watermark: physical negative-count tombstone rows not
    * yet folded away by a compaction. Parquet row-group cnt min/max
    * stats prune the scan to the delete-batch files (bulk/append files
    * hold only positive counts), so the read is deletion-bounded. */
  def pendingTombstoneRows(spark: SparkSession, base: String): Long = {
    heal(spark, base, refresh = false)
    spark.table(hashTable(base)).filter(col("cnt") < 0).count()
  }

  /** Cheap compaction advisory: data files in the live snapshot vs the
    * bucket count — pure file listing, never scans rows. */
  def needsCompact(spark: SparkSession, base: String,
                   maxFilesPerBucket: Int = 4): Boolean = {
    heal(spark, base, refresh = false)
    val loc = new org.apache.hadoop.fs.Path(
      BucketedTables.location(spark, hashTable(base)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(loc).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    dataFiles > maxFilesPerBucket.toLong *
      bucketsOf(spark, hashTable(base))
  }

  /** Observability surface (the [[DedupIndex.stats]] twin): occupancy and
    * provenance as (metric, value) rows — physical rows, live hashes
    * (positive refcount), tombstone rows pending compaction, the
    * bulk-vs-appended row split, bucket count and the sidecar-pinned
    * window width. The aggregate collects one row of counters —
    * driver-sized by construction. */
  def stats(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    heal(spark, base)
    val live = liveHashes(spark, base, excludeBid = None).count()
    val row = spark.table(hashTable(base)).agg(
      count(lit(1)).as("rows"),
      sum(when(col("cnt") < 0, 1L).otherwise(0L)).as("tomb"),
      sum(when(col("bid") === BulkBid, 1L).otherwise(0L)).as("bulk"),
      sum(when(col("bid") =!= BulkBid, 1L).otherwise(0L)).as("appended"))
      .collect().head
    def longAt(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Seq(
      ("rows", longAt(0)),
      ("live_hashes", live),
      ("tombstone_rows", longAt(1)),
      ("bulk_rows", longAt(2)),
      ("appended_rows", longAt(3)),
      ("buckets", bucketsOf(spark, hashTable(base)).toLong),
      ("w", windowWidth(spark, base).toLong))
      .toDF("metric", "value")
  }

  private def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"$table: not bucketed — rebuild the index"))
}
