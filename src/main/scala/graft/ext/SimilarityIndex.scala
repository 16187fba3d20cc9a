package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Standing ANN index: the IVF structure persisted as a BUCKETED table so
  * repeated query batches probe the corpus WITHOUT re-training,
  * re-assigning, or re-scanning it — the similarity twin of
  * [[DedupIndex]], and the shape vector search takes at 100 TB.
  *
  * `<base>_cells(cell, id, v)` holds every corpus vector with its coarse
  * cell id, bucketed AND sorted by `cell`. A probe filters
  * `cell IN (probed cells)`, which Spark's bucket pruning turns into
  * reading ONLY the matching buckets' files (`SelectedBucketsCount` in
  * the scan, IOSpec-asserted) — a probe set touches at most
  * min(|probed cells|, buckets) buckets of the corpus. Cells are
  * HASH-assigned to buckets, so co-hashed cells share a bucket and add
  * their rows to a probe's read: k/buckets cells per bucket is the
  * EXPECTED co-residency, not a bound (hot cells can collide), so size
  * `buckets` well above the concurrent probe-cell count and treat
  * probe I/O as "probed buckets' total rows", not "probed cells'
  * rows".
  *
  * The trained coarse quantizer rides INSIDE the cells table's snapshot
  * dir as the `_quantizer` sidecar (underscore-prefixed: Spark's data
  * listing ignores it), written before the snapshot's commit point — so
  * ONE table commit atomically publishes cell assignments AND the
  * quantizer they were assigned under; a torn pairing (new cells, old
  * quantizer) cannot exist, and a missing OR truncated sidecar (the
  * hair-thin fresh-create window; disk corruption) fails the read's
  * length/checksum frame loudly — never silently-wrong neighbors.
  * Centroid components round-trip through raw IEEE-754 bits — the
  * recovered quantizer is BIT-identical, which the oracle equality with
  * the ad-hoc path depends on.
  *
  * Training is [[Similarity.kmeansCentroids]] (deterministic Lloyd
  * rounds); assignment, probe selection, and search are the exact
  * primitives of [[Similarity.ivfTopKWith]] ([[Similarity.assignCells]]/
  * [[Similarity.probeCells]]/[[Similarity.searchCells]]), so the
  * index-backed search returns EXACTLY the ad-hoc trained-IVF results
  * (q_sim_ivf_idx hash-passes the q_sim_ivf_trained oracle). Lifecycle
  * (versioned snapshots, crash-safe overwrite commits, heal on entry)
  * comes from [[BucketedTables]]. */
object SimilarityIndex {

  def cellsTable(base: String) = s"${base}_cells"

  /** Pending deletions: ids marked deleted since the last compaction,
    * each stamped with the cells table's snapshot EPOCH (dir name) it
    * was aimed at — a rebuild or compaction commit changes the epoch,
    * which makes surviving tombstone rows inert atomically with the
    * commit (no cells+tombs two-table atomicity needed in either
    * direction). Tiny between compactions (it holds DELTAS, never
    * corpus rows), so probes broadcast it for their anti-join. */
  def tombsTable(base: String) = s"${base}_tombs"

  private val QuantizerSidecar = "_quantizer"

  /** Row cap per parquet file in the cells table's corpus-sized writes
    * (build + compaction snapshots; appends are delta-sized already).
    * This is what makes the ANN rewrite unit DELETION-BOUNDED: with one
    * file per bucket, a single tombstone dirties 1/buckets of the
    * corpus (at k=16 cells, 12 tombstones rewrote 12/16 of it —
    * anncompactbench r13's negative result); with row-capped files a
    * tombstone dirties at most `rowsPerFile` rows, so partial
    * compaction's data term is |tombstones| × rowsPerFile regardless of
    * corpus size. The default is COMPUTED from the corpus row count by
    * [[rowsPerFilePolicy]] (the conf, when set, always wins); bucket
    * pruning and the bucketed reader are unaffected: rolled files keep
    * the bucket id in their names. */
  val RowsPerFileConfKey = "spark.graft.index.ann.rowsPerFile"

  /** The default row cap as a pure function of corpus size — the
    * anncompactbench r15 ladder's guidance encoded as policy. Two
    * failure directions bound it: the cap times expected tombstones per
    * compaction is partial's REWRITE term (small cap wins), while
    * corpus/cap is the FILE COUNT whose footer reads, carry-over links
    * and commit metadata dominate both folds when it grows unbounded
    * (large cap wins — the 512-cap rung put 12.5k files on a 6.4M
    * corpus and the full fold degraded 2×). 2048 satisfies both from
    * ~100k to ~10M rows (measured sweet spot at 6.4M: partial 9.4 s vs
    * 14.2/16.3 at 512/8192); beyond 10M both terms grow as √corpus —
    * cap = 2048·√(corpus/10M), next power of two — which lands on the
    * ladder's own 100M guidance (8192) and keeps |tombstones| × cap
    * well under corpus/10 for any takedown batch up to
    * ~corpus/(10·cap). */
  def rowsPerFilePolicy(corpusRows: Long): Long =
    if (corpusRows <= 10_000_000L) 2048L
    else {
      val scaled = (2048.0 * math.sqrt(corpusRows / 1e7)).toLong
      java.lang.Long.highestOneBit(math.max(scaled - 1L, 1L)) << 1
    }

  private def rowsPerFile(spark: SparkSession, corpusRows: => Long): Long =
    spark.conf.getOption(RowsPerFileConfKey).map(_.toLong)
      .getOrElse(rowsPerFilePolicy(corpusRows))

  /** PQ codebooks (codec = "pq" only): the fine quantizer rides in the
    * snapshot dir beside the coarse one, carried by [[compact]] like the
    * quantizer — a snapshot is always complete (cells + every sidecar
    * reconstruction needs) on either side of a swap. */
  private val PqSidecar = "_pqcodebook"

  /** Build-time per-cell occupancy, the drift baseline [[needsRetrain]]
    * compares against. ADVISORY metadata: written into the snapshot dir
    * right AFTER the build commit (a crash in between degrades loudly to
    * "no drift baseline", never to wrong neighbors), carried forward by
    * [[compact]], untouched by [[append]] — so it keeps describing the
    * distribution the quantizer was TRAINED on while the live occupancy
    * drifts away from it. */
  private val CellStatsSidecar = "_cellstats"

  /** RUNNING per-cell occupancy, maintained incrementally so the drift
    * check never costs a corpus scan: [[write]] seeds it equal to the
    * baseline, [[append]] folds each batch's per-cell counts in (the
    * append already assigned the batch its cells — the fold reuses that
    * batch-sized frame), and [[compact]] re-bases it exactly from the
    * folded snapshot. Counts are PHYSICAL rows (tombstoned rows still
    * occupy their cells until a compaction removes them), matching both
    * [[stats]] and what a probe actually reads. ADVISORY: a crash
    * between an append's row commit and its sidecar fold leaves it
    * stale-low; [[needsRetrain]] self-heals a MISSING sidecar with one
    * establishing scan, and the next compaction re-bases any staleness
    * away. */
  private val OccupancySidecar = "_occupancy"

  private def encodeCellStats(counts: Seq[(Long, Long)]): Array[Byte] =
    counts.map { case (cell, n) => s"$cell $n" }.mkString("\n").getBytes("UTF-8")

  /** Inverse of [[encodeCellStats]]; an empty payload (an index built
    * from zero rows) decodes to the empty occupancy rather than a
    * NumberFormatException naming neither index nor condition. */
  private def decodeCellStats(bytes: Array[Byte]): Seq[(Long, Long)] =
    new String(bytes, "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val p = line.split(" "); (p(0).toLong, p(1).toLong)
      }

  /** Bit-exact text codec for the quantizer: one line per centroid,
    * cell id then each component's raw long bits, space-separated. */
  private def encodeQuantizer(cents: Seq[(Long, Seq[Double])]): Array[Byte] =
    cents.map { case (cell, v) =>
      (cell +: v.map(java.lang.Double.doubleToRawLongBits)).mkString(" ")
    }.mkString("\n").getBytes("UTF-8")

  private def decodeQuantizer(bytes: Array[Byte]): Seq[(Long, Seq[Double])] =
    new String(bytes, "UTF-8").split("\n").toSeq.map { line =>
      val parts = line.split(" ")
      (parts.head.toLong,
        parts.tail.toSeq.map(b => java.lang.Double.longBitsToDouble(b.toLong)))
    }

  /** Bit-exact text codec for the PQ codebooks: one line per codeword —
    * subspace index, codeword index, then each component's raw long bits
    * (same determinism contract as the quantizer sidecar: the bytes
    * round-trip the doubles exactly, so a compaction carrying the file
    * preserves reconstruction bit-for-bit). */
  private def encodePqCodebooks(books: Seq[Seq[Seq[Double]]]): Array[Byte] =
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, i) =>
        (Seq(j.toLong, i.toLong) ++
          cw.map(java.lang.Double.doubleToRawLongBits)).mkString(" ")
      }
    }.mkString("\n").getBytes("UTF-8")

  private def decodePqCodebooks(bytes: Array[Byte]): Seq[Seq[Seq[Double]]] =
    new String(bytes, "UTF-8").split("\n").toSeq
      .map { line =>
        val parts = line.split(" ")
        (parts(0).toInt, parts(1).toInt,
          parts.drop(2).toSeq.map(b => java.lang.Double.longBitsToDouble(b.toLong)))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }

  /** Build (overwrite) the standing index: train the coarse quantizer
    * with `iters` Lloyd rounds, assign every corpus vector its cell, and
    * commit cells + quantizer sidecar as one snapshot. At scale pick k
    * so a cell's vectors are a few hundred MB, and `buckets` comfortably
    * above the concurrent probe-cell count (bucket pruning reads whole
    * buckets; fewer cells per bucket = less co-hashed contamination).
    *
    * `codec = "sq8"` stores each vector 8-bit scalar-quantized
    * (per-vector min/scale + one TINYINT per component — ~4× less cell
    * I/O than float storage, the lever that matters when the cells
    * table IS the 100 TB corpus). Cell ASSIGNMENT still happens on the
    * full-precision vectors; probes reconstruct and score
    * asymmetrically (full-precision queries), so results are exactly
    * the IVF search over the reconstructed corpus — deterministic and
    * oracle-checkable (q_sim_sq8_idx).
    *
    * `codec = "pq"` stores each vector as `pqM` one-byte codes into
    * trained per-subspace codebooks (`pqK` codewords each) — the FAISS
    * IVF-PQ layout: dim/pqM× less I/O than SQ8, 4·dim/pqM× less than
    * float. The codebooks ride in the `_pqcodebook` sidecar; assignment
    * is full-precision and scoring asymmetric exactly like SQ8, so the
    * index search equals [[Similarity.pqTopKWith]] bit-for-bit
    * (q_sim_pq_verified's contract). */
  def write(corpus: DataFrame, vecCol: String, idCol: String, base: String,
            k: Int, iters: Int, buckets: Int = 32,
            codec: String = "float", pqM: Int = 8, pqK: Int = 16): Unit =
   BucketedTables.withWriterLease(corpus.sparkSession, cellsTable(base),
       "rebuild") {
    val spark = corpus.sparkSession
    // refresh = false: this is an overwrite — nothing reads the old state
    BucketedTables.heal(spark, Seq(cellsTable(base)), refresh = false)
    val (cids, cents) = Similarity.kmeansCentroids(
      corpus, vecCol, idCol, k, iters)
    val books =
      if (codec == "pq")
        Similarity.pqTrainCodebooks(corpus, vecCol, idCol, pqM, pqK, iters)
      else Nil
    // policy input: one count of the corpus frame — marginal next to
    // the k-means passes above, and skipped entirely when the conf
    // pins the cap (the by-name argument stays unevaluated). The cap
    // rides the WRITE as a per-write option, never the session conf.
    BucketedTables.writeBucketed(
      encodeCells(
        Similarity.assignCells(corpus, vecCol, idCol, cids.zip(cents)),
        codec, books),
      cellsTable(base), Seq("cell"), buckets, SaveMode.Overwrite,
      sidecar = Seq(QuantizerSidecar -> encodeQuantizer(cids.zip(cents))) ++
        (if (codec == "pq") Seq(PqSidecar -> encodePqCodebooks(books))
         else Nil),
      maxRecordsPerFile = rowsPerFile(spark, corpus.count()))
    // The commit above changed the snapshot epoch, so every pending
    // tombstone is ALREADY inert (a rebuild starts a new logical index
    // whose re-ingested ids must not be masked); dropping the table is
    // garbage collection, and a crash on either side of it is safe —
    // before the commit the old snapshot stays live WITH its tombstones
    // still active (a takedown never silently resurfaces), after it the
    // stale rows it leaves are epoch-mismatched noise.
    BucketedTables.dropTable(spark, tombsTable(base))
    // liveness heartbeat: the cells snapshot has committed — the long
    // phase (train + assign + write) of a rebuild is behind us
    BucketedTables.renewLease(spark, cellsTable(base))
    // drift baseline: per-cell counts read back from the COMMITTED
    // snapshot dir (a column-pruned count, not a second assignment pass
    // over the corpus), added as an advisory post-commit sidecar. Read
    // by PATH, not table name: resolving the table here would prime
    // this session's relation cache with the fresh build's listing, and
    // that cached listing would then mask later appends/swaps from
    // OTHER sessions for any caller counting the table directly
    // (cross-session visibility is heal()'s job on the engine's own
    // read paths, but write() must not plant the trap).
    val counts = scanOccupancy(spark, base)
    BucketedTables.addSidecar(spark, cellsTable(base), CellStatsSidecar,
      encodeCellStats(counts))
    // the running occupancy starts out identical to the baseline
    BucketedTables.addSidecar(spark, cellsTable(base), OccupancySidecar,
      encodeCellStats(counts))
   }

  /** Storage codec for assigned (cell, id, v) rows. The stored SCHEMA is
    * the codec marker — `qb` present means sq8, `pqc` means pq — so
    * appends and probes self-select the right path with no extra
    * metadata. */
  private def encodeCells(assigned: DataFrame, codec: String,
                          pqBooks: Seq[Seq[Seq[Double]]] = Nil): DataFrame =
    codec match {
      case "float" => assigned
      case "sq8" =>
        assigned.withColumn("__s", Similarity.sq8Quantize(col("v")))
          .select(col("cell"), col("id"),
            col("__s.mn").as("mn"), col("__s.sc").as("sc"),
            Similarity.sq8PackBytes(col("__s.q")).as("qb"))
      case "pq" =>
        require(pqBooks.nonEmpty, "pq codec needs trained codebooks")
        assigned.select(col("cell"), col("id"),
          Similarity.pqEncode(col("v"), pqBooks).as("pqc"))
      case other => throw new IllegalArgumentException(
        s"codec must be 'float', 'sq8' or 'pq', got '$other'")
    }

  /** Decode a cells frame back to (cell, id, v) for scoring — the fused
    * sq8 reconstruct expression unpacks the byte codes itself; pq looks
    * codes up in the codebook literal. */
  private def decodeCells(cells: DataFrame,
                          pqBooks: => Seq[Seq[Seq[Double]]] = Nil): DataFrame =
    if (cells.columns.contains("qb"))
      cells.select(col("cell"), col("id"),
        Similarity.sq8Dequantize(col("mn"), col("sc"), col("qb")).as("v"))
    else if (cells.columns.contains("pqc"))
      cells.select(col("cell"), col("id"),
        Similarity.pqReconstruct(col("pqc"), pqBooks).as("v"))
    else cells

  /** Mark `ids` deleted: [[BucketedTables.stampTombs]] against the
    * cells table's snapshot epoch — O(|ids|), the corpus is never
    * touched: probes anti-join their probed slice against the
    * (broadcast-small) tombstone table, and the next [[compact]] folds
    * the deletions into the rewritten snapshot and clears the
    * tombstones it applied. A tombstone masks only while the snapshot it
    * was stamped against is live: a rebuild/compaction commit retires it
    * atomically (the masking direction cannot leak — a crash before the
    * commit leaves the old snapshot live with its tombstones still
    * active; the unmasking direction cannot resurrect — stale rows are
    * inert). DELETE WINS over re-ingestion: the deleted id's OLD rows
    * stay physically in the corpus until a compaction, so an id
    * re-appended while its tombstone is pending stays masked (unmasking
    * it would resurrect the old content too), and the next [[compact]]
    * removes old and re-appended rows alike. Re-ingest a deleted id
    * AFTER a compact (or a rebuild) has retired its tombstone. */
  def delete(spark: SparkSession, base: String, ids: DataFrame,
             idCol: String = "vec_id"): Unit =
   // leased: a delete racing a compaction swap would stamp an epoch the
   // swap just retired — a silently lost takedown
   BucketedTables.withWriterLease(spark, cellsTable(base), "delete") {
    // cells is healed too (scratch-adopt only): the epoch stamp reads
    // its live snapshot identity
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)),
      refresh = false)
    BucketedTables.stampTombs(spark, cellsTable(base), tombsTable(base),
      ids, idCol)
   }

  /** The sidecars every compaction snapshot carries over from the live
    * one: the quantizer (required — a snapshot without it cannot be
    * probed), then the drift baseline and PQ codebooks where present.
    * The running occupancy is not carried: each fold re-derives it. */
  private def carriedSidecars(spark: SparkSession,
                              table: String): Seq[(String, Array[Byte])] =
    Seq(QuantizerSidecar ->
        BucketedTables.readSidecar(spark, table, QuantizerSidecar)) ++
      Seq(CellStatsSidecar, PqSidecar).collect {
        case sc if BucketedTables.sidecarExists(spark, table, sc) =>
          sc -> BucketedTables.readSidecar(spark, table, sc)
      }

  private def perCellCounts(df: DataFrame): Seq[(Long, Long)] =
    df.groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  /** Compact the standing index: fold each bucket's accumulated append
    * files back to one, drop exact-duplicate rows a replayed append
    * may have left, and physically remove tombstoned ids. The rewrite
    * is per-bucket and shuffle-free ([[BucketedTables.compactionFrame]];
    * the tombstone anti-join broadcasts its tiny side, so the corpus
    * never exchanges) and lands in a fresh snapshot dir with the
    * CURRENT sidecars carried over BEFORE the single-catalog-op swap
    * ([[BucketedTables.commitSnapshots]]) — so probes racing the
    * compaction see a complete (cells + quantizer) snapshot on either
    * side of the commit point, and a compaction that dies mid-write
    * leaves probes on the old snapshot (with its tombstones still active
    * and masking). The swap changes the snapshot EPOCH, which retires
    * the folded tombstones atomically; the clear after it is garbage
    * collection of rows that are already inert. Run OFFLINE relative to
    * WRITERS, like [[DedupIndex.compact]]. */
  def compact(spark: SparkSession, base: String): Unit =
   BucketedTables.withWriterLease(spark, cellsTable(base), "compaction") {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)))
    compactImpl(spark, base)
   }

  /** [[compact]] body, unleased and pre-healed — [[compactAuto]] calls
    * it while already holding the writer lease (not reentrant). */
  private def compactImpl(spark: SparkSession, base: String): Unit = {
    val table = cellsTable(base)
    val tombIds = BucketedTables.liveTombIds(spark, table, tombsTable(base))
    val sidecars = carriedSidecars(spark, table)
    BucketedTables.withForcedBucketedScan(spark) {
      val masked = BucketedTables.maskByTombs(
        BucketedTables.compactionFrame(spark, table), tombIds)
      // The snapshot write and the occupancy recount both read exactly
      // the masked pre-swap frame (the snapshot IS that frame written
      // out), so the recount overlaps the write (§2.6). The occupancy
      // leg only reads (cell) — column-pruned — and the sidecar still
      // lands AFTER the swap, preserving the crash contract (a crash
      // before it leaves the sidecar MISSING, and needsRetrain
      // self-heals with one establishing scan; never silently stale).
      @volatile var snap: String = null
      @volatile var occupancy: Seq[(Long, Long)] = null
      graft.exec.Concurrent.labeled[Unit](Seq(
        "ann: snapshot write" -> (() =>
          // policy input: a columnar count of the standing table (id
          // column only decodes), lazily skipped when the conf pins the
          // cap
          snap = BucketedTables.writeSnapshot(spark, table, Seq("cell"),
            masked, sidecar = sidecars,
            maxRecordsPerFile = rowsPerFile(spark, spark.table(table).count()))),
        "ann: occupancy recount" -> (() =>
          occupancy = perCellCounts(masked))))
      BucketedTables.commitSnapshots(spark, table, Seq(table -> snap))
      BucketedTables.clearTombs(spark, tombsTable(base))
      // re-base the running occupancy EXACTLY to the folded snapshot's
      // content (tombstoned + replay-duplicate rows just left; any
      // staleness an append-crash window accumulated is corrected too)
      BucketedTables.addSidecar(spark, table, OccupancySidecar,
        encodeCellStats(occupancy))
    }
  }

  /** PARTIAL compaction of the standing ANN index: retire the pending
    * tombstones by REWRITING ONLY THE FILES THAT HOLD THEM, carrying
    * every other file into the new snapshot by hard link / server-side
    * copy ([[BucketedTables.planPartial]], [[BucketedTables.writePartial]])
    * — [[compact]] is a linear corpus rewrite even when one vector was
    * deleted, and at 100 TB that rewrite IS the cost of a takedown.
    * Deletions are LOCAL here — each id holds exactly one (cell, id, …)
    * row — so the rewrite set is exactly the files physically holding a
    * tombstoned row. Sidecars (quantizer, PQ codebooks, drift baseline)
    * ride the new snapshot dir BEFORE the single-catalog-op swap,
    * exactly like [[compact]], so probes racing the commit see a
    * complete snapshot on either side.
    *
    * The running-occupancy sidecar is FOLDED, not re-scanned: partial
    * compaction's promise is cost bounded by the rewrite set, and a
    * full per-cell recount would break it — occupancy' = occupancy −
    * (rewritten files' per-cell counts before) + (rewritten subset's
    * counts after), both deletion-bounded. A sidecar missing after a
    * crash between an earlier snapshot commit and its sidecar write
    * stays missing ([[needsRetrain]] self-heals with one establishing
    * scan). Verdict-equivalence with the full fold is
    * asserted in MiningSpec and at the driver gate
    * (q_stream_ann_readmit). */
  def compactPartial(spark: SparkSession, base: String): Unit =
   BucketedTables.withWriterLease(spark, cellsTable(base), "compaction") {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)))
    compactPartialImpl(spark, base, dirty = None)
   }

  /** [[compactPartial]] body, unleased and pre-healed; `dirty` lets
    * [[compactAuto]] reuse the dirty-file scan its dispatch already
    * paid for. */
  private def compactPartialImpl(spark: SparkSession, base: String,
                                 dirty: Option[Set[String]]): Unit = {
    val table = cellsTable(base)
    val tombIds = BucketedTables.liveTombIds(spark, table, tombsTable(base))
    val sidecars = carriedSidecars(spark, table)
    // the PRE-swap occupancy, read now: the new snapshot does not carry
    // this sidecar (it is re-derived, by fold below or by scan), so
    // after the swap it would read as missing
    val occBefore: Option[Map[Long, Long]] =
      if (BucketedTables.sidecarExists(spark, table, OccupancySidecar))
        Some(decodeCellStats(BucketedTables.readSidecar(
          spark, table, OccupancySidecar)).toMap)
      else None
    BucketedTables.planPartial(spark, table, Seq("cell"), tombIds, dirty) match {
      // untouched: tombstones with no physical rows (or none at all)
      // mask nothing; clearing them is still correct GC
      case None => BucketedTables.clearTombs(spark, tombsTable(base))
      case Some(fold) => BucketedTables.withForcedBucketedScan(spark) {
        // nothing carried: occupancy re-bases from the snapshot below
        // (the full compact's behavior); else the rewritten files'
        // counts before the fold
        val occPre = fold.raw.map(perCellCounts(_).toMap)
        // post-fold occupancy of the rewritten subset, read back from
        // the files the write just produced (the snap dir BEFORE the
        // carry holds exactly them) — counting the subset FRAME instead
        // would re-execute its whole plan, repartition exchange included
        var occPost: Option[Map[Long, Long]] = None
        val snap = BucketedTables.writePartial(spark, fold, sidecars,
          maxRecordsPerFile = rowsPerFile(spark, spark.table(table).count()),
          beforeCarry = dir => occPost = occPre.map(_ => perCellCounts(
            spark.read.schema(spark.table(table).schema).parquet(dir)).toMap))
        BucketedTables.commitSnapshots(spark, table, Seq(table -> snap))
        BucketedTables.clearTombs(spark, tombsTable(base))
        (occPre, occPost) match {
          case (None, _) =>
            // full-path occupancy re-base, exactly like compact()
            BucketedTables.addSidecar(spark, table, OccupancySidecar,
              encodeCellStats(perCellCounts(spark.read.parquet(snap))))
          case (Some(pre), Some(post)) if occBefore.isDefined =>
            val cur = occBefore.get
            val folded = (cur.keySet ++ pre.keySet ++ post.keySet).toSeq.sorted
              .map(c => (c, cur.getOrElse(c, 0L) - pre.getOrElse(c, 0L) +
                post.getOrElse(c, 0L)))
              .filter(_._2 != 0L)
            BucketedTables.addSidecar(spark, table, OccupancySidecar,
              encodeCellStats(folded))
          // the sidecar was lost to a crash after an earlier commit:
          // stays missing
          case _ => ()
        }
      }
    }
  }

  /** Fold the standing index choosing full vs partial compaction
    * AUTOMATICALLY from the live layout ([[BucketedTables.chooseCompaction]]
    * on the cells table, the [[DedupIndex.compactAuto]] twin) — a user
    * calling compactPartial on a small index pays roughly double (the
    * anncompactbench ratio-0.52 row). Returns the strategy that ran
    * ("full" | "partial") for operability and tests. The index keeps no
    * append counter, so the choice rests on files and dirty share. */
  def compactAuto(spark: SparkSession, base: String): String =
   BucketedTables.withWriterLease(spark, cellsTable(base), "compaction") {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)))
    val (choice, dirty) = BucketedTables.chooseCompaction(spark,
      cellsTable(base), tombsTable(base), appended = None)
    if (choice == "partial") compactPartialImpl(spark, base, dirty)
    else compactImpl(spark, base)
    choice
   }

  /** Fold a batch of NEW vectors into the index — continuous ingestion.
    * Assignment uses the STORED quantizer (the sidecar), so appended
    * rows live in the same cell space as the original build and probes
    * see them immediately; the bucket-preserving append keeps the
    * pruning layout. An id with a PENDING tombstone stays masked even
    * if re-appended — delete wins until a compaction retires the
    * tombstone (see [[delete]]). Like any IVF, heavy drift degrades
    * cell balance over time — re-train by rebuilding with [[write]]
    * (the snapshot swap keeps probes consistent throughout). */
  def append(spark: SparkSession, base: String, batch: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
   // leased: rows appended while a compaction is writing its snapshot
   // would land in the dir the swap is about to replace and vanish
   BucketedTables.withWriterLease(spark, cellsTable(base), "append") {
    BucketedTables.heal(spark, Seq(cellsTable(base)))
    val cents = decodeQuantizer(
      BucketedTables.readSidecar(spark, cellsTable(base), QuantizerSidecar))
    // the stored schema is the codec marker: append in the same codec
    val cols = spark.table(cellsTable(base)).columns
    val codec =
      if (cols.contains("qb")) "sq8"
      else if (cols.contains("pqc")) "pq"
      else "float"
    val books =
      if (codec == "pq") decodePqCodebooks(
        BucketedTables.readSidecar(spark, cellsTable(base), PqSidecar))
      else Nil
    // checkpoint the batch-sized assigned frame so the occupancy fold
    // below reuses THIS assignment instead of re-running it
    val enc = encodeCells(
      Similarity.assignCells(batch, vecCol, idCol, cents), codec, books)
      .localCheckpoint()
    try {
      // the bucketed append and the per-cell count both consume the
      // checkpointed batch — the count (the occupancy fold's input, so
      // the drift check never rediscovers cells with a corpus scan)
      // overlaps the write (§2.6); the sidecar merge itself stays after
      // the data lands
      @volatile var counts: Seq[(Long, Long)] = null
      graft.exec.Concurrent.labeled[Unit](Seq(
        "ann: batch append" -> (() =>
          BucketedTables.writeBucketed(enc, cellsTable(base), Seq("cell"),
            BucketedTables.bucketsOf(spark, cellsTable(base)),
            SaveMode.Append)),
        "ann: cell counts" -> (() => counts = perCellCounts(enc))))
      foldOccupancy(spark, base, counts)
    } finally graft.exec.Partitioning.unpersistCheckpoint(enc)
  }

  /** Merge `delta` per-cell counts into the [[OccupancySidecar]]. A
    * sidecar missing after a crash between a snapshot commit and its
    * sidecar write is left missing — folding a delta into an unknown
    * base would record a lie; [[needsRetrain]]'s establishing scan or
    * [[migrate]] creates it. */
  private def foldOccupancy(spark: SparkSession, base: String,
                            delta: Seq[(Long, Long)]): Unit =
    if (BucketedTables.sidecarExists(spark, cellsTable(base), OccupancySidecar)) {
      val cur = decodeCellStats(BucketedTables.readSidecar(
        spark, cellsTable(base), OccupancySidecar)).toMap
      val d = delta.toMap
      val merged = (cur.keySet ++ d.keySet).toSeq.sorted
        .map(c => (c, cur.getOrElse(c, 0L) + d.getOrElse(c, 0L)))
      BucketedTables.addSidecar(spark, cellsTable(base), OccupancySidecar,
        encodeCellStats(merged))
    }

  /** Top-k cosine neighbors for `queries` against the standing index.
    * The quantizer comes from the current snapshot's sidecar (k×dim on
    * the driver — the classic IVF memory contract). Probe rows are
    * evaluated ONCE and collected — the search broadcasts them anyway,
    * so they are driver-sized by the algorithm's own contract — giving
    * both the local probe relation for the join and the ≤ |queries|·
    * nprobe (usually ≤ k) distinct-cell literal list whose `IN` filter
    * bucket-prunes the corpus scan. */
  def topK(spark: SparkSession, base: String, queries: DataFrame,
           k: Int, nprobe: Int, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)))
    // read BEFORE the corpus scan resolves (BucketedTables.liveTombIds'
    // read-order contract)
    val tombIds = BucketedTables.liveTombIds(spark, cellsTable(base),
      tombsTable(base))
    val cents = decodeQuantizer(
      BucketedTables.readSidecar(spark, cellsTable(base), QuantizerSidecar))
    val probeFrame = Similarity.probeCells(queries, vecCol, idCol, cents, nprobe)
    val probeRows = probeFrame.collect()
    val probedCells = probeRows.map(_.getLong(2)).distinct.sorted
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeFrame.schema)
    // a replayed append leaves exact-duplicate corpus rows until the
    // next compaction; dedup the PROBED slice (cost bounded by the
    // probed buckets' rows, never the full corpus) so a duplicate
    // occupies ONE candidate slot and top-k stays identical to the
    // ad-hoc path — searchCells' no-dedup premise holds for its other
    // caller, whose corpus frame has unique ids by construction. Dedup
    // on the FULL stored row (whole-row, codec-agnostic), matching
    // compactionFrame's whole-row dedup: an id re-appended with a
    // DIFFERENT vector keeps both rows on both sides of a compaction,
    // instead of pre-compaction results arbitrarily picking one version
    // and changing after the rewrite. Decode (sq8 → reconstructed
    // doubles) AFTER the dedup, on the probed slice only.
    val corpus = decodeCells(
      BucketedTables.maskByTombs(
        spark.table(cellsTable(base))
          .filter(col("cell").isin(probedCells: _*))
          .dropDuplicates(),
        tombIds),
      // by-name: the sidecar read only happens for a pq-codec table
      decodePqCodebooks(
        BucketedTables.readSidecar(spark, cellsTable(base), PqSidecar)))
    Similarity.searchCells(corpus, probes, k)
  }

  /** [[topK]] for a query SET — the batch-probe path for query frames
    * too large to collect and broadcast (re-embedding sweeps, corpus ×
    * index self-joins, nightly recommendation refreshes). Nothing probe-
    * sized ever reaches the driver:
    *
    *  - the distinct probed cells are an AGGREGATION kept as a frame,
    *    broadcast into a left-semi prune of the cells table (≤ quantizer
    *    size rows by construction, so the broadcast is free). File-level
    *    bucket pruning is an `IN`-literal privilege the batch path gives
    *    up — with a large probe set most cells are probed anyway, so the
    *    one full scan is inherent, and the semi join still drops
    *    unprobed cells' rows before the dedup/decode work;
    *  - candidates come from a SHUFFLE join of corpus and probe frame on
    *    the cell id ([[Similarity.searchCellsShuffled]]) — the probe
    *    side streams through the exchange, skew split by AQE.
    *
    * Results are bit-identical to [[topK]] on the same inputs; only the
    * physical probe delivery differs. The quantizer sidecar (k×dim on
    * the driver) is the one collected artifact — the classic IVF memory
    * contract, independent of query-set size. */
  def topKBatch(spark: SparkSession, base: String, queries: DataFrame,
                k: Int, nprobe: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)))
    // same read-order contract as topK
    val tombIds = BucketedTables.liveTombIds(spark, cellsTable(base),
      tombsTable(base))
    val cents = decodeQuantizer(
      BucketedTables.readSidecar(spark, cellsTable(base), QuantizerSidecar))
    // repartition = the materialization point both consumers (the
    // distinct-cells prune and the candidate join) hang off via
    // ReuseExchange — the same pattern as the pair generators' shared
    // fingerprint frames. Without it the query scan AND the k×dim
    // centroid scoring run twice, once per consumer.
    val probes = Similarity.probeCells(queries, vecCol, idCol, cents, nprobe)
      .repartition(col("query_id"))
    val probedCells = probes.select(col("cell")).distinct()
    // whole-row dedup of the probed slice for the same replayed-append
    // reason as topK (see there); decode after the prune, like there
    val corpus = decodeCells(
      BucketedTables.maskByTombs(
        spark.table(cellsTable(base))
          .join(broadcast(probedCells), Seq("cell"), "left_semi")
          .dropDuplicates(),
        tombIds),
      decodePqCodebooks(
        BucketedTables.readSidecar(spark, cellsTable(base), PqSidecar)))
    Similarity.searchCellsShuffled(corpus, probes, k)
  }

  /** Two-stage search with exact refinement (FAISS `IndexRefineFlat`
    * over an IVF/PQ base): stage 1 probes the standing index for a
    * `shortlist`-sized candidate set per query under the index's lossy
    * (sq8/pq) scores; stage 2 recomputes EXACT cosine for only those
    * |queries|·shortlist pairs against `rawCorpus` — the full-precision
    * vector source the index was built from — and re-sorts to the final
    * top-k. This is how a PQ index answers precisely at 100 TB: the
    * compressed codes bound the candidate generation I/O, the raw
    * vectors are touched only for the shortlist (one broadcast-shaped
    * scan, see [[Similarity.rerankExact]]), and a larger `shortlist`
    * buys recall with linear — not quadratic — exact-scoring cost.
    * Tombstone masking happens in stage 1, so a deleted id can never
    * re-enter through the raw-corpus join: stage 2 only rescores pairs
    * stage 1 emitted. */
  def topKRerank(spark: SparkSession, base: String, queries: DataFrame,
                 rawCorpus: DataFrame, k: Int, shortlist: Int, nprobe: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cands = topK(spark, base, queries, shortlist, nprobe, idCol, vecCol)
    Similarity.rerankExact(cands, rawCorpus, queries, k, idCol, vecCol)
  }

  /** [[topKRerank]] at BATCH query scale — stage 1 through the
    * join-based [[topKBatch]] probe, stage 2 through the shuffle-join
    * exact refine ([[Similarity.rerankExactShuffled]]): nothing
    * query-set-sized ever reaches the driver, and the exact pass still
    * touches only |queries|·shortlist raw vectors. The billion-scale
    * recipe end to end: compressed codes bound candidate I/O, raw
    * vectors decode only for shortlisted pairs, and every exchange is
    * bounded by the shortlist or the final top-k. */
  def topKRerankBatch(spark: SparkSession, base: String, queries: DataFrame,
                      rawCorpus: DataFrame, k: Int, shortlist: Int,
                      nprobe: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cands = topKBatch(spark, base, queries, shortlist, nprobe, idCol, vecCol)
    Similarity.rerankExactShuffled(cands, rawCorpus, queries, k, idCol, vecCol)
  }

  /** Takedown-SLO watermark: the [[BucketedTables.liveTombIds]] count —
    * deletions awaiting physical retirement by the next compaction.
    * Delta-sized read. */
  def pendingTombstones(spark: SparkSession, base: String): Long = {
    BucketedTables.heal(spark, Seq(cellsTable(base), tombsTable(base)),
      refresh = false)
    BucketedTables.liveTombIds(spark, cellsTable(base), tombsTable(base))
      .map(_.count()).getOrElse(0L)
  }

  /** Occupancy + bucket co-residency of the standing index — makes the
    * header's sizing contract ("probe I/O is the probed BUCKETS' total
    * rows, not the probed cells'") measurable. One row per cell:
    *
    *  - `n_rows` / `share` — the cell's PHYSICAL rows (tombstoned rows
    *    still get read, so they count) and fraction of the corpus;
    *  - `bucket` — the bucket the cell hashes to (the same Murmur3+pmod
    *    Spark's bucketed write used, so this IS the file set a probe of
    *    this cell reads);
    *  - `bucket_rows` / `cells_in_bucket` — that bucket's total load;
    *  - `probe_amplification` — bucket_rows / n_rows: 1.0 means the cell
    *    owns its bucket, larger means co-hashed cells inflate this
    *    cell's probe I/O (the hash-collision cost the header documents;
    *    rebuild with more buckets to push it back toward 1).
    *
    * One map-side-combinable aggregation over the cells table to k rows;
    * the window passes run over those k rows on one partition. */
  def stats(spark: SparkSession, base: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    BucketedTables.heal(spark, Seq(cellsTable(base)))
    val buckets = BucketedTables.bucketsOf(spark, cellsTable(base))
    val byBucket = Window.partitionBy(col("bucket"))
    val perCell = spark.table(cellsTable(base))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_rows"))
    // corpus total as a broadcast one-row frame (a whole-frame window
    // would warn and single-partition; the k-row windows below are fine)
    val total = perCell.agg(sum(col("n_rows")).as("__total"))
    perCell.crossJoin(broadcast(total))
      .withColumn("share", col("n_rows") / col("__total")).drop("__total")
      .withColumn("bucket", pmod(hash(col("cell")), lit(buckets)))
      .withColumn("bucket_rows", sum(col("n_rows")).over(byBucket))
      .withColumn("cells_in_bucket", count(lit(1)).over(byBucket))
      .withColumn("probe_amplification", col("bucket_rows") / col("n_rows"))
  }

  /** Worst-case rows ONE query's probe reads at `nprobe`: the `nprobe`
    * largest buckets' combined rows (each probed cell drags in its whole
    * bucket — the pruning unit is the bucket, not the cell). */
  def probeIoUpperBound(spark: SparkSession, base: String,
                        nprobe: Int): Long =
    stats(spark, base).select(col("bucket"), col("bucket_rows")).distinct()
      .orderBy(col("bucket_rows").desc).limit(nprobe)
      .agg(coalesce(sum(col("bucket_rows")), lit(0L))).collect()(0).getLong(0)

  /** Advisory drift trigger: true when the hottest cell's share of the
    * live corpus has grown to `factor`× the hottest BUILD-time share —
    * appends under the stored quantizer concentrating into few cells is
    * exactly how IVF degrades, and the fix is a rebuild ([[write]]
    * retrains; its snapshot swap keeps probes consistent throughout).
    * Requires the build-time baseline sidecar — when a crash between
    * the build commit and its post-commit sidecar write lost it, this
    * reports loudly; [[migrate]] synthesizes a re-based one without a
    * rebuild.
    *
    * The CURRENT occupancy comes from the [[OccupancySidecar]] the write
    * paths maintain — two sidecar reads, ZERO Spark jobs: at 100 TB an
    * advisory check must not cost a corpus scan when every append
    * already knew its own cell counts. Only when the sidecar is missing
    * (a crash between a build's or compaction's snapshot commit and its
    * sidecar write) does ONE establishing scan run — and it writes the
    * sidecar, so the scan never repeats. An EMPTY index
    * (either side) reports false: no rows is no drift evidence. */
  def needsRetrain(spark: SparkSession, base: String,
                   factor: Double = 2.0): Boolean = {
    BucketedTables.heal(spark, Seq(cellsTable(base)))
    require(
      BucketedTables.sidecarExists(spark, cellsTable(base), CellStatsSidecar),
      s"$base: no build-time cell-stats baseline in the current snapshot " +
        "(a crash landed between the build commit and its post-commit " +
        "stats write) — rebuild with write(), or migrate() to synthesize " +
        "a re-based baseline from the current occupancy")
    val build = decodeCellStats(
      BucketedTables.readSidecar(spark, cellsTable(base), CellStatsSidecar))
    val current =
      if (BucketedTables.sidecarExists(spark, cellsTable(base), OccupancySidecar))
        decodeCellStats(BucketedTables.readSidecar(
          spark, cellsTable(base), OccupancySidecar))
      else {
        val scanned = scanOccupancy(spark, base)
        BucketedTables.addSidecar(spark, cellsTable(base), OccupancySidecar,
          encodeCellStats(scanned))
        scanned
      }
    if (build.isEmpty || current.isEmpty) false
    else {
      val buildTotal = build.map(_._2).sum.toDouble
      val buildMaxShare = build.map(_._2).max / math.max(buildTotal, 1.0)
      val total = current.map(_._2).sum.toDouble
      val maxShare = current.map(_._2).max / math.max(total, 1.0)
      maxShare >= factor * buildMaxShare
    }
  }

  /** One establishing per-cell count over the live snapshot — the only
    * corpus scan in the drift machinery: at build time, and once after a
    * crash between a snapshot commit and its sidecar write lost the
    * occupancy sidecar. Reads by PATH so this (write-ish) path never
    * primes the session relation cache. */
  private def scanOccupancy(spark: SparkSession,
                            base: String): Seq[(Long, Long)] =
    perCellCounts(spark.read.parquet(
      BucketedTables.location(spark, cellsTable(base)).toString))

  /** Repair the post-commit sidecar crash window in place: [[write]]
    * and the compactions add the baseline and running-occupancy sidecars
    * AFTER their snapshot commit, so a crash in between leaves a live
    * snapshot without them. This synthesizes the missing ones from the
    * CURRENT per-cell counts (one scan) so drift tracking works without
    * a full rebuild. The synthesized baseline is RE-BASED — it describes
    * the corpus at repair time, not what the quantizer was trained on,
    * so [[needsRetrain]] measures drift relative to the repair point; an
    * index that had already drifted badly will read as balanced until it
    * drifts further (rebuild with [[write]] to get a true training-time
    * baseline). A no-op when both sidecars are present. */
  def migrate(spark: SparkSession, base: String): Unit =
   BucketedTables.withWriterLease(spark, cellsTable(base), "migration") {
    BucketedTables.heal(spark, Seq(cellsTable(base)))
    val needBase = !BucketedTables.sidecarExists(
      spark, cellsTable(base), CellStatsSidecar)
    val needOcc = !BucketedTables.sidecarExists(
      spark, cellsTable(base), OccupancySidecar)
    if (needBase || needOcc) {
      val occ = encodeCellStats(scanOccupancy(spark, base))
      if (needBase)
        BucketedTables.addSidecar(spark, cellsTable(base), CellStatsSidecar, occ)
      if (needOcc)
        BucketedTables.addSidecar(spark, cellsTable(base), OccupancySidecar, occ)
    }
   }
}
