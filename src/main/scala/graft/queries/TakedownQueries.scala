package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{ChunkIndex, ClusterIndex, DedupIndex, PreferenceIndex, SimilarityIndex, SpanIndex}

/** q_takedown_e2e — the END-TO-END TAKEDOWN CAPSTONE: one GDPR-style
  * deletion-request set, arriving AS A STREAM, withdrawn from ALL SIX
  * standing structures at once, partially compacted, and partially
  * re-admitted — the complete lifecycle a production training-data
  * pipeline owes a right-to-erasure request, composed from the pieces
  * each q_stream_*_readmit proof verified in isolation:
  *
  *  1. build the six standing structures from the fixtures: the dedup
  *     corpus index ([[DedupIndex]]), the incremental cluster state fed
  *     by one ingestion batch's verified edges ([[ClusterIndex]] via
  *     [[DedupIndex.matchEdges]] — the production edge source), the ANN
  *     index over the corpus embeddings ([[SimilarityIndex]]), the CDC
  *     chunk manifest ([[ChunkIndex]]), the span-dedup window store
  *     ([[SpanIndex]]), and a preference arena whose items are document
  *     ids ([[PreferenceIndex]] — judgments pair each corpus document
  *     against its successor in (lang, doc_id) order, longer text wins,
  *     equal length draws);
  *  2. the TAKEDOWN: a fixed-count request set (the 40 smallest corpus
  *     ids with doc_id % 3 = 1 — request-driven, not corpus-
  *     proportional) lands as a parquet file read through
  *     `readStream → foreachBatch`, and ONE batch function withdraws it
  *     from all six structures (dedup tombstones, cluster edge
  *     retraction + touched-component relabel, ANN tombstones, chunk
  *     tombstones + dirty-chunk recompute, span count subtraction,
  *     preference tombstones);
  *  3. compaction retires every structure's tombstones — dedup and ANN
  *     through [[DedupIndex.compactAuto]]/[[SimilarityIndex.compactAuto]]
  *     (the measured full-vs-partial dispatch choosing per layout),
  *     preference through the history-preserving partial retirement,
  *     cluster/chunk/span through their consolidating folds — the
  *     re-admission precondition everywhere (delete wins until then);
  *  4. the PERMITTED half (even doc ids) re-enters each structure as
  *     ordinary new data: re-judged against the post-compact dedup
  *     corpus (their fresh edges folding into the cluster state,
  *     possibly re-bridging what the withdrawal split), re-appended to
  *     ANN/chunk, span-trimmed against the post-takedown window store
  *     then appended, and their judgments re-appended as a late batch
  *     (rows touching a still-withdrawn odd id stay out).
  *
  * Output: ONE normalized frame, (structure, k, v) strings — the
  * re-admission verdicts (dedup), the live membership (cluster), the
  * post-takedown top-k of a fixed probe set (ann), the live chunk
  * manifest (chunk), the re-admission trims (span), and the live
  * win/tie matrices (pref). The oracle replays the ENTIRE ledger in
  * closed form — batch edge discovery, edge subtraction, re-admission
  * edges against the post-compact corpus, manifest/window/judgment
  * replays — as a UNION ALL of six independently-derived sections, so
  * one hash-pass proves the whole takedown story end to end: every
  * structure forgot exactly the withdrawn documents, kept everything
  * else bit-for-bit, and re-admitted exactly the permitted subset. */
object TakedownQueries {

  private val CutMod = TrainPrepQueries.CdcCutMod

  /** Wall-clock per capstone phase to stderr — the cost attribution the
    * bench's top entry owes its reader (which leg is the money?). The
    * legs OVERLAP as concurrent driver jobs (§2.6), so each phase's
    * wall-clock includes sibling contention: the numbers BOUND the
    * group's wall-clock (max over legs ≤ group wall), they no longer sum
    * to it. Same convention as compactPartial's phase prints. */
  private def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[takedown] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    r
  }

  def qTakedownE2e(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "takedown", dir)
    val docs = Tables(s, dir, "documents")
      .select("doc_id", "lang", "text", "n_chars")
    val e = Tables(s, dir, "embeddings")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val td = corpus.filter(col("doc_id") % 3 === 1)
      .orderBy("doc_id").limit(40).select("doc_id").localCheckpoint()
    val tdEven = td.filter(col("doc_id") % 2 === 0)
    val tdOdd = td.filter(col("doc_id") % 2 === 1)
    val dedupIdx = "graft_idx_tde_dedup"
    val annIdx = "graft_idx_tde_ann"
    val spanIdx = "graft_idx_tde_span"
    val cc = s"$base/cc"
    val chunkB = s"$base/chunks"
    val prefB = s"$base/pref"

    // judgments: each corpus doc vs its successor in (lang, doc_id)
    // order; longer text wins, equal draws — items are doc-id strings
    val byLang = Window.partitionBy("lang").orderBy("doc_id")
    val judgments = corpus
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("nb_id", lead("doc_id", 1).over(byLang))
      .withColumn("nb_chars", lead("n_chars", 1).over(byLang))
      .filter(col("nb_id").isNotNull)
      .select(col("doc_id").as("ia_id"), col("nb_id").as("ib_id"),
        col("doc_id").cast("string").as("ia"),
        col("nb_id").cast("string").as("ib"),
        when(col("n_chars") > col("nb_chars"), "a")
          .when(col("n_chars") < col("nb_chars"), "b")
          .otherwise("tie").as("oc"))
      .localCheckpoint()

    // ---- 1. build all six standing structures — DISTINCT structures, so
    // the legs are independent and run as concurrent driver-submitted
    // jobs (guide §2.6: overlap independent jobs; each leg's stage tail
    // back-fills with its siblings' tasks instead of idling the
    // executors). Only the cluster build depends on another structure
    // (matchEdges probes the dedup index), so it chains behind the dedup
    // build inside ONE leg; per-leg wall-clock phases now overlap.
    val b0 = docs.filter(col("doc_id") % 10 === 0)
    graft.exec.Concurrent.run(
      () => {
        phase("build_dedup")(DedupIndex.write(corpus, "text", "doc_id",
          "lang", dedupIdx, threshold = 0.5))
        phase("build_cluster") {
          val ep0 = DedupIndex.snapshotEpoch(s, dedupIdx)
          // one shingle pass shared by probe and append (§2.4)
          val art0 = DedupIndex.batchArtifacts(b0, "text", "doc_id", "lang")
            .localCheckpoint()
          val edges0 = DedupIndex.matchEdges(s, dedupIdx, b0,
              "text", "doc_id", "lang", threshold = 0.5,
              precomputedArtifacts = Some(art0))
            .localCheckpoint()
          try {
            ClusterIndex.fold(s, cc, edges0, b0.select(col("doc_id")),
              ClusterIndex.streamFoldId(0L))
            // healRefresh = false: matchEdges healed WITH refresh at the
            // top of this leg; the probe-time epoch makes the
            // single-writer assumption CHECKED (the IngestDedup
            // discipline applied to the direct-call path)
            DedupIndex.appendKept(s, dedupIdx, b0,
              DedupIndex.verdictsFromEdges(b0, "doc_id", edges0),
              "text", "doc_id", "lang", threshold = 0.5, batchId = 0L,
              healRefresh = false, expectEpoch = Some(ep0),
              precomputedArtifacts = Some(art0))
          } finally {
            graft.exec.Partitioning.unpersistCheckpoint(edges0)
            graft.exec.Partitioning.unpersistCheckpoint(art0)
          }
        }
      },
      () => phase("build_ann")(SimilarityIndex.write(
        e.filter(col("vec_id") % 5 =!= 0),
        "embedding", "vec_id", annIdx, k = 4, iters = 1, buckets = 4)),
      () => phase("build_chunk")(ChunkIndex.append(s, chunkB, corpus,
        "text", "doc_id", seed = 42L, cutMod = CutMod, batchId = 0L)),
      () => phase("build_span")(SpanIndex.write(corpus, "text", "doc_id",
        spanIdx, w = 6, buckets = 8)),
      () => phase("build_pref")(PreferenceIndex.appendJudgments(s, prefB,
        judgments, "ia", "ib", "oc", batchId = 0L)))

    // ---- 2. the takedown REQUEST STREAM: one foreachBatch withdraws
    // the ids from all six standing structures
    Scratch.stream(s, base, td.schema) { (src, ckpt, _) =>
      src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (req: DataFrame, _: Long) =>
          val ids = req.localCheckpoint() // request-driven: delta-sized
          try {
            // six independent withdrawals (one per structure), all reading
            // the same checkpointed request set — overlapped (§2.6)
            graft.exec.Concurrent.run(
              () => phase("wd_dedup")(
                DedupIndex.delete(s, dedupIdx, ids, "doc_id")),
              () => phase("wd_cluster")(ClusterIndex.withdraw(s, cc, ids,
                ClusterIndex.nextBatchId(s, cc))),
              () => phase("wd_ann")(
                SimilarityIndex.delete(s, annIdx, ids, "doc_id")),
              () => phase("wd_chunk")(ChunkIndex.delete(s, chunkB, ids,
                "doc_id", cutMod = CutMod, batchId = 1L)),
              () => phase("wd_span")(SpanIndex.delete(s, spanIdx,
                docs.join(ids, "doc_id"), "text", "doc_id", bid = 1L)),
              () => phase("wd_pref")(PreferenceIndex.withdraw(s, prefB,
                ids.select(col("doc_id").cast("string").as("item")), "item",
                batchId = 1L)))
          } finally graft.exec.Partitioning.unpersistCheckpoint(ids)
        }
    }.feed(td)

    // ---- 3. compactions retire every structure's tombstones — the
    // re-admission precondition (delete wins until here); six
    // independent structures, overlapped (§2.6)
    val chunkCs = graft.exec.Concurrent.all[Long](Seq(
      () => { phase("cp_dedup")(DedupIndex.compactAuto(s, dedupIdx)); 0L },
      () => { phase("cp_ann")(SimilarityIndex.compactAuto(s, annIdx)); 0L },
      () => { phase("cp_cluster")(ClusterIndex.compact(s, cc)); 0L },
      () => phase("cp_chunk")(ChunkIndex.compact(s, chunkB,
        cutMod = CutMod)),
      () => { phase("cp_span")(SpanIndex.compact(s, spanIdx)); 0L },
      () => { phase("cp_pref")(PreferenceIndex.compactBatched(s, prefB)); 0L }))
    val chunkC = chunkCs(3)

    // ---- 4. the permitted (even) half re-enters as ordinary new data.
    // Five independent re-admission legs (dedup+cluster share the probe's
    // edge delta, so they nest inside one leg behind it), overlapped.
    val b2 = docs.join(tdEven, "doc_id")
    @volatile var trimmed2: DataFrame = null
    @volatile var verd2: DataFrame = null
    graft.exec.Concurrent.run(
      () => {
        val ep2 = DedupIndex.snapshotEpoch(s, dedupIdx)
        // probe (dedup index, preceded by the batch's one shared shingle
        // pass — §2.4) ∥ cluster-state read (members chain) —
        // independent standing structures (§2.6)
        val foldId2 = ClusterIndex.streamFoldId(2L)
        @volatile var art2: DataFrame = null
        val Seq(edges2, cur2) =
          graft.exec.Concurrent.labeled[DataFrame](Seq(
            "re_probe" -> (() => phase("re_probe") {
              art2 = DedupIndex.batchArtifacts(b2, "text", "doc_id", "lang")
                .localCheckpoint()
              DedupIndex.matchEdges(s, dedupIdx, b2, "text", "doc_id",
                  "lang", threshold = 0.5,
                  precomputedArtifacts = Some(art2))
                .localCheckpoint()
            }),
            "re_cluster_state" -> (() =>
              ClusterIndex.currentSnapshot(s, cc, foldId2))))
        verd2 = DedupIndex
          .verdictsFromEdges(b2, "doc_id", edges2).localCheckpoint()
        try
          // the fold (cluster state) and the append (dedup tables) write
          // to distinct structures from the shared edge checkpoint
          graft.exec.Concurrent.run(
            () => phase("re_cluster")(ClusterIndex.fold(s, cc, edges2,
              b2.select(col("doc_id")), foldId2,
              precomputedCur = Some(cur2))),
            () => phase("re_dedup")(DedupIndex.appendKept(s, dedupIdx, b2,
              verd2, "text", "doc_id", "lang", threshold = 0.5,
              batchId = 2L, healRefresh = false, expectEpoch = Some(ep2),
              precomputedArtifacts = Some(art2))))
        finally {
          graft.exec.Partitioning.unpersistCheckpoint(edges2)
          graft.exec.Partitioning.unpersistCheckpoint(cur2)
          graft.exec.Partitioning.unpersistCheckpoint(art2)
        }
      },
      () => phase("re_ann")(SimilarityIndex.append(s, annIdx,
        e.join(tdEven, e("vec_id") === tdEven("doc_id"))
          .select(e("vec_id"), e("embedding")))),
      () => phase("re_chunk")(ChunkIndex.append(s, chunkB, b2, "text",
        "doc_id", seed = 42L, cutMod = CutMod, batchId = chunkC + 1L)),
      () => {
        trimmed2 = phase("re_span") {
          val t = SpanIndex.trimIncremental(s, spanIdx, b2,
            "text", "doc_id").localCheckpoint()
          SpanIndex.append(s, spanIdx, t, "trimmed_text", "doc_id", bid = 2L)
          t
        }
      },
      () => {
        val late = judgments
          .join(tdEven.select(col("doc_id").as("ia_id")), Seq("ia_id"),
            "left_semi")
          .unionByName(judgments.join(
            tdEven.select(col("doc_id").as("ib_id")), Seq("ib_id"),
            "left_semi")
            .select(judgments.columns.map(col).toSeq: _*))
          .dropDuplicates("ia_id", "ib_id")
          .join(tdOdd.select(col("doc_id").as("ia_id")), Seq("ia_id"),
            "left_anti")
          .join(tdOdd.select(col("doc_id").as("ib_id")), Seq("ib_id"),
            "left_anti")
        phase("re_pref")(PreferenceIndex.appendJudgments(s, prefB, late,
          "ia", "ib", "oc", batchId = 2L))
      })

    // ---- 5. one normalized observable per structure
    def norm(structure: String, k: org.apache.spark.sql.Column,
             v: org.apache.spark.sql.Column)(df: DataFrame): DataFrame =
      df.select(lit(structure).as("structure"),
        k.cast("string").as("k"), v.as("v"))
    val dedupOut = norm("dedup", col("doc_id"),
      concat(col("keep").cast("string"), lit(":"),
        coalesce(col("reason"), lit(""))))(verd2)
    val clusterOut = norm("cluster", col("id"), col("cid").cast("string"))(
      ClusterIndex.current(s, cc))
    val annOut = norm("ann", col("query_id"),
      concat(col("rank").cast("string"), lit(":"),
        col("cand_id").cast("string")))(
      SimilarityIndex.topK(s, annIdx, e.filter(col("vec_id") < 10),
        k = 5, nprobe = 2))
    val chunkOut = norm("chunk", col("chunk_key"),
      concat(col("n_docs").cast("string"), lit(":"),
        col("n_tokens").cast("string"), lit(":"),
        col("checksum").cast("string")))(
      ChunkIndex.readManifest(s, chunkB))
    val spanOut = norm("span", col("doc_id"),
      concat(col("kept_tokens").cast("string"), lit(":"),
        col("trimmed_text")))(trimmed2)
    val prefWins = norm("pref",
      concat(lit("w:"), col("winner"), lit("|"), col("loser")),
      col("n").cast("string"))(PreferenceIndex.matrix(s, prefB))
    val prefTies = norm("pref",
      concat(lit("t:"), col("a"), lit("|"), col("b")),
      col("n").cast("string"))(PreferenceIndex.ties(s, prefB))
    Seq(dedupOut, clusterOut, annOut, chunkOut, spanOut, prefWins, prefTies)
      .reduce(_.unionByName(_))
  }

  // --------------------------------------------------------- q_takedown_slo

  /** TAKEDOWN SLO — "how long until erasure is DURABLE?" answered as a
    * status frame: one (structure, metric, value) row per watermark,
    * read from each standing structure's OWN cheap observability
    * surface (tombstone tables and delta-partition/marker state — never
    * a corpus scan): pending tombstones (dedup/ann/chunk/pref),
    * retraction sentinels + delta-batch count (cluster), physical
    * negative-count rows (span, stats-pruned to the delete-batch
    * files), and the derived `erasure_durable` flag per structure.
    *
    * Scenario: all six structures built on an independent slice
    * (doc_id % 4 = 1), one 20-id request set withdrawn from all six,
    * then THREE structures compacted (dedup via compactAuto, chunk,
    * pref via compactBatched) and three left pending (ann, cluster,
    * span) — so the frame must show durable = 1 exactly where the
    * tombstones were physically retired and the live outstanding counts
    * elsewhere. The cluster state ingests a deterministic edge relation
    * (star components over the doc_id % 7 = 2 sub-slice — edge
    * DISCOVERY is proven by the dedup/cluster lifecycle queries; this
    * query proves the WATERMARKS), so every count is closed-form: the
    * oracle predicts each watermark from the fixture alone, and a
    * hash-pass proves the engine's durability answers are the true
    * ones. */
  def qTakedownSlo(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text",
      "n_chars")
    val e = Tables(s, dir, "embeddings")
    val corpus = docs.filter(col("doc_id") % 4 === 1)
    val td = corpus.filter(col("doc_id") % 3 === 1)
      .orderBy("doc_id").limit(20).select("doc_id").localCheckpoint()
    val base = Scratch.fresh(s, "takedownslo", dir)
    val dedupIdx = "graft_idx_slo_dedup"
    val annIdx = "graft_idx_slo_ann"
    val spanIdx = "graft_idx_slo_span"
    val cc = s"$base/cc"
    val chunkB = s"$base/chunks"
    val prefB = s"$base/pref"

    // ---- build the six structures — distinct structures, overlapped
    // (§2.6; unlike the e2e capstone, even the cluster leg is
    // independent here — its edges are the synthetic star relation, not
    // a dedup-index probe)
    val byLang = Window.partitionBy("lang").orderBy("doc_id")
    // star-shaped components (each doc edges to its (lang, id-range)
    // group's min id): bounded propagation diameter regardless of sf —
    // the WATERMARKS don't depend on the topology, only on which ids
    // are tracked
    val trk = corpus.filter(col("doc_id") % 7 === 2)
      .select("doc_id", "lang").localCheckpoint()
    val grouped = trk.withColumn("g", (col("doc_id") / 500).cast("long"))
    val edges0 = grouped
      .join(grouped.groupBy("lang", "g").agg(min("doc_id").as("m")),
        Seq("lang", "g"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("id_a"), col("doc_id").as("id_b"))
    graft.exec.Concurrent.run(
      () => DedupIndex.write(corpus, "text", "doc_id", "lang", dedupIdx,
        threshold = 0.5),
      () => SimilarityIndex.write(e.filter(col("vec_id") % 4 === 1),
        "embedding", "vec_id", annIdx, k = 4, iters = 1, buckets = 4),
      () => ChunkIndex.append(s, chunkB, corpus, "text", "doc_id",
        seed = 42L, cutMod = CutMod, batchId = 0L),
      () => SpanIndex.write(corpus, "text", "doc_id", spanIdx,
        w = 6, buckets = 8),
      () => PreferenceIndex.appendJudgments(s, prefB,
        corpus.select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("nb_id", lead("doc_id", 1).over(byLang))
          .withColumn("nb_chars", lead("n_chars", 1).over(byLang))
          .filter(col("nb_id").isNotNull)
          .select(col("doc_id").cast("string").as("ia"),
            col("nb_id").cast("string").as("ib"),
            when(col("n_chars") > col("nb_chars"), "a")
              .when(col("n_chars") < col("nb_chars"), "b")
              .otherwise("tie").as("oc")),
        "ia", "ib", "oc", batchId = 0L),
      () => ClusterIndex.fold(s, cc, edges0, trk.select(col("doc_id")),
        ClusterIndex.streamFoldId(0L)))

    // ---- one request set withdrawn from all six — overlapped
    graft.exec.Concurrent.run(
      () => DedupIndex.delete(s, dedupIdx, td, "doc_id"),
      () => SimilarityIndex.delete(s, annIdx, td, "doc_id"),
      () => ChunkIndex.delete(s, chunkB, td, "doc_id", cutMod = CutMod,
        batchId = 1L),
      () => SpanIndex.delete(s, spanIdx, docs.join(td, "doc_id"),
        "text", "doc_id", bid = 1L),
      () => PreferenceIndex.withdraw(s, prefB,
        td.select(col("doc_id").cast("string").as("item")), "item",
        batchId = 1L),
      () => ClusterIndex.withdraw(s, cc, td,
        ClusterIndex.nextBatchId(s, cc)))

    // ---- three structures retire their tombstones, three stay pending
    graft.exec.Concurrent.run(
      () => { DedupIndex.compactAuto(s, dedupIdx); () },
      () => { ChunkIndex.compact(s, chunkB, cutMod = CutMod); () },
      () => PreferenceIndex.compactBatched(s, prefB))

    // ---- the SLO frame: watermarks from sidecar/tombstone/marker state
    // (six independent delta-sized reads, overlapped)
    import s.implicits._
    def durable(n: Long): Long = if (n == 0L) 1L else 0L
    val pendings = graft.exec.Concurrent.all[Long](Seq(
      () => DedupIndex.pendingTombstones(s, dedupIdx),
      () => SimilarityIndex.pendingTombstones(s, annIdx),
      () => ClusterIndex.retractedLive(s, cc),
      () => ChunkIndex.pendingTombstones(s, chunkB),
      () => SpanIndex.pendingTombstoneRows(s, spanIdx),
      () => PreferenceIndex.pendingTombstones(s, prefB)))
    val Seq(dedupPending, annPending, retracted, chunkPending,
      spanPending, prefPending) = pendings
    Seq(
      ("dedup", "tombs_outstanding", dedupPending),
      ("dedup", "erasure_durable", durable(dedupPending)),
      ("ann", "tombs_outstanding", annPending),
      ("ann", "erasure_durable", durable(annPending)),
      ("cluster", "pending_batches", ClusterIndex.pendingBatches(s, cc)),
      ("cluster", "retracted_live", retracted),
      ("cluster", "erasure_durable", durable(retracted)),
      ("chunk", "manifest_versions", ChunkIndex.manifestVersions(s, chunkB)),
      ("chunk", "tombs_outstanding", chunkPending),
      ("chunk", "erasure_durable", durable(chunkPending)),
      ("span", "tombstone_rows", spanPending),
      ("span", "erasure_durable", durable(spanPending)),
      ("pref", "tombs_outstanding", prefPending),
      ("pref", "erasure_durable", durable(prefPending)))
      .toDF("structure", "metric", "value")
  }

  /** Closed-form watermark prediction from the fixture alone. */
  val qTakedownSloSql: String =
    """WITH td AS (SELECT doc_id FROM documents
      |  WHERE doc_id % 4 = 1 AND doc_id % 3 = 1 ORDER BY doc_id LIMIT 20),
      |trk AS (SELECT doc_id FROM documents
      |  WHERE doc_id % 4 = 1 AND doc_id % 7 = 2),
      |rl AS (SELECT count(*) AS n FROM td
      |  WHERE doc_id IN (SELECT doc_id FROM trk)),
      |tw AS (SELECT string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks
      |  FROM documents WHERE doc_id IN (SELECT doc_id FROM td)),
      |pw AS (SELECT toks,
      |  unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tw),
      |wn AS (SELECT count(DISTINCT array_to_string(toks[pos:pos+5], ' ')) AS n
      |  FROM pw)
      |SELECT 'dedup' AS structure, 'tombs_outstanding' AS metric,
      |  CAST(0 AS BIGINT) AS value
      |UNION ALL SELECT 'dedup', 'erasure_durable', CAST(1 AS BIGINT)
      |UNION ALL SELECT 'ann', 'tombs_outstanding',
      |  (SELECT CAST(count(*) AS BIGINT) FROM td)
      |UNION ALL SELECT 'ann', 'erasure_durable', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'cluster', 'pending_batches',
      |  CAST(1 + (CASE WHEN (SELECT n FROM rl) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |UNION ALL SELECT 'cluster', 'retracted_live',
      |  (SELECT CAST(n AS BIGINT) FROM rl)
      |UNION ALL SELECT 'cluster', 'erasure_durable',
      |  CAST(CASE WHEN (SELECT n FROM rl) = 0 THEN 1 ELSE 0 END AS BIGINT)
      |UNION ALL SELECT 'chunk', 'manifest_versions', CAST(1 AS BIGINT)
      |UNION ALL SELECT 'chunk', 'tombs_outstanding', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'chunk', 'erasure_durable', CAST(1 AS BIGINT)
      |UNION ALL SELECT 'span', 'tombstone_rows',
      |  (SELECT CAST(n AS BIGINT) FROM wn)
      |UNION ALL SELECT 'span', 'erasure_durable',
      |  CAST(CASE WHEN (SELECT n FROM wn) = 0 THEN 1 ELSE 0 END AS BIGINT)
      |UNION ALL SELECT 'pref', 'tombs_outstanding', CAST(0 AS BIGINT)
      |UNION ALL SELECT 'pref', 'erasure_durable', CAST(1 AS BIGINT)""".stripMargin

  // ------------------------------------------------------------- oracle

  private val TdAll =
    "(SELECT doc_id FROM documents WHERE doc_id % 5 <> 0 AND " +
      "doc_id % 3 = 1 ORDER BY doc_id LIMIT 40)"
  private val TdEven =
    s"(SELECT doc_id FROM $TdAll __te WHERE doc_id % 2 = 0)"
  private val TdOdd =
    s"(SELECT doc_id FROM $TdAll __to WHERE doc_id % 2 = 1)"

  /** Shingle + batch-0 edge + live-corpus CTE block shared (textually)
    * by the dedup and cluster sections — each section is its own
    * subquery with its own WITH, so no CTE names collide across
    * sections. */
  private val SharedDedupCtes =
    s"""w AS (SELECT doc_id, lang, text,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS w FROM documents),
       |sh AS (SELECT doc_id, lang, text,
       |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
       |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
       |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
       |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
       |e0 AS (
       |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
       |    JOIN corpus0 c ON d.text = c.text
       |  UNION
       |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
       |    JOIN corpus0 c ON d.lang = c.lang
       |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
       |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
       |v0keep AS (SELECT doc_id FROM d0
       |  WHERE doc_id NOT IN (SELECT b FROM e0)),
       |live AS (
       |  SELECT * FROM corpus0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM $TdAll __t)
       |  UNION ALL
       |  SELECT sh.* FROM sh JOIN v0keep k ON sh.doc_id = k.doc_id),
       |d2 AS (SELECT * FROM sh
       |  WHERE doc_id IN (SELECT doc_id FROM $TdEven)),
       |e2 AS (
       |  SELECT c.doc_id AS a, d.doc_id AS b FROM d2 d
       |    JOIN live c ON d.text = c.text
       |  UNION
       |  SELECT c.doc_id AS a, d.doc_id AS b FROM d2 d
       |    JOIN live c ON d.lang = c.lang
       |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
       |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5)""".stripMargin

  private val DedupSection =
    s"""(WITH $SharedDedupCtes,
       |e2x AS (SELECT DISTINCT d.doc_id FROM d2 d
       |  JOIN live c ON d.text = c.text),
       |e2n AS (SELECT DISTINCT d.doc_id FROM d2 d
       |  JOIN live c ON d.lang = c.lang
       |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
       |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5)
       |SELECT 'dedup' AS structure, CAST(d2.doc_id AS VARCHAR) AS k,
       |  concat(CASE WHEN x.doc_id IS NULL AND n.doc_id IS NULL
       |    THEN 'true' ELSE 'false' END, ':',
       |    CASE WHEN x.doc_id IS NOT NULL THEN 'exact'
       |         WHEN n.doc_id IS NOT NULL THEN 'near' ELSE '' END) AS v
       |FROM d2 LEFT JOIN e2x x ON d2.doc_id = x.doc_id
       |  LEFT JOIN e2n n ON d2.doc_id = n.doc_id)""".stripMargin

  private val ClusterSection =
    s"""(WITH RECURSIVE $SharedDedupCtes,
       |nodes0 AS (SELECT doc_id AS id FROM d0
       |  UNION SELECT a FROM e0 UNION SELECT b FROM e0),
       |wno AS (SELECT id FROM nodes0
       |  WHERE id IN (SELECT doc_id FROM $TdAll __w)),
       |e0s AS (SELECT a, b FROM e0
       |  WHERE a NOT IN (SELECT id FROM wno)
       |    AND b NOT IN (SELECT id FROM wno)),
       |nodes AS (SELECT id FROM nodes0
       |    WHERE id NOT IN (SELECT id FROM wno)
       |  UNION SELECT doc_id FROM d2
       |  UNION SELECT a FROM e2 UNION SELECT b FROM e2),
       |alle AS (SELECT a, b FROM e0s UNION SELECT a, b FROM e2),
       |edges AS (SELECT a AS u, b AS v FROM alle
       |  UNION SELECT b AS u, a AS v FROM alle),
       |reach AS (
       |  SELECT id AS s, id AS r FROM nodes
       |  UNION
       |  SELECT re.s, ed.v FROM reach re JOIN edges ed ON re.r = ed.u)
       |SELECT 'cluster' AS structure, CAST(s AS VARCHAR) AS k,
       |  CAST(min(r) AS VARCHAR) AS v FROM reach GROUP BY s)""".stripMargin

  private def annSection: String = {
    val ivf = MiningQueries.ivfOracleSql(
      trainPred = "vec_id % 5 <> 0",
      corpusPred = "e.vec_id % 5 <> 0 AND " +
        s"e.vec_id NOT IN (SELECT doc_id FROM $TdOdd)")
    s"""(SELECT 'ann' AS structure, CAST(query_id AS VARCHAR) AS k,
       |  concat(CAST(rank AS VARCHAR), ':', CAST(cand_id AS VARCHAR)) AS v
       |FROM ($ivf) __ann)""".stripMargin
  }

  private def chunkSection: String = {
    val manifest = TrainPrepQueries.cdcManifestSql(
      "SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 AND " +
        s"doc_id NOT IN (SELECT doc_id FROM $TdOdd)")
    s"""(SELECT 'chunk' AS structure, CAST(chunk_key AS VARCHAR) AS k,
       |  concat(CAST(n_docs AS VARCHAR), ':', CAST(n_tokens AS VARCHAR),
       |    ':', CAST(checksum AS VARCHAR)) AS v
       |FROM ($manifest) __ch)""".stripMargin
  }

  private def spanSection: String =
    s"""(WITH tc AS (SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks
       |  FROM documents WHERE doc_id % 5 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM $TdAll __t)),
       |pc AS (SELECT toks,
       |  unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tc),
       |ref2 AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win
       |  FROM pc),
       |dd2 AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM $TdEven)),
       |${ExtQueries.spanTrimCtes("2", "dd2", "ref2")}
       |SELECT 'span' AS structure, CAST(doc_id AS VARCHAR) AS k,
       |  concat(CAST(kept_tokens AS VARCHAR), ':', trimmed_text) AS v
       |FROM out2)""".stripMargin

  private val PrefSection =
    s"""(WITH c AS (SELECT doc_id, lang, n_chars FROM documents
       |  WHERE doc_id % 5 <> 0),
       |pr AS (SELECT doc_id AS ia_id, n_chars,
       |  lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS ib_id,
       |  lead(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS nbc
       |  FROM c),
       |j AS (SELECT ia_id, ib_id,
       |  CASE WHEN n_chars > nbc THEN 'a' WHEN n_chars < nbc THEN 'b'
       |       ELSE 'tie' END AS oc
       |  FROM pr WHERE ib_id IS NOT NULL),
       |live0 AS (SELECT * FROM j
       |  WHERE ia_id NOT IN (SELECT doc_id FROM $TdAll __a)
       |    AND ib_id NOT IN (SELECT doc_id FROM $TdAll __b)),
       |late AS (SELECT * FROM j
       |  WHERE (ia_id IN (SELECT doc_id FROM $TdEven)
       |      OR ib_id IN (SELECT doc_id FROM $TdEven))
       |    AND ia_id NOT IN (SELECT doc_id FROM $TdOdd)
       |    AND ib_id NOT IN (SELECT doc_id FROM $TdOdd)),
       |allj AS (SELECT * FROM live0 UNION ALL SELECT * FROM late),
       |wins AS (SELECT
       |    CAST(CASE WHEN oc = 'a' THEN ia_id ELSE ib_id END AS VARCHAR)
       |      AS winner,
       |    CAST(CASE WHEN oc = 'a' THEN ib_id ELSE ia_id END AS VARCHAR)
       |      AS loser
       |  FROM allj WHERE oc <> 'tie'),
       |tiesj AS (SELECT
       |    least(CAST(ia_id AS VARCHAR), CAST(ib_id AS VARCHAR)) AS ta,
       |    greatest(CAST(ia_id AS VARCHAR), CAST(ib_id AS VARCHAR)) AS tb
       |  FROM allj WHERE oc = 'tie')
       |SELECT 'pref' AS structure, concat('w:', winner, '|', loser) AS k,
       |  CAST(count(*) AS VARCHAR) AS v FROM wins GROUP BY winner, loser
       |UNION ALL
       |SELECT 'pref', concat('t:', ta, '|', tb),
       |  CAST(count(*) AS VARCHAR) FROM tiesj GROUP BY ta, tb)""".stripMargin

  def qTakedownE2eSql: String =
    Seq(DedupSection, ClusterSection, annSection, chunkSection,
      spanSection, PrefSection)
      .map(sec => s"SELECT structure, k, v FROM $sec __s")
      .mkString("\nUNION ALL\n")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_takedown_e2e" -> (qTakedownE2e _),
    "q_takedown_slo" -> (qTakedownSlo _))

  val oracle: Map[String, String] = Map(
    "q_takedown_e2e" -> qTakedownE2eSql,
    "q_takedown_slo" -> qTakedownSloSql)
}
