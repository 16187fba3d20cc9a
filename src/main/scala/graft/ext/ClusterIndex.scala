package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Standing duplicate-cluster state — INCREMENTAL connected components
  * maintained by streaming ingestion, so cluster ids exist AT INGEST
  * TIME instead of through a batch recompute over the whole corpus
  * (the q_dedup_clusters shape: regenerate every pair, re-propagate
  * every label — measured at 100.2× cost at 100× data; this index
  * replaces that recompute with a per-batch delta merge whose cost is
  * bounded by the batch's edges plus the clusters they touch).
  *
  * Semantics: the tracked graph is the set of VERIFIED duplicate edges
  * discovered at ingestion ([[DedupIndex.matchEdges]] — each arriving
  * document vs the live corpus index). Every ingested document and
  * every matched corpus partner becomes a node; a document that
  * matches nothing is a singleton cluster. Cluster id = min doc id of
  * the component (the [[Dedup.clusters]] labeling, so a batch
  * recompute over the same edge set yields identical labels).
  * Documents the ingest never touched are implicit singletons and hold
  * no row — the table is sized by DUPLICATE-INVOLVED documents, not by
  * the corpus.
  *
  * Layout ([[DeltaChains]] — the batch-dir chains, heal and two-marker
  * compaction commit shared with [[ChunkIndex]] and [[PreferenceIndex]]):
  *
  *   base/members/batch_id=N/  (id, cid)   membership assertions
  *   base/edges/batch_id=N/    (a, b, alive)  verified edges (a < b)
  *
  * The LATEST batch's assertion wins per id: a fold re-asserts exactly
  * the ids whose cluster id changed (members of touched clusters) plus
  * the batch's new nodes, so a fold's write is delta-sized. Reads
  * resolve latest-wins with one max_by aggregate; [[compact]] folds
  * the chain back to a single consolidated partition.
  *
  * EDGES ARE STATE, not just fold input: [[withdraw]] (a takedown) must
  * SPLIT a cluster whose bridge document leaves, and min-id labels must
  * move when the min-id member leaves — both require re-running CC over
  * the touched components' SURVIVING edges, so every fold persists its
  * verified edge delta (canonical a < b orientation, duplicate-edge-set
  * sized — never corpus sized). Edges resolve latest-wins per (a, b) on
  * an `alive` flag: a fold asserts alive=true, a withdrawal retracts
  * every edge incident to a withdrawn node with alive=false — so a later
  * RE-ADMISSION of the same id cannot resurrect relations discovered
  * against the document's pre-takedown content (the re-ingest discovers
  * fresh edges against the live corpus instead). Membership retractions
  * use the [[RetractedCid]] sentinel rather than NULL because Spark's
  * `max_by` skips NULL values — a NULL retraction would lose
  * latest-wins to the very assertion it retracts.
  *
  * Batch-id discipline: streaming folds stamp
  * `micro-batch id × [[StreamBatchStride]]` ([[streamFoldId]]), leaving
  * a gap of 2^20 ids between consecutive epochs for MANUAL operations
  * (withdrawals, compactions) to claim via [[nextBatchId]] — latest-wins
  * stays totally ordered across interleaved stream folds and takedowns,
  * and a replayed micro-batch still maps to the same id (the transform
  * is a pure function of the epoch).
  *
  * Replay-idempotence: [[fold]] reads the state EXCLUDING its own
  * batch id (the [[DedupIndex.dedupIncremental]] excludeBatchId
  * discipline), so a checkpoint replay (restart between the fold's
  * write and the stream's commit) recomputes the identical assertion
  * set and dynamic partition overwrite rewrites it in place.
  *
  * Union-find invariant (why the delta merge equals the batch
  * recompute): after every fold, each tracked node's cid is the min id
  * of its connected component in the union of all edges folded so far.
  * Trivially true at the empty state (every node a singleton = its own
  * min). Inductively: a fold feeds one union-find task (the kernel at
  * the end of this object) the batch's edges, an `id -> cid` link for
  * every touched id the state already tracks, and the touched ids
  * themselves. Its components are exactly the groups of old clusters
  * (plus new nodes) that the batch merges, and union by min root
  * labels each with its min id — the min member id, since each old cid
  * was already its cluster's min. Re-asserting the members of every
  * old cid whose root moved, and every new node at its root, restores
  * the invariant. [[withdraw]] re-labels survivors with the same
  * kernel. [[Dedup.clusters]] is the corpus-scale batch CC both must
  * agree with. */
object ClusterIndex {

  private val membersSchema = StructType(Seq(
    StructField("id", LongType), StructField("cid", LongType),
    StructField("batch_id", LongType)))

  private val edgesSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("alive", BooleanType), StructField("batch_id", LongType)))

  private val Chains = Seq("members", "edges")

  /** Membership-retraction sentinel (see the header: `max_by` skips
    * NULLs, so a NULL cid could not win latest-wins). Doc ids are
    * non-negative by fixture and corpus contract; the sentinel never
    * collides. */
  val RetractedCid: Long = -1L

  /** Stream folds stamp `epoch × stride`, leaving 2^20 manual batch ids
    * between consecutive micro-batches (see header). */
  val StreamBatchStride: Long = 1L << 20

  def streamFoldId(microBatchId: Long): Long =
    microBatchId * StreamBatchStride

  /** The next free MANUAL batch id: one above everything written so far
    * (members and edges always advance together, but a withdrawal of
    * only-untracked ids legitimately writes nothing — take the max over
    * both chains). Strictly between the last stream fold and the next
    * one as long as fewer than 2^20 manual ops land in the gap.
    *
    * Two directory listings, zero Spark jobs
    * ([[DeltaChains.nextBatchId]]). */
  def nextBatchId(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.nextBatchId(spark, base, Chains)
  }

  /** The live membership (id, cid): latest assertion per id, withdrawn
    * ids ([[RetractedCid]]) filtered out AFTER latest-wins — a
    * retraction must beat the assertions it retracts, and a later
    * re-admission must beat the retraction. `excludeBatchId` makes a
    * replayed fold see exactly the pre-fold state (its own
    * first-attempt partition is invisible). */
  def current(spark: SparkSession, base: String,
              excludeBatchId: Long = Long.MinValue): DataFrame = {
    heal(spark, base)
    DeltaChains.read(spark, base, "members", membersSchema)
      .filter(col("batch_id") =!= lit(excludeBatchId))
      .groupBy("id").agg(max_by(col("cid"), col("batch_id")).as("cid"))
      .filter(col("cid") =!= lit(RetractedCid))
  }

  /** The live edge set (a, b), canonical a < b: latest `alive` verdict
    * per edge, retracted edges dropped. The groupBy keys ARE the edge
    * identity, so the latest-wins aggregate shuffles the (duplicate-
    * edge-set-sized, 17-byte-row) edge chain once — never the corpus. */
  def liveEdges(spark: SparkSession, base: String,
                excludeBatchId: Long = Long.MinValue): DataFrame = {
    heal(spark, base)
    DeltaChains.read(spark, base, "edges", edgesSchema)
      .filter(col("batch_id") =!= lit(excludeBatchId))
      .groupBy("a", "b").agg(max_by(col("alive"), col("batch_id")).as("alive"))
      .filter(col("alive")).select(col("a"), col("b"))
  }

  /** Fold one batch's verified duplicate edges into the standing
    * cluster state. `edges` carries (id_a, id_b) pairs (either
    * orientation; NULL endpoints — legacy index rows with no holder
    * id — are dropped); `ids` carries the batch's document ids (every
    * ingested document becomes a node even when it matched nothing).
    *
    * Cost shape: one union-find task over the batch's edges, the
    * touched ids and their `id -> cid` links — delta-sized, not
    * corpus-sized. The links come out of the state through a broadcast
    * semi-join on the touched ids (inside the kernel's task, which so
    * streams the state once), and the membership re-assert joins
    * the (two-long-column) state against the broadcast map of moved
    * roots, so the state is never shuffled and only touched rows are
    * written. The one full pass over the membership table is the
    * latest-wins read — columnar ids, no text, no shingles — which is
    * the part [[compact]] keeps flat. About six Spark jobs per fold:
    * the edge delta, the touched-id broadcast and the kernel, the
    * moved-root broadcast and the members delta.
    *
    * `trackEdges` persists the batch's verified edge delta — the state
    * [[withdraw]] re-labels over (~20% of lifecycle cost at 100×,
    * measured). An index folded WITHOUT it cannot serve withdrawals
    * ([[withdraw]] refuses loudly) — pick per index, at its first
    * fold, and keep it constant: labels are identical either way, only
    * takedown-capability differs. */
  def fold(spark: SparkSession, base: String, edges: DataFrame,
           ids: DataFrame, batchId: Long,
           trackEdges: Boolean = true,
           precomputedCur: Option[DataFrame] = None): Unit = {
    heal(spark, base)
    val cur = precomputedCur.getOrElse(
      current(spark, base, excludeBatchId = batchId).localCheckpoint())
    @volatile var uf: DataFrame = null
    try {
      val e = edges.select(col("id_a").cast(LongType).as("id_a"),
          col("id_b").cast(LongType).as("id_b"))
        .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      // touched = the batch's ids and both endpoints of its edges; their
      // current (id, cid) rows come out of `cur` through a broadcast
      // semi-join, so the membership table streams once, unshuffled.
      // Duplicates are harmless to both the join and the kernel.
      val touched = ids.select(col(ids.columns.head).cast(LongType).as("id"))
        .filter(col("id").isNotNull)
        .unionAll(e.select(col("id_a").as("id")))
        .unionAll(e.select(col("id_b").as("id")))
      val links = cur.join(broadcast(touched), Seq("id"), "left_semi")
      // The edge-delta write (the state a later withdrawal re-labels
      // over) and the union-find consume only the caller's checkpointed
      // edges and the materialized state — they are independent and
      // overlap (§2.6). The MEMBERS delta still lands strictly after the
      // edge delta, so the serial order's crash states are preserved:
      // members-without-edges cannot occur.
      graft.exec.Concurrent.labeled[Unit](Seq(
        "cluster: edge delta" -> (() =>
          if (trackEdges)
            DeltaChains.write(base, "edges", batchId,
              e.filter(col("id_a") =!= col("id_b"))
                .select(least(col("id_a"), col("id_b")).as("a"),
                  greatest(col("id_a"), col("id_b")).as("b"))
                .distinct().withColumn("alive", lit(true)))),
        "cluster: rep cc" -> (() =>
          uf = unionFind(kernelRows(Link, e, "id_a", "id_b")
            .unionAll(kernelRows(Known, links, "id", "cid"))
            .unionAll(kernelRows(Node, touched, "id", "id"))))))
      // touched clusters only: every member of an old cluster whose root
      // moved, plus the batch's new nodes asserted at their root
      val remap = uf.filter(col("moved"))
        .select(col("id").as("cid"), col("cid").as("__new"))
      DeltaChains.write(base, "members", batchId,
        cur.join(broadcast(remap), Seq("cid"))
          .select(col("id"), col("__new").as("cid"))
          .unionByName(uf.filter(!col("moved")).select(col("id"), col("cid"))))
    } finally {
      if (uf != null) graft.exec.Partitioning.unpersistCheckpoint(uf)
      graft.exec.Partitioning.unpersistCheckpoint(cur)
    }
  }

  /** Materialized live-membership snapshot for a fold that will run with
    * `precomputedCur` — lets a caller overlap this standing-state read
    * with independent work (e.g. the ingest probe, §2.6). Pass the SAME
    * `excludeBatchId` the fold will use; [[fold]] takes ownership and
    * unpersists it. */
  def currentSnapshot(spark: SparkSession, base: String,
                      excludeBatchId: Long): DataFrame =
    current(spark, base, excludeBatchId = excludeBatchId).localCheckpoint()

  /** WITHDRAW documents from the standing cluster state — the takedown
    * half of incremental connected components, and the genuinely hard
    * one: deleting a node can SPLIT its cluster (the node was the
    * bridge) and must MOVE the label whenever the min-id member leaves,
    * neither of which local bookkeeping can decide. The re-labeling is
    * therefore a CC re-run — but over the TOUCHED COMPONENTS' surviving
    * members and edges only, never the corpus:
    *
    *  1. touched clusters = the withdrawn ids' current cids; members =
    *     their rows (edges never cross components — the union-find
    *     invariant — so this closed set bounds all re-labeling work);
    *  2. every live edge incident to a withdrawn id retracts
    *     (alive=false — a later re-admission of the id must judge
    *     against the LIVE corpus, not resurrect pre-takedown
    *     relations);
    *  3. the union-find kernel ([[fold]]'s) re-labels the survivors
    *     over their surviving edges in one task: each survivor a
    *     self-link, each surviving edge a link (splits and min-id moves
    *     fall out of the min-root labels);
    *  4. the delta asserts every survivor's (possibly unchanged) label
    *     and a [[RetractedCid]] row per withdrawn-and-tracked id.
    *
    * Ids the index never tracked are implicit singletons and withdraw
    * to nothing (no assertion needed — they hold no row). Cost is
    * bounded by |touched components| — their members and edges, in ONE
    * union-find task — plus one latest-wins pass over each chain; past
    * those passes neither chain is shuffled again (the withdrawn ids,
    * touched cids and survivors are the broadcast sides). Replay-
    * idempotent like [[fold]] (state reads exclude `batchId`, the delta
    * write is a dynamic partition overwrite).
    * Claim `batchId` with [[nextBatchId]] — between stream epochs it
    * lands in the [[StreamBatchStride]] gap. Pair with
    * [[DedupIndex.delete]] on the corpus index: this call updates
    * cluster STATE, the tombstone updates what future folds judge
    * against. */
  def withdraw(spark: SparkSession, base: String, ids: DataFrame,
               batchId: Long): Unit = {
    heal(spark, base)
    // A pre-edge-persistence index has memberships but no edge state —
    // relabeling against a phantom-empty edge set would silently split
    // every touched cluster into singletons. Refuse loudly instead.
    require(!DeltaChains.exists(spark, base, "members")
        || DeltaChains.exists(spark, base, "edges"),
      s"$base: cluster index predates edge persistence — withdraw would " +
        "re-label against an empty edge set and split every touched " +
        "cluster; rebuild the index (re-fold its batches) first")
    // the two chains are independent standing state (members vs edges):
    // their latest-wins reads overlap (§2.6). The edge read is wasted
    // only when every requested id is untracked (the early return below)
    // — takedowns target tracked ids in practice, and the read is
    // side-effect-free either way.
    val Seq(cur, e) = graft.exec.Concurrent.labeled[DataFrame](Seq(
      "cluster: members read" -> (() =>
        current(spark, base, excludeBatchId = batchId).localCheckpoint()),
      "cluster: edges read" -> (() =>
        liveEdges(spark, base, excludeBatchId = batchId)
          .localCheckpoint()))) // two consumers: retraction + CC restrict
    @volatile var relabel: DataFrame = null
    try {
      // takedowns are request-driven: delta-sized, so the request side
      // is the broadcast one and `cur` streams once, unshuffled
      val w = cur.join(broadcast(
          ids.select(col(ids.columns.head).cast(LongType).as("id"))),
          Seq("id"), "left_semi")
        .select(col("id")).localCheckpoint()
      try {
        // every requested id is an implicit singleton: nothing to
        // retract or re-label — skip the re-label work entirely
        if (w.isEmpty) return
        val touched = cur.join(broadcast(w), Seq("id"), "left_semi")
          .select(col("cid"))
        val members = cur.join(broadcast(touched), Seq("cid"), "left_semi")
        val survivors = members.join(broadcast(w), Seq("id"), "left_anti")
          .select(col("id"))
        val retract = e.join(broadcast(w.select(col("id").as("a"))),
            Seq("a"), "left_semi")
          .unionByName(e.join(broadcast(w.select(col("id").as("b"))),
            Seq("b"), "left_semi"))
          .distinct() // both-endpoints-withdrawn edges arrive twice
        // surviving edges of the touched components: both endpoints
        // survive (edges never cross components, so restricting to
        // survivor endpoints IS the touched-component restriction)
        val ccEdges = e
          .join(broadcast(survivors.select(col("id").as("a"))), Seq("a"),
            "left_semi")
          .join(broadcast(survivors.select(col("id").as("b"))), Seq("b"),
            "left_semi")
        // EDGE RETRACTIONS STRICTLY BEFORE THE MEMBERSHIP DELTA: a crash
        // between the two writes followed by a re-run under a FRESH
        // batch id (the documented id-claim procedure) still finds the
        // withdrawn ids in `current` (the membership delta is the second
        // write), so the re-run recomputes and completes — whereas
        // membership-first would leave the re-run seeing `w` empty and
        // no-op, with stale alive=true edges incident to retracted nodes
        // that a LATER withdraw of the same component would count as
        // surviving connectivity. (Same-batch-id replays were always
        // safe either way: excludeBatchId hides the first attempt.)
        // The survivor re-labeling (the union-find kernel over the
        // touched components) only READS the checkpointed chains, so it
        // overlaps the retraction write (§2.6); the membership delta
        // lands after both settle.
        graft.exec.Concurrent.labeled[Unit](Seq(
          "cluster: edge retractions" -> (() =>
            DeltaChains.write(base, "edges", batchId,
              retract.withColumn("alive", lit(false)))),
          "cluster: survivor cc" -> (() =>
            relabel = unionFind(kernelRows(Node, survivors, "id", "id")
              .unionAll(kernelRows(Link, ccEdges, "a", "b"))))))
        DeltaChains.write(base, "members", batchId,
          relabel.select(col("id"), col("cid"))
            .unionByName(
              w.select(col("id"), lit(RetractedCid).as("cid"))))
      } finally {
        if (relabel != null)
          graft.exec.Partitioning.unpersistCheckpoint(relabel)
        graft.exec.Partitioning.unpersistCheckpoint(w)
      }
    } finally {
      graft.exec.Partitioning.unpersistCheckpoint(e)
      graft.exec.Partitioning.unpersistCheckpoint(cur)
    }
  }

  /** Takedown-SLO watermark: ids whose LATEST membership is the
    * retraction sentinel — withdrawn, with the sentinel not yet folded
    * away by a compaction. Cost bounded by the TRACKED membership
    * chains (duplicate-involved nodes), never the corpus. */
  def retractedLive(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.read(spark, base, "members", membersSchema)
      .groupBy("id").agg(max_by(col("cid"), col("batch_id")).as("cid"))
      .filter(col("cid") === lit(RetractedCid)).count()
  }

  /** Live delta partitions in the members chain — pure directory
    * listing (driver metadata, no row reads). 1 right after a
    * compaction; each fold/withdraw adds one. */
  def pendingBatches(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.batchIds(spark, base, "members").size.toLong
  }

  /** Erasure-LAG watermark (batch units): how many delta batches have
    * landed since the OLDEST still-live retraction sentinel — the
    * "how long has the oldest tombstone been outstanding" a production
    * erasure SLO tracks alongside [[retractedLive]]'s "is it durable".
    * 0 when nothing is outstanding, or when the newest batch IS the
    * retraction. Cost: one latest-wins pass over the tracked membership
    * chains (the [[retractedLive]] read, duplicate-involved ids only)
    * plus a directory listing — never a corpus scan. */
  def tombBatchLag(spark: SparkSession, base: String): Long = {
    heal(spark, base)
    DeltaChains.tombBatchLag(spark, base, Seq("members"),
      oldestSentinelBatch(spark, base))
  }

  /** Wall-clock twin of [[tombBatchLag]]: ms since the delta batch
    * holding the oldest still-live retraction sentinel landed (its
    * partition dir's mtime), None when nothing is outstanding.
    * Clock-dependent, so an operator API — not part of any
    * oracle-gated frame. */
  def oldestTombstoneAgeMs(spark: SparkSession,
                           base: String): Option[Long] = {
    heal(spark, base)
    DeltaChains.tombstoneAgeMs(spark, base, "members",
      oldestSentinelBatch(spark, base))
  }

  /** Batch id of the oldest still-live retraction sentinel (the
    * latest-wins pass bounded by tracked membership chains). */
  private def oldestSentinelBatch(spark: SparkSession,
                                  base: String): Option[Long] = {
    val oldest = DeltaChains.read(spark, base, "members", membersSchema)
      .groupBy("id").agg(max_by(col("cid"), col("batch_id")).as("cid"),
        max(col("batch_id")).as("b"))
      .filter(col("cid") === lit(RetractedCid))
      .agg(min(col("b"))).head
    if (oldest.isNullAt(0)) None else Some(oldest.getLong(0))
  }

  /** Cluster sizes for the live state — the observability probe: one
    * row per cluster with its member count (implicit singletons hold
    * no row here, exactly as they hold no membership row). */
  def stats(spark: SparkSession, base: String): DataFrame =
    current(spark, base).groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"))

  // ------------------------------------------------------ union-find kernel

  // Kernel row kinds (column `kind`; `a` and `b` are never NULL):
  private final val Link = 0  // union a and b; emits nothing
  private final val Node = 1  // a needs a label (b = a): emits
                              // (a, label(a), moved = false) unless a is Known
  private final val Known = 2 // tracked id a, asserted at cid b: union a and
                              // b; emits (b, label(b), moved = true) once if
                              // label(b) != b

  private val kernelOut = StructType(Seq(
    StructField("id", LongType), StructField("cid", LongType),
    StructField("moved", BooleanType)))

  private def kernelRows(kind: Int, df: DataFrame, a: String,
                         b: String): DataFrame =
    df.select(lit(kind).as("kind"), col(a).as("a"), col(b).as("b"))

  /** Union-find over `rows` (see the row kinds above) in ONE task:
    * `coalesce(1)` + `mapPartitions`, no shuffle, no driver-side rows.
    * Ids map to dense indices by binary search over their sorted distinct
    * array, so index order is id order; union hangs the larger root under
    * the smaller and find halves the path it walks, so every root is its
    * component's min id — the [[Dedup.clusters]] label. All state is
    * primitive arrays sized by the input rows. Materialized once
    * (localCheckpoint); the caller unpersists it. */
  private def unionFind(rows: DataFrame): DataFrame =
    rows.coalesce(1).mapPartitions { it =>
      val kb = new mutable.ArrayBuilder.ofInt
      val ab = new mutable.ArrayBuilder.ofLong
      val bb = new mutable.ArrayBuilder.ofLong
      it.foreach { r => kb += r.getInt(0); ab += r.getLong(1); bb += r.getLong(2) }
      val (kind, a, b) = (kb.result(), ab.result(), bb.result())
      val ids = {
        val all = a ++ b
        java.util.Arrays.sort(all)
        var n = 0
        for (x <- all) if (n == 0 || all(n - 1) != x) { all(n) = x; n += 1 }
        java.util.Arrays.copyOf(all, n)
      }
      val ia = a.map(java.util.Arrays.binarySearch(ids, _))
      val ib = b.map(java.util.Arrays.binarySearch(ids, _))
      val parent = Array.range(0, ids.length)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      for (i <- kind.indices) {
        val ra = find(ia(i)); val rb = find(ib(i))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val known = new Array[Boolean](ids.length)
      for (i <- kind.indices if kind(i) == Known) known(ia(i)) = true
      val emitted = new Array[Boolean](ids.length)
      kind.indices.iterator.flatMap { i =>
        val x = if (kind(i) == Known) ib(i) else ia(i)
        val r = find(x)
        val emit = kind(i) match {
          case Node => !known(x)
          case Known => r != x
          case _ => false
        }
        if (!emit || emitted(x)) None
        else { emitted(x) = true; Some(Row(ids(x), ids(r), kind(i) == Known)) }
      }
    }(Encoders.row(kernelOut)).localCheckpoint()

  // ------------------------------------------------------------- compaction

  /** Roll an interrupted compaction forward (commit marker present) or
    * back (only the start marker) — [[DeltaChains.heal]]; no dir is
    * retired whole (retractions live in the chains). */
  def heal(spark: SparkSession, base: String): Unit =
    DeltaChains.heal(spark, base, Chains, retire = Nil)

  /** Fold both assertion chains to one consolidated batch (latest-wins
    * resolved once, then a single partition each): live memberships
    * only — [[RetractedCid]] rows retire physically here — and live
    * edges only (retracted edges drop with them). Crash-safe via the
    * [[DeltaChains.commit]] window (the commit marker rolls BOTH dirs
    * forward, the start marker rolls both back); returns the
    * consolidated batch id — resume folding with batch ids above it. */
  def compact(spark: SparkSession, base: String): Long = {
    val c = nextBatchId(spark, base) // heals on entry
    // A trackEdges=false index holds NO edges dir — and compacting must
    // keep it that way: an (empty) consolidated edges write would
    // create `$base/edges` with _SUCCESS, [[withdraw]]'s
    // directory-existence guard would then pass, and a withdrawal
    // would silently re-label against the phantom-empty edge set
    // (splitting every touched cluster into singletons) instead of
    // refusing loudly. Edge state exists after compact IFF it existed
    // before.
    val edgesTracked = DeltaChains.exists(spark, base, "edges")
    // the membership and edge latest-wins folds are independent reads of
    // the two chains — materialized concurrently (§2.6)
    val Seq(Some(folded), foldedEdges) =
      graft.exec.Concurrent.labeled[Option[org.apache.spark.sql.DataFrame]](Seq(
        "cluster: members fold" -> (() =>
          Some(current(spark, base).localCheckpoint())),
        "cluster: edges fold" -> (() =>
          if (edgesTracked)
            Some(liveEdges(spark, base)
              .withColumn("alive", lit(true)).localCheckpoint())
          else None)))
    try {
      // both snapshot writes happen strictly inside the marker window —
      // heal rolls batch c forward/back in BOTH dirs regardless of which
      // write finished first, so the two (distinct-dir) writes overlap
      // (§2.6) without changing any crash outcome
      DeltaChains.commit(spark, base, c, Chains, retire = Nil) {
        graft.exec.Concurrent.labeled[Unit](Seq(
          "cluster: members snapshot" -> (() =>
            DeltaChains.write(base, "members", c, folded)),
          "cluster: edges snapshot" -> (() =>
            foldedEdges.foreach(DeltaChains.write(base, "edges", c, _)))))
      }
    } finally {
      graft.exec.Partitioning.unpersistCheckpoint(folded)
      foldedEdges.foreach(graft.exec.Partitioning.unpersistCheckpoint)
    }
    c
  }
}
