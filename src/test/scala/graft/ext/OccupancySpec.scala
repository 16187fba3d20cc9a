package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The drift machinery's running-occupancy sidecar: the advisory
  * [[SimilarityIndex.needsRetrain]] check must read two sidecars, not
  * scan the corpus — and its decision must equal the decision a full
  * scan would make, at every step of a drifted append stream. */
class OccupancySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTest.spark

  private val base = "t_occ_idx"
  private def cells = SimilarityIndex.cellsTable(base)

  private def parseStats(name: String): Seq[(Long, Long)] =
    new String(BucketedTables.readSidecar(spark, cells, name), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { l => val p = l.split(" "); (p(0).toLong, p(1).toLong) }

  private def maxShare(counts: Seq[(Long, Long)]): Double =
    counts.map(_._2).max / math.max(counts.map(_._2).sum.toDouble, 1.0)

  /** The decision a CORPUS SCAN would make — the path the sidecar
    * replaced; recomputed here independently so the two can be diffed. */
  private def scanDecision(factor: Double = 2.0): Boolean = {
    val cur = spark.read.parquet(
        BucketedTables.location(spark, cells).toString)
      .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    maxShare(cur) >= factor * maxShare(parseStats("_cellstats"))
  }

  private def dropIndex(): Unit =
    for (t <- Seq(s"$cells", s"${cells}__next", s"${base}_tombs",
        s"${base}_tombs__next"))
      spark.sql(s"DROP TABLE IF EXISTS $t")

  test("needsRetrain is sidecar-driven: ZERO Spark jobs per check, and " +
       "its decision equals the scanning decision across a drifted stream") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    SimilarityIndex.write(e, "embedding", "vec_id", base,
      k = 4, iters = 1, buckets = 4)
    try {
      // the occupancy sidecar seeds equal to the baseline at build
      assert(parseStats("_occupancy") == parseStats("_cellstats"))
      // drifted stream: four appends, each piling more copies of one
      // vector into its cell — the decision must match the scan's at
      // EVERY step (including the steps where both say "not yet")
      var flipped = false
      for (step <- 1 to 4) {
        val drift = spark.range(n * step)
          .select((col("id") + 100000L * step).as("vec_id"))
          .crossJoin(broadcast(
            e.filter(col("vec_id") === 0).select(col("embedding"))))
        SimilarityIndex.append(spark, base, drift)
        // occupancy sidecar total tracks the physical rows exactly
        assert(parseStats("_occupancy").map(_._2).sum ==
          spark.read.parquet(
            BucketedTables.location(spark, cells).toString).count())
        val sc = spark.sparkContext
        sc.setJobGroup(s"drift_check_$step",
          "needsRetrain must not scan", false)
        val decided =
          try SimilarityIndex.needsRetrain(spark, base)
          finally sc.clearJobGroup()
        assert(sc.statusTracker.getJobIdsForGroup(s"drift_check_$step").isEmpty,
          s"step $step: needsRetrain ran Spark jobs — the advisory " +
            "check must not cost a corpus scan")
        assert(decided == scanDecision(),
          s"step $step: sidecar decision $decided != scanning decision")
        flipped ||= decided
      }
      assert(flipped, "the drifted stream never tripped the trigger — " +
        "the test exercised nothing")
      // compaction re-bases the occupancy exactly from the folded
      // snapshot, and the decision still matches the scan
      SimilarityIndex.compact(spark, base)
      assert(parseStats("_occupancy").map(_._2).sum ==
        spark.read.parquet(
          BucketedTables.location(spark, cells).toString).count())
      assert(SimilarityIndex.needsRetrain(spark, base) == scanDecision())
    } finally dropIndex()
  }

  test("a legacy index (no sidecars) reports loudly; migrate synthesizes " +
       "a RE-BASED baseline and drift tracking works from there") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    SimilarityIndex.write(e, "embedding", "vec_id", base,
      k = 4, iters = 1, buckets = 4)
    try {
      // simulate a crash between the build commit and its post-commit
      // sidecar writes: both advisory sidecars gone
      val dir = new java.io.File(
        new java.net.URI(BucketedTables.location(spark, cells).toString))
      assert(new java.io.File(dir, "_cellstats").delete())
      assert(new java.io.File(dir, "_occupancy").delete())
      val err = intercept[IllegalArgumentException](
        SimilarityIndex.needsRetrain(spark, base))
      assert(err.getMessage.contains("migrate()"),
        s"the loud failure must name the fix: ${err.getMessage}")
      // migrate synthesizes both sidecars from the current occupancy
      SimilarityIndex.migrate(spark, base)
      assert(parseStats("_cellstats") == parseStats("_occupancy"))
      // re-based: balanced relative to NOW, so no drift yet...
      assert(!SimilarityIndex.needsRetrain(spark, base))
      // ...and drift SINCE the migration point is detected
      val drift = spark.range(4 * n)
        .select((col("id") + 500000L).as("vec_id"))
        .crossJoin(broadcast(
          e.filter(col("vec_id") === 0).select(col("embedding"))))
      SimilarityIndex.append(spark, base, drift)
      assert(SimilarityIndex.needsRetrain(spark, base))
      // migrate with both sidecars present is a no-op (baseline
      // untouched)
      val baseBefore = parseStats("_cellstats")
      SimilarityIndex.migrate(spark, base)
      assert(parseStats("_cellstats") == baseBefore)
    } finally dropIndex()
  }

  test("compactPartial FOLDS the occupancy (no corpus scan) and the " +
       "folded sidecar equals the physical per-cell counts") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e.filter(col("vec_id") < 400),
      "embedding", "vec_id", base, k = 4, iters = 1, buckets = 4)
    try {
      SimilarityIndex.append(spark, base, e.filter(col("vec_id") >= 400))
      SimilarityIndex.delete(spark, base,
        e.select(col("vec_id")).orderBy("vec_id").limit(3))
      SimilarityIndex.compactPartial(spark, base)
      // folded occupancy == the counts a scan of the new snapshot finds
      val physical = spark.read.parquet(
          BucketedTables.location(spark, cells).toString)
        .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(parseStats("_occupancy").sortBy(_._1) == physical)
      // quantizer + baseline sidecars carried through the swap
      assert(parseStats("_cellstats").nonEmpty)
      assert(BucketedTables.sidecarExists(spark, cells, "_quantizer"))
      // and the drift decision still equals the scanning decision
      assert(SimilarityIndex.needsRetrain(spark, base) == scanDecision())
    } finally dropIndex()
  }

  test("a missing occupancy sidecar alone (append-crash window) " +
       "self-heals with ONE establishing scan") {
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", base,
      k = 4, iters = 1, buckets = 4)
    try {
      val dir = new java.io.File(
        new java.net.URI(BucketedTables.location(spark, cells).toString))
      assert(new java.io.File(dir, "_occupancy").delete())
      // first check scans once (to establish), writes the sidecar back
      assert(!SimilarityIndex.needsRetrain(spark, base))
      assert(new java.io.File(dir, "_occupancy").exists(),
        "the establishing scan must persist the sidecar")
      // second check is sidecar-driven again: zero jobs
      val sc = spark.sparkContext
      sc.setJobGroup("drift_heal_check", "post-heal check must not scan", false)
      try assert(!SimilarityIndex.needsRetrain(spark, base))
      finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup("drift_heal_check").isEmpty)
    } finally dropIndex()
  }
}
