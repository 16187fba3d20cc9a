package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IO

class IOSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("partitioned write prunes directories and round-trips") {
    val dir = Files.createTempDirectory("graft_io").toString
    val df = Tables(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("yr", year(col("o_orderdate")))
    IO.writePartitioned(df, s"$dir/orders", Seq("yr"), sortCols = Seq("o_orderkey"))
    assert(new java.io.File(s"$dir/orders").listFiles().exists(_.getName.startsWith("yr=")))
    val back = spark.read.parquet(s"$dir/orders").filter(col("yr") === 1996)
    val expected = df.filter(col("yr") === 1996).count()
    assert(back.count() == expected && expected > 0)
    // partition pruning visible in the plan
    val scan = back.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters"))
  }

  test("zorder write keeps per-file spans narrow in BOTH dimensions") {
    val dir = Files.createTempDirectory("graft_z").toString
    val df = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
    // scale both dimensions to the same 7-bit domain first — interleave
    // treats bit levels as equally significant, so unequal domains would
    // let the wide column (partkey, 11 bits) dominate the key
    IO.writeZordered(df, s"$dir/li",
      Seq(expr("l_partkey * 128 div 2000"), col("l_suppkey")),
      bits = 7, numFiles = 16)
    val files = new java.io.File(s"$dir/li").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 4, s"expected many files, got ${files.length}")
    def spans(colName: String): Seq[(Long, Long)] = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col(colName)).cast("long"), max(col(colName)).cast("long"))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    val global = df.agg(min(col("l_partkey")).cast("long"),
      max(col("l_partkey")).cast("long"),
      min(col("l_suppkey")).cast("long"),
      max(col("l_suppkey")).cast("long")).collect().head
    val pkRange = (global.getLong(1) - global.getLong(0)).toDouble
    val skRange = (global.getLong(3) - global.getLong(2)).toDouble
    val pkAvg = spans("l_partkey").map(s => s._2 - s._1).sum.toDouble / files.length
    val skAvg = spans("l_suppkey").map(s => s._2 - s._1).sum.toDouble / files.length
    // a single-column sort gives ~full range on the OTHER column; the
    // interleave must keep both well under it
    assert(pkAvg < 0.6 * pkRange, s"partkey span $pkAvg vs range $pkRange")
    assert(skAvg < 0.6 * skRange, s"suppkey span $skAvg vs range $skRange")
    // zorderKey masks to the requested bits and interleaves exactly
    val k = df.sparkSession.range(1).select(
      IO.zorderKey(Seq(lit(5L), lit(3L)), 4).as("z")).collect().head.getLong(0)
    // x=0101, y=0011, y_i at odd positions: bits 0,1,3,4 set -> 27
    assert(k == 27L)
  }

  test("identically bucketed tables join with zero shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a crashed prior run can leave the managed location behind without a
    // catalog entry; clear it or CTAS refuses
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    val c = Tables(spark, "/root/testdata/sf0.001", "customer")
    IO.writeBucketed(o.select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", Seq("o_custkey"), 4)
    IO.writeBucketed(c.select(col("c_custkey").as("o_custkey"), col("c_name")),
      "b_customer", Seq("o_custkey"), 4)
    // force a non-broadcast join so the bucketed co-location is what
    // eliminates the shuffle (broadcast would mask it on tiny fixtures)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should be bucketed:\n$plan")
      assert(joined.count() == o.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("json/csv sources round-trip with enforced schemas; bad json quarantined") {
    val dir = Files.createTempDirectory("graft_src").toString
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    orders.write.json(s"$dir/j")
    orders.write.option("header", "true").csv(s"$dir/c")
    val schema = orders.schema
    assert(IO.readJson(spark, s"$dir/j", schema).drop("_corrupt").count() == orders.count())
    assert(IO.readCsv(spark, s"$dir/c", schema).count() == orders.count())
    // corrupt line lands in _corrupt, not an exception
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/j/zzz_bad.json"), "{not valid json\n")
    // Spark refuses corrupt-column-only queries on the raw scan; cache the
    // parsed batch first (the documented pattern)
    val withBad = IO.readJson(spark, s"$dir/j", schema).cache()
    try {
      assert(withBad.filter(col("_corrupt").isNotNull).count() == 1)
      assert(withBad.count() == orders.count() + 1)
    } finally withBad.unpersist()
  }

  test("schema evolution: merged read unions fields, old files yield NULLs") {
    val dir = Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30.0)).toDF("k", "v", "score")
      .write.mode("append").parquet(dir)
    val merged = IO.readTableEvolved(spark, dir)
    assert(merged.columns.toSet == Set("k", "v", "score"))
    val rows = merged.orderBy("k")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.0))))
  }

  test("upsert: updates win, new keys appended, untouched rows survive") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (3L, "c")).toDF("k", "v")
    val r = IO.upsert(existing, updates, Seq("k")).as[(Long, String)].collect().toSet
    assert(r == Set((1L, "a"), (2L, "B2"), (3L, "c")))
    val ins = IO.insertNew(existing, updates, Seq("k")).as[(Long, String)].collect().toSet
    assert(ins == Set((3L, "c")))
  }

  test("orc source round-trips with enforced schema") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    IO.writeOrc(orders, s"$dir/o")
    val back = IO.readOrc(spark, s"$dir/o", orders.schema)
    assert(back.count() == orders.count())
    assert(back.schema == orders.schema)
  }

  test("dedup index: verdicts match the non-indexed path; corpus side " +
       "joins from bucket files with no exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.ext.{Dedup, DedupIndex}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_dedup_idx",
      threshold = 0.5, buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: the bucket partitioning must be what spares the
      // corpus side its exchange, not a tiny-fixture broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val verdicts = DedupIndex.dedupIncremental(spark, "t_dedup_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)
      // Plan assertions run on the INITIAL (pre-execution) plan: AQE's
      // runtime empty-relation propagation can legitimately ELIMINATE an
      // index scan whose rule matched nothing at this fixture size, which
      // would undercount the bucketed scans below.
      def initialPlan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      // every index scan must feed its join directly — an exchange may
      // shuffle DELTA artifacts or join OUTPUTS (pair distinct), but never
      // sit between an index bucket scan and its first join
      def leavesAboveJoins(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BaseJoinExec => Nil
        case l if l.children.isEmpty => Seq(l)
        case o => o.children.flatMap(leavesAboveJoins)
      }
      for (mode <- Seq("prefix", "lsh")) {
        val root = initialPlan(DedupIndex.dedupIncremental(spark,
          "t_dedup_idx", delta, "text", "doc_id", "lang", threshold = 0.5,
          candidates = mode))
        val shuffledIndexScans = root.collect { case e: ShuffleExchangeExec =>
          leavesAboveJoins(e.child)
            .filter(_.toString.contains("graft_dedup_index"))
        }.flatten
        assert(shuffledIndexScans.isEmpty,
          s"[$mode] index scans under an exchange:\n$root")
        val planStr = root.toString()
        assert("Bucketed: true".r.findAllIn(planStr).length >= 3,
          s"[$mode] all three index scans should be bucketed:\n$planStr")
      }
      // exactness: identical verdicts to the recompute-everything path
      val expected = Dedup.dedupIncremental(corpus, delta, "text", "doc_id",
        "lang", threshold = 0.5)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.getString(2)))).toSet
      assert(rows(verdicts) == rows(expected))
      assert(verdicts.count() == delta.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index compaction folds appended files back and preserves verdicts") {
    import graft.ext.{BucketedTables, DedupIndex}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_compact_idx",
      threshold = 0.5, buckets = 4)
    // two appends, the second a replay duplicate of the first
    val extra = Seq((90001L, "en", "compaction test unique words here indeed"))
      .toDF("doc_id", "lang", "text")
    val keepAll = extra.select(col("doc_id"), lit(true).as("keep"),
      lit(null).cast("string").as("reason"))
    DedupIndex.appendKept(spark, "t_compact_idx", extra, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 7L)
    DedupIndex.appendKept(spark, "t_compact_idx", extra, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 7L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getString(2)))).toSet
    val before = rows(DedupIndex.dedupIncremental(spark, "t_compact_idx",
      delta, "text", "doc_id", "lang", threshold = 0.5))
    // file counts resolve the table's CURRENT snapshot dir from the catalog
    def loc(tbl: String) = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location.getPath)
    def files(tbl: String) =
      loc(tbl).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("t_compact_idx_sh") > 4, "appends should add files per bucket")

    // 1) the compaction plan is SHUFFLE-FREE: forced bucketed scan, local
    // sort, adjacent dedup — no exchange between scan and write
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevScan = spark.conf.get(confKey)
    val crashSafeLoc = loc("t_compact_idx_sh")
    try {
      spark.conf.set(confKey, "false")
      val frame = BucketedTables.compactionFrame(spark, "t_compact_idx_sh")
      val plan = frame.queryExecution.executedPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"compaction must not shuffle the table:\n$plan")
      assert(plan.toString.contains("Bucketed: true"),
        s"compaction must read bucket-aligned partitions:\n$plan")

      // 2) a compaction that dies AFTER the snapshot write but BEFORE the
      // location swap leaves probes reading the old snapshot
      BucketedTables.writeSnapshot(spark, "t_compact_idx_sh", Seq("id"), frame)
      assert(loc("t_compact_idx_sh").getAbsolutePath == crashSafeLoc.getAbsolutePath,
        "an unpublished snapshot must not move the live table")
      val midCrash = rows(DedupIndex.dedupIncremental(spark, "t_compact_idx",
        delta, "text", "doc_id", "lang", threshold = 0.5))
      assert(midCrash == before, "probes must be unaffected by a dead snapshot")
    } finally spark.conf.set(confKey, prevScan)

    // 3) the real compaction: folds files, drops replay duplicates,
    // preserves verdicts and the bucket spec
    DedupIndex.compact(spark, "t_compact_idx")
    assert(loc("t_compact_idx_sh").getAbsolutePath != crashSafeLoc.getAbsolutePath,
      "published compaction must repoint the table")
    assert(files("t_compact_idx_sh") <= 4,
      "compaction should fold each bucket to one file")
    // replay-duplicate rows are gone; verdicts identical
    val shRows = spark.table("t_compact_idx_sh")
    assert(shRows.count() == shRows.distinct().count())
    val after = rows(DedupIndex.dedupIncremental(spark, "t_compact_idx",
      delta, "text", "doc_id", "lang", threshold = 0.5))
    assert(after == before)
    // bucketed spec survives the rewrite
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = DedupIndex.dedupIncremental(spark, "t_compact_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("Bucketed: true"), s"compacted scan not bucketed:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ANN index stats expose bucket co-residency; a drifted append " +
       "flips needsRetrain; a rebuild resets the baseline and more " +
       "buckets restore the probe bound") {
    import graft.ext.SimilarityIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    SimilarityIndex.write(e, "embedding", "vec_id", "t_stats_idx",
      k = 4, iters = 1, buckets = 4)
    val s0 = SimilarityIndex.stats(spark, "t_stats_idx").collect()
    // occupancy is exact and internally consistent
    assert(s0.map(_.getAs[Long]("n_rows")).sum == n)
    assert(math.abs(s0.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    val byBucket = s0.groupBy(_.getAs[Int]("bucket"))
    for (r <- s0) {
      val mates = byBucket(r.getAs[Int]("bucket"))
      assert(r.getAs[Long]("bucket_rows") ==
        mates.map(_.getAs[Long]("n_rows")).sum)
      assert(r.getAs[Long]("cells_in_bucket") == mates.length)
      assert(r.getAs[Double]("probe_amplification") >= 1.0)
    }
    assert(SimilarityIndex.probeIoUpperBound(spark, "t_stats_idx", 1) ==
      s0.map(_.getAs[Long]("bucket_rows")).max)
    // fresh build: occupancy IS the baseline, no drift
    assert(!SimilarityIndex.needsRetrain(spark, "t_stats_idx"))
    // drifted append stream: 3x the corpus, all copies of one vector —
    // they all land in one cell under the STORED quantizer
    val drift = spark.range(3 * n)
      .select((col("id") + 100000L).as("vec_id"))
      .crossJoin(broadcast(e.filter(col("vec_id") === 0).select(col("embedding"))))
    SimilarityIndex.append(spark, "t_stats_idx", drift)
    val s1 = SimilarityIndex.stats(spark, "t_stats_idx").collect()
    val hotShare = s1.map(_.getAs[Double]("share")).max
    assert(hotShare > 0.7, s"drift did not concentrate: $hotShare")
    assert(SimilarityIndex.needsRetrain(spark, "t_stats_idx"),
      "a 3x single-cell drift must flip the advisory retrain predicate")
    // the hot cell's probe cost is measurable, not silent: the upper
    // bound now carries the drifted mass
    assert(SimilarityIndex.probeIoUpperBound(spark, "t_stats_idx", 1) >= 3 * n)
    // rebuild = retrain on the drifted corpus: the baseline resets, so
    // the predicate clears even though the DATA is genuinely skewed
    // (needsRetrain measures drift SINCE build, not imbalance)
    val grown = e.select(col("vec_id"), col("embedding"))
      .unionByName(drift.select(col("vec_id"), col("embedding")))
    // pick a bucket count that hashes the k cells collision-free (the
    // hash layout is deterministic, so this is a fixed small search)
    val cells0 = s1.map(_.getAs[Long]("cell")).distinct.toSeq
    val cellHash = cells0.map(c =>
      c -> spark.range(1).select(hash(lit(c))).head.getInt(0)).toMap
    def bucketOf(c: Long, b: Int) = {
      val m = cellHash(c) % b; if (m < 0) m + b else m
    }
    // bucket counts need not be powers of two; the fixture's cell ids
    // happen to collide mod every power of two up to 64
    val buckets = (8 to 200).find { b =>
      val ids = cells0.map(bucketOf(_, b))
      ids.distinct.length == ids.length
    }.get
    SimilarityIndex.write(grown, "embedding", "vec_id", "t_stats_idx",
      k = 4, iters = 1, buckets = buckets)
    assert(!SimilarityIndex.needsRetrain(spark, "t_stats_idx"),
      "rebuild must reset the drift baseline")
    // with collision-free buckets every cell owns its bucket: the
    // documented probe bound tightens back to the probed CELL's rows
    val s2 = SimilarityIndex.stats(spark, "t_stats_idx").collect()
    for (r <- s2)
      assert(r.getAs[Double]("probe_amplification") == 1.0,
        s"cell ${r.getAs[Long]("cell")} shares bucket ${r.getAs[Int]("bucket")}")
    assert(SimilarityIndex.probeIoUpperBound(spark, "t_stats_idx", 1) ==
      s2.map(_.getAs[Long]("n_rows")).max)
  }

  test("standing ANN index: probes bucket-prune to probed cells; results == ad-hoc IVF") {
    import graft.ext.{Similarity, SimilarityIndex}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_ann_idx",
      k = 4, iters = 1, buckets = 4)
    // one query at nprobe=1 probes exactly one cell — the scan must
    // read ONLY that cell's bucket, not the whole corpus table (the
    // plan STRING truncates scan metadata, so read it off the node)
    val one = SimilarityIndex.topK(spark, "t_ann_idx",
      e.filter(col("vec_id") === 0), k = 3, nprobe = 1)
    val root = one.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val cellScans = root.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "t_ann_idx_cells") => f
    }
    assert(cellScans.nonEmpty, "cells table scan missing from plan")
    val selected = cellScans.head.metadata.get("SelectedBucketsCount")
    assert(selected.contains("1 out of 4"),
      s"probe should read exactly the probed bucket: $selected")
    // exactness: the index-backed search equals the ad-hoc trained IVF
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val (cids, cents) = Similarity.kmeansCentroids(e, "embedding", "vec_id",
      k = 4, iters = 1)
    val expect = rows(Similarity.ivfTopKWith(e, q, cids.zip(cents),
      k = 3, nprobe = 2))
    val got = rows(SimilarityIndex.topK(spark, "t_ann_idx", q,
      k = 3, nprobe = 2))
    assert(got == expect && got.nonEmpty)
    // the quantizer rides in the snapshot dir: a snapshot without it
    // (the fresh-create crash window) must fail LOUDLY, never probe
    // with a stale or missing quantizer
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_ann_idx_cells"))
      .location.getPath, "_quantizer")
    assert(loc.isFile)
    val backup = java.nio.file.Files.readAllBytes(loc.toPath)
    loc.delete()
    val e1 = intercept[IllegalArgumentException](
      SimilarityIndex.topK(spark, "t_ann_idx", q, k = 3, nprobe = 2))
    assert(e1.getMessage.contains("sidecar"))
    // ...and a TRUNCATED sidecar must fail its length/checksum frame
    // loudly rather than decode into a silently-wrong quantizer
    java.nio.file.Files.write(loc.toPath, backup.take(backup.length / 2))
    val e2 = intercept[IllegalArgumentException](
      SimilarityIndex.topK(spark, "t_ann_idx", q, k = 3, nprobe = 2))
    assert(e2.getMessage.contains("checksum"))
    java.nio.file.Files.write(loc.toPath, backup)
    // continuous ingestion: appended vectors are assigned with the
    // STORED quantizer and immediately searchable — equal to a search
    // over the ad-hoc assignment of the grown corpus
    val extra = e.filter(col("vec_id") >= 490)
      .withColumn("vec_id", col("vec_id") + 10000)
    SimilarityIndex.append(spark, "t_ann_idx", extra)
    val grown = rows(SimilarityIndex.topK(spark, "t_ann_idx", q,
      k = 3, nprobe = 2))
    val grownExpect = rows(Similarity.ivfTopKWith(
      e.unionByName(extra), q, cids.zip(cents), k = 3, nprobe = 2))
    assert(grown == grownExpect)
    // an appended EXACT copy (vec 10490 == vec 490) shares its
    // original's cell under the stored quantizer, so the original's
    // probe must surface it at cosine ~1
    val probe490 = SimilarityIndex.topK(spark, "t_ann_idx",
        e.filter(col("vec_id") === 490), k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(probe490.exists { case (cand, sim) =>
      cand == 10490L && sim > 0.999999 },
      s"appended copy not found: ${probe490.mkString(",")}")
    // a REPLAYED append leaves exact-duplicate rows and extra files per
    // bucket; compaction folds each bucket back to one file, drops the
    // duplicates, carries the quantizer into the new snapshot, and
    // changes no probe result
    SimilarityIndex.append(spark, "t_ann_idx", extra)
    // duplicate rows must not distort results even BEFORE compaction:
    // the probe dedups its probed slice, so a duplicate occupies ONE
    // candidate slot instead of two of the k
    assert(rows(SimilarityIndex.topK(spark, "t_ann_idx", q, k = 3, nprobe = 2))
      == grownExpect)
    def cellsLoc() = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_ann_idx_cells"))
      .location.getPath)
    def dataFiles() = cellsLoc().listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    val filesBefore = dataFiles()
    SimilarityIndex.compact(spark, "t_ann_idx")
    assert(dataFiles() <= 4 && dataFiles() < filesBefore,
      s"compaction did not merge files: $filesBefore -> ${dataFiles()}")
    val cells = spark.table("t_ann_idx_cells")
    assert(cells.count() == cells.distinct().count())
    assert(rows(SimilarityIndex.topK(spark, "t_ann_idx", q, k = 3, nprobe = 2))
      == grownExpect)
    // quantizer survived the snapshot swap bit-identical (framing is
    // deterministic, so the whole file round-trips byte-equal)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(
        new java.io.File(cellsLoc(), "_quantizer").toPath), backup))
    // bucket pruning still holds on the compacted snapshot
    val one2 = SimilarityIndex.topK(spark, "t_ann_idx",
      e.filter(col("vec_id") === 0), k = 3, nprobe = 1)
    val root2 = one2.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val sel2 = root2.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "t_ann_idx_cells") => f
    }.head.metadata.get("SelectedBucketsCount")
    assert(sel2.exists(_.startsWith("1 out of 4")),
      s"post-compact probe not pruned: $sel2")
  }

  test("ANN batch probe: topKBatch == topK, with the probe side distributed " +
       "(no collected probe relation in the plan)") {
    import graft.ext.SimilarityIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_ann_batch",
      k = 4, iters = 1, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // bit-identical to the broadcast path on the same query set
    val q = e.filter(col("vec_id") < 20)
    assert(rows(SimilarityIndex.topKBatch(spark, "t_ann_batch", q,
        k = 3, nprobe = 2)) ==
      rows(SimilarityIndex.topK(spark, "t_ann_batch", q, k = 3, nprobe = 2)))
    // whole-corpus probe: every query id surfaces, and the plan's probe
    // side is the embeddings SCAN, never a collected LocalRelation (the
    // broadcast path's probe materialization — the thing topKBatch
    // exists to avoid)
    val batch = SimilarityIndex.topKBatch(spark, "t_ann_batch", e,
      k = 3, nprobe = 2)
    val locals = batch.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.isEmpty,
      s"batch probe collected a probe-side relation: ${locals.size}")
    assert(batch.select("query_id").distinct().count() == e.count())
    // two-stage: the shuffle-join exact refine must equal the broadcast
    // refine on the same shortlist
    assert(rows(SimilarityIndex.topKRerankBatch(spark, "t_ann_batch", q, e,
        k = 3, shortlist = 9, nprobe = 2)) ==
      rows(SimilarityIndex.topKRerank(spark, "t_ann_batch", q, e,
        k = 3, shortlist = 9, nprobe = 2)))
  }

  test("ANN index deletion: tombstones mask probes at once; compact folds " +
       "them physically; a rebuild clears pending tombstones") {
    import graft.ext.{Similarity, SimilarityIndex}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_ann_del",
      k = 4, iters = 1, buckets = 4)
    val q = e.filter(col("vec_id") < 5)
    val victims = e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val full = rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2))
    // tombstones are an O(|ids|) append; effect is immediate and equals
    // an ad-hoc search over the corpus WITHOUT the deleted rows (still
    // assigned under the quantizer trained on the FULL build corpus)
    val (cids, cents) = Similarity.kmeansCentroids(e, "embedding", "vec_id",
      k = 4, iters = 1)
    val expectDel = rows(Similarity.ivfTopKWith(
      e.filter(col("vec_id") % 7 =!= 3), q, cids.zip(cents),
      k = 3, nprobe = 2))
    SimilarityIndex.delete(spark, "t_ann_del", victims)
    val afterDel = rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2))
    assert(afterDel == expectDel)
    assert(afterDel != full, "deletion should change some probe result")
    // the tombstone mask (a broadcast anti-join) must not cost the scan
    // its bucket pruning
    val maskedPlan = SimilarityIndex.topK(spark, "t_ann_del",
      e.filter(col("vec_id") === 0), k = 3, nprobe = 1)
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val maskedSel = maskedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "t_ann_del_cells") => f
    }.head.metadata.get("SelectedBucketsCount")
    assert(maskedSel.exists(_.startsWith("1 out of 4")),
      s"masked probe lost bucket pruning: $maskedSel")
    // deleting the same ids again is a no-op (tombstones are idempotent)
    SimilarityIndex.delete(spark, "t_ann_del", victims)
    assert(rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2)) == expectDel)
    // compaction folds the deletions into the rewritten snapshot and
    // clears the applied tombstones; no probe result changes
    SimilarityIndex.compact(spark, "t_ann_del")
    assert(spark.table("t_ann_del_cells")
      .filter(col("id") % 7 === 3).count() == 0,
      "compaction must physically remove tombstoned rows")
    assert(spark.table("t_ann_del_tombs").count() == 0,
      "compaction must clear the tombstones it applied")
    assert(rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2)) == expectDel)
    // a full rebuild retires pending tombstones at its COMMIT (the
    // snapshot epoch changes), so re-ingested ids resurface
    SimilarityIndex.delete(spark, "t_ann_del", victims)
    val staleSchema = spark.table("t_ann_del_tombs").schema
    val staleRows = spark.table("t_ann_del_tombs").collect()
    SimilarityIndex.write(e, "embedding", "vec_id", "t_ann_del",
      k = 4, iters = 1, buckets = 4)
    assert(rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2)) == full)
    // crash window: a rebuild that died AFTER its commit but BEFORE the
    // tombstone GC leaves stale rows — stamped with the replaced
    // snapshot's epoch, they must be inert
    val staleDir =
      java.nio.file.Files.createTempDirectory("graft_stale_vtombs").toString
    spark.createDataFrame(
        java.util.Arrays.asList(staleRows: _*), staleSchema)
      .write.option("path", staleDir).saveAsTable("t_ann_del_tombs")
    assert(rows(SimilarityIndex.topK(spark, "t_ann_del", q,
      k = 3, nprobe = 2)) == full,
      "stale-epoch tombstones must not mask the rebuilt corpus")
    spark.sql("DROP TABLE t_ann_del_tombs")
  }

  test("ANN index compactPartial == compact: identical probes, tombstoned " +
       "ids physically gone, clean files carried by hard link") {
    import graft.ext.SimilarityIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    def build(base: String): Unit = {
      SimilarityIndex.write(e.filter(col("vec_id") < 400),
        "embedding", "vec_id", base, k = 4, iters = 1, buckets = 4)
      SimilarityIndex.append(spark, base, e.filter(col("vec_id") >= 400))
      // SPARSE takedown (3 ids) — the case partial compaction exists for
      SimilarityIndex.delete(spark, base,
        e.select(col("vec_id")).orderBy("vec_id").limit(3))
    }
    build("t_pann_a"); build("t_pann_b")
    val filesBefore = spark.table("t_pann_b_cells").inputFiles.toSet
    SimilarityIndex.compact(spark, "t_pann_a")
    SimilarityIndex.compactPartial(spark, "t_pann_b")
    val q = e.filter(col("vec_id") < 10)
    def rows(base: String) =
      SimilarityIndex.topK(spark, base, q, k = 5, nprobe = 2)
        .collect().map(_.toSeq).toSet
    assert(rows("t_pann_a") == rows("t_pann_b"))
    // the takedown is physically gone from the partial fold too
    assert(spark.table("t_pann_b_cells").filter(col("id") < 3).count() == 0)
    assert(spark.table("t_pann_b_tombs").count() == 0)
    // carried files kept their NAMES (moved dirs): the partial fold
    // rewrote only the deletion-dirty files
    val namesBefore = filesBefore.map(_.split("/").last)
    val after = spark.table("t_pann_b_cells").inputFiles.toSet
    val carried = after.map(_.split("/").last).intersect(namesBefore)
    assert(carried.nonEmpty, "partial compaction carried no files")
    assert(after.map(_.split("/").last) != namesBefore,
      "partial compaction rewrote no files")
  }

  test("ANN cells snapshots are row-capped: a sparse takedown's rewrite " +
       "set is bounded by the tombstones, not corpus/buckets") {
    import graft.ext.SimilarityIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    spark.conf.set(SimilarityIndex.RowsPerFileConfKey, "32")
    try {
      SimilarityIndex.write(e, "embedding", "vec_id", "t_rowcap",
        k = 4, iters = 1, buckets = 4)
      // steady-state layout: the consolidated snapshot is row-capped too
      SimilarityIndex.compact(spark, "t_rowcap")
      val files = spark.table("t_rowcap_cells").inputFiles
      assert(files.length > 8,
        s"the row cap should split buckets into many files: ${files.length}")
      SimilarityIndex.delete(spark, "t_rowcap",
        e.select(col("vec_id")).orderBy("vec_id").limit(2))
      val before = spark.table("t_rowcap_cells").inputFiles
        .map(_.split("/").last).toSet
      SimilarityIndex.compactPartial(spark, "t_rowcap")
      val after = spark.table("t_rowcap_cells").inputFiles
        .map(_.split("/").last).toSet
      val rewritten = before.diff(after).size
      assert(rewritten <= 2,
        s"2 tombstones must dirty at most 2 row-capped files, rewrote $rewritten")
      assert(after.intersect(before).size >= files.length - 2,
        "clean row-capped files must carry unchanged")
      assert(spark.table("t_rowcap_cells").filter(col("id") < 2).count() == 0)
    } finally spark.conf.unset(SimilarityIndex.RowsPerFileConfKey)
  }

  test("ANN compactAuto: full below the file-count crossover (no discovery " +
       "scan paid), partial above; takedown folded either way") {
    import graft.ext.{BucketedTables, SimilarityIndex}
    // the pure policy: small corpus -> full; mostly-dirty -> full;
    // big-and-mostly-clean -> partial
    assert(BucketedTables.compactionChoice(10, 0, 48, 0.5) == "full")
    assert(BucketedTables.compactionChoice(100, 10, 48, 0.5) == "partial")
    assert(BucketedTables.compactionChoice(100, 80, 48, 0.5) == "full")
    // the computed rowsPerFile default at the anncompactbench ladder's
    // breakpoints: flat at the measured 2048 sweet spot through 10M,
    // then sqrt growth landing on the ladder's own 100M guidance (8192)
    assert(SimilarityIndex.rowsPerFilePolicy(100_000L) == 2048L)
    assert(SimilarityIndex.rowsPerFilePolicy(1_000_000L) == 2048L)
    assert(SimilarityIndex.rowsPerFilePolicy(10_000_000L) == 2048L)
    assert(SimilarityIndex.rowsPerFilePolicy(100_000_000L) == 8192L)
    assert(SimilarityIndex.rowsPerFilePolicy(1_000_000_000L) == 32768L)
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    def build(base: String): Unit = {
      SimilarityIndex.write(e, "embedding", "vec_id", base,
        k = 4, iters = 1, buckets = 4)
      SimilarityIndex.delete(spark, base,
        e.select(col("vec_id")).orderBy("vec_id").limit(3))
    }
    build("t_auto_a"); build("t_auto_b")
    val totalFiles = spark.table("t_auto_a_cells").inputFiles.length
    assert(SimilarityIndex.compactAuto(spark, "t_auto_a",
      minFiles = totalFiles + 1) == "full")
    assert(SimilarityIndex.compactAuto(spark, "t_auto_b",
      minFiles = 1, maxDirtyShare = 1.0) == "partial")
    // both folds applied the takedown and retired the tombstones
    Seq("t_auto_a", "t_auto_b").foreach { b =>
      assert(spark.table(s"${b}_cells").filter(col("id") < 3).count() == 0)
      assert(spark.table(s"${b}_tombs").count() == 0)
    }
    val q = e.filter(col("vec_id") < 10)
    def rows(base: String) =
      SimilarityIndex.topK(spark, base, q, k = 5, nprobe = 2)
        .collect().map(_.toSeq).toSet
    assert(rows("t_auto_a") == rows("t_auto_b"))
  }

  test("dirtyFiles fails loudly when tombstones are pending but the table " +
       "cannot be deletion-scanned (legacy schema without id)") {
    import graft.ext.BucketedTables
    val dir = Files.createTempDirectory("graft_legacy_dirty").toString
    spark.sql("DROP TABLE IF EXISTS t_legacy_dirty")
    Seq((1L, "x"), (2L, "y")).toDF("h", "t").write
      .bucketBy(2, "h").sortBy("h").option("path", s"$dir/tbl")
      .saveAsTable("t_legacy_dirty")
    val tombs = Seq(1L).toDF("id")
    // pending tombstones + no id column: reading the table as CLEAN would
    // let the partial fold truncate the tombstones and un-delete the rows
    val err = intercept[IllegalArgumentException] {
      BucketedTables.dirtyFiles(spark, "t_legacy_dirty", Some(tombs))
    }
    assert(err.getMessage.contains("legacy schema"))
    // an empty pending set is genuinely clean — no throw, no dirty files
    assert(BucketedTables.dirtyFiles(spark, "t_legacy_dirty",
      Some(tombs.filter(col("id") < 0))) == Set.empty[String])
  }

  test("maskByTombs fails on a frame with no id column while tombstones " +
       "are pending instead of passing it through unmasked") {
    import graft.ext.BucketedTables
    val tombs = Seq(1L).toDF("id")
    val noId = Seq((1L, "x"), (2L, "y")).toDF("h", "t")
    // the takedown contract masks by id: a frame that cannot be masked
    // must fail analysis, never serve the deleted rows
    intercept[org.apache.spark.sql.AnalysisException](
      BucketedTables.maskByTombs(noId, Some(tombs)).schema)
    // no tombstone table: nothing is deleted, the frame passes unchanged
    assert(BucketedTables.maskByTombs(noId, None) eq noId)
  }

  test("dedup index deletion: tombstones mask verdicts at once; compact " +
       "folds them physically; a rebuild clears pending tombstones") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.ext.{Dedup, DedupIndex}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val victims = corpus.filter(col("doc_id") % 3 === 1)
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_del_idx",
      threshold = 0.5, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getString(2)))).toSet
    def judge(cands: String = "prefix") =
      rows(DedupIndex.dedupIncremental(spark, "t_del_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5, candidates = cands))
    val before = judge()
    // deletion is an O(|ids|) tombstone append; verdicts immediately
    // equal incremental dedup against the corpus MINUS the deleted docs
    DedupIndex.delete(spark, "t_del_idx",
      victims.select(col("doc_id")), "doc_id")
    val expect = rows(Dedup.dedupIncremental(
      corpus.filter(col("doc_id") % 3 =!= 1), delta,
      "text", "doc_id", "lang", threshold = 0.5))
    val after = judge()
    assert(after == expect)
    assert(after != before, "deleting a third of the corpus should flip " +
      "some verdict")
    // deleting the same docs again is a no-op (tombstones are idempotent)
    DedupIndex.delete(spark, "t_del_idx",
      victims.select(col("doc_id")), "doc_id")
    assert(judge() == expect)
    // the LSH candidate generator masks identically: verdicts equal a
    // fresh index built WITHOUT the deleted docs (banding is
    // deterministic, so the equality is exact)
    DedupIndex.write(corpus.filter(col("doc_id") % 3 =!= 1),
      "text", "doc_id", "lang", "t_del_fresh", threshold = 0.5, buckets = 4)
    assert(judge("lsh") == rows(DedupIndex.dedupIncremental(spark,
      "t_del_fresh", delta, "text", "doc_id", "lang", threshold = 0.5,
      candidates = "lsh")))
    // masked probes keep the corpus side exchange-free: the tombstone
    // anti-joins broadcast (explicit hint, so even threshold = -1 cannot
    // shuffle them), and every index scan still feeds its joins without
    // an exchange in between
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val root = DedupIndex.dedupIncremental(spark, "t_del_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)
        .queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
      def leavesAboveJoins(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BaseJoinExec => Nil
        case l if l.children.isEmpty => Seq(l)
        case o => o.children.flatMap(leavesAboveJoins)
      }
      val shuffledIndexScans = root.collect { case e: ShuffleExchangeExec =>
        leavesAboveJoins(e.child)
          .filter(_.toString.contains("graft_dedup_index"))
      }.flatten
      assert(shuffledIndexScans.isEmpty,
        s"masked index scans under an exchange:\n$root")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // compaction folds the deletions into the rewritten snapshots and
    // clears the applied tombstones; no verdict changes
    DedupIndex.compact(spark, "t_del_idx")
    assert(spark.table("t_del_idx_sh")
      .filter(col("id") % 3 === 1).count() == 0,
      "compaction must physically remove tombstoned docs")
    assert(spark.table("t_del_idx_tombs").count() == 0,
      "compaction must clear the tombstones it applied")
    assert(judge() == expect)
    // a full rebuild retires pending tombstones at its COMMIT (the
    // epoch anchor changes), so re-ingested docs resurface
    DedupIndex.delete(spark, "t_del_idx",
      victims.select(col("doc_id")), "doc_id")
    val staleSchema = spark.table("t_del_idx_tombs").schema
    val staleRows = spark.table("t_del_idx_tombs").collect()
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_del_idx",
      threshold = 0.5, buckets = 4)
    assert(judge() == before)
    // crash window: a rebuild that died AFTER its commits but BEFORE the
    // tombstone GC leaves the old rows on disk — they are stamped with
    // the REPLACED snapshot's epoch, so they must be inert
    val staleDir =
      java.nio.file.Files.createTempDirectory("graft_stale_tombs").toString
    spark.createDataFrame(
        java.util.Arrays.asList(staleRows: _*), staleSchema)
      .write.option("path", staleDir).saveAsTable("t_del_idx_tombs")
    assert(judge() == before,
      "stale-epoch tombstones must not mask the rebuilt corpus")
    spark.sql("DROP TABLE t_del_idx_tombs")
  }

  test("sq8 cells storage shrinks the corpus footprint; appends keep " +
       "the codec; probes, deletion, and recall stay sound") {
    import graft.ext.{Similarity, SimilarityIndex}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_sq8_ann",
      k = 4, iters = 1, buckets = 4, codec = "sq8")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_f32_ann",
      k = 4, iters = 1, buckets = 4)
    def dirBytes(tbl: String) = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location.getPath).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    // 1 byte/component (+16B min/scale) vs 4 bytes/component: the cells
    // table — the corpus itself at scale — shrinks by ~4x raw
    val ratio = dirBytes("t_sq8_ann_cells").toDouble /
      dirBytes("t_f32_ann_cells")
    assert(ratio < 0.6, f"sq8 cells not smaller: ratio $ratio%.2f")
    // recall vs the float index: top-3 sets overlap strongly (the codec
    // only perturbs sims by the quantization error)
    val q = e.filter(col("vec_id") < 20)
    def top3(tbl: String) = SimilarityIndex.topK(spark, tbl, q,
        k = 3, nprobe = 2).collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(2)).toSet }
    val f32 = top3("t_f32_ann")
    val overlaps = top3("t_sq8_ann").map { case (qid, s) =>
      (s intersect f32(qid)).size.toDouble / 3 }
    val meanOverlap = overlaps.sum / overlaps.size
    assert(meanOverlap >= 0.8, f"sq8 recall degraded: $meanOverlap%.2f")
    // appends encode in the stored codec (schema-sniffed): a twin of
    // vec 7 appended post-build must surface for probe 7 at sim ~1
    val twin = e.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(77777L))
    SimilarityIndex.append(spark, "t_sq8_ann", twin)
    assert(!spark.table("t_sq8_ann_cells").columns.contains("v"),
      "append must not widen an sq8 table back to float rows")
    val hit = SimilarityIndex.topK(spark, "t_sq8_ann",
      e.filter(col("vec_id") === 7), k = 1, nprobe = 4).collect().head
    assert(hit.getLong(2) == 77777L && hit.getDouble(3) > 0.999)
    // deletion masks sq8 rows like any other
    SimilarityIndex.delete(spark, "t_sq8_ann", twin.select(col("vec_id")))
    assert(SimilarityIndex.topK(spark, "t_sq8_ann",
      e.filter(col("vec_id") === 7), k = 1, nprobe = 4)
      .collect().head.getLong(2) != 77777L)
  }

  test("pq cells storage shrinks below sq8; probes equal the ad-hoc " +
       "IVF-PQ; appends keep codec and codebook; compaction carries the " +
       "codebook sidecar byte-identical") {
    import graft.ext.{Similarity, SimilarityIndex}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_pq_ann",
      k = 4, iters = 1, buckets = 4, codec = "pq", pqM = 8, pqK = 16)
    SimilarityIndex.write(e, "embedding", "vec_id", "t_pq_sq8cmp",
      k = 4, iters = 1, buckets = 4, codec = "sq8")
    def dirBytes(tbl: String) = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .location.getPath).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    // 8 code bytes/vector vs sq8's 64 bytes + min/scale: parquet overhead
    // dampens the raw 8x, but the cells table must still shrink hard
    val ratio = dirBytes("t_pq_ann_cells").toDouble /
      dirBytes("t_pq_sq8cmp_cells")
    assert(ratio < 0.55, f"pq cells not smaller than sq8: ratio $ratio%.2f")
    // exactness: the index-backed search (tables + sidecars + byte-packed
    // codes) equals the ad-hoc IVF-PQ over the same trained artifacts
    val (cids, cents) = Similarity.kmeansCentroids(e, "embedding", "vec_id",
      k = 4, iters = 1)
    val books = Similarity.pqTrainCodebooks(e, "embedding", "vec_id",
      m = 8, k2 = 16, iters = 1)
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val got = rows(SimilarityIndex.topK(spark, "t_pq_ann", q, k = 3, nprobe = 2))
    assert(got == rows(Similarity.pqTopKWith(e, q, cids.zip(cents), books,
      k = 3, nprobe = 2)) && got.nonEmpty)
    // a probe still bucket-prunes to the probed cell under pq storage
    val one = SimilarityIndex.topK(spark, "t_pq_ann",
      e.filter(col("vec_id") === 0), k = 3, nprobe = 1)
    val root = one.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val sel = root.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "t_pq_ann_cells") => f
    }.head.metadata.get("SelectedBucketsCount")
    assert(sel.exists(_.startsWith("1 out of 4")),
      s"pq probe should read exactly the probed bucket: $sel")
    // appends sniff the codec from the schema and encode with the STORED
    // codebooks; results stay equal to the ad-hoc path over the grown
    // corpus (same centroids + codebooks — appends never retrain)
    val extra = e.filter(col("vec_id") >= 490)
      .withColumn("vec_id", col("vec_id") + 10000)
    SimilarityIndex.append(spark, "t_pq_ann", extra)
    assert(!spark.table("t_pq_ann_cells").columns.contains("v") &&
      !spark.table("t_pq_ann_cells").columns.contains("qb"),
      "append must keep the pq layout")
    val grownExpect = rows(Similarity.pqTopKWith(e.unionByName(extra), q,
      cids.zip(cents), books, k = 3, nprobe = 2))
    assert(rows(SimilarityIndex.topK(spark, "t_pq_ann", q,
      k = 3, nprobe = 2)) == grownExpect)
    // deletion masks pq rows like any other codec's
    val victim = extra.select(col("vec_id")).limit(1)
    SimilarityIndex.delete(spark, "t_pq_ann", victim)
    val victimId = victim.collect().head.getLong(0)
    assert(!SimilarityIndex.topK(spark, "t_pq_ann", q, k = 3, nprobe = 4)
      .collect().exists(_.getLong(2) == victimId))
    // compaction folds the tombstone and carries the codebook sidecar
    // byte-identical; probe results equal the ad-hoc search minus the
    // deleted row
    def codebookBytes() = java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("t_pq_ann_cells"))
        .location.getPath), "_pqcodebook").toPath)
    val before = codebookBytes()
    SimilarityIndex.compact(spark, "t_pq_ann")
    assert(java.util.Arrays.equals(codebookBytes(), before),
      "compaction must carry the codebook sidecar unchanged")
    val afterExpect = rows(Similarity.pqTopKWith(
      e.unionByName(extra).filter(col("vec_id") =!= victimId), q,
      cids.zip(cents), books, k = 3, nprobe = 2))
    assert(rows(SimilarityIndex.topK(spark, "t_pq_ann", q,
      k = 3, nprobe = 2)) == afterExpect)
  }

  test("exact re-rank over a PQ shortlist: a full-coverage shortlist " +
       "equals brute force, sims are exact cosines, no shuffle join in " +
       "the refine plan, and tombstones survive the raw-corpus join") {
    import graft.ext.{Similarity, SimilarityIndex}
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_rr_ann",
      k = 4, iters = 1, buckets = 4, codec = "pq", pqM = 8, pqK = 16)
    val q = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // refinement limit: shortlist covering the whole corpus with every
    // cell probed == exact brute-force top-k (PQ distortion fully undone)
    val full = rows(SimilarityIndex.topKRerank(spark, "t_rr_ann", q, e,
      k = 3, shortlist = 10000, nprobe = 4))
    assert(full == rows(Similarity.bruteForceTopK(e, q, 3)) && full.nonEmpty)
    // a realistic shortlist: every reported sim is the EXACT cosine of
    // the raw vectors (the refine contract — PQ scores never leak out)
    val reranked = SimilarityIndex.topKRerank(spark, "t_rr_ann", q, e,
      k = 3, shortlist = 15, nprobe = 2)
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    reranked.collect().foreach { r =>
      val exact = cos(vecs(r.getLong(0)), vecs(r.getLong(2)))
      assert(math.abs(r.getDouble(3) - exact) < 1e-9,
        s"rerank sim not exact for ${r.getLong(0)}->${r.getLong(2)}")
    }
    // scale shape: the two-stage plan has no shuffle join — candidates
    // and queries broadcast against the single corpus scan
    val planStr = reranked.queryExecution.executedPlan.toString
    assert(!planStr.contains("SortMergeJoin") &&
      !planStr.contains("ShuffledHashJoin"),
      "refine stage must not shuffle-join the corpus")
    // tombstones mask in stage 1, so a deleted id cannot re-enter
    // through the raw-corpus refine join even though rawCorpus still
    // contains its vector
    val victimId = full.head._3
    SimilarityIndex.delete(spark, "t_rr_ann",
      e.filter(col("vec_id") === victimId).select(col("vec_id")))
    assert(!rows(SimilarityIndex.topKRerank(spark, "t_rr_ann", q, e,
      k = 3, shortlist = 10000, nprobe = 4)).exists(_._3 == victimId))
  }

  test("delete wins over re-ingestion until a compact retires the ANN " +
       "tombstone — the old vector can never resurrect") {
    import graft.ext.SimilarityIndex
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    SimilarityIndex.write(e, "embedding", "vec_id", "t_cdc_ann",
      k = 4, iters = 1, buckets = 4)
    // a TWIN of vec 7 (search excludes self-pairs): its presence is
    // observable as probe(7)'s cosine-1 top hit
    val twin = e.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(88888L))
    def top1() = SimilarityIndex.topK(spark, "t_cdc_ann",
      e.filter(col("vec_id") === 7), k = 1, nprobe = 4)
      .collect().head.getLong(2)
    SimilarityIndex.append(spark, "t_cdc_ann", twin)
    assert(top1() == 88888L)
    SimilarityIndex.delete(spark, "t_cdc_ann", twin.select(col("vec_id")))
    assert(top1() != 88888L, "deleted id must be masked")
    // re-appending while the tombstone is pending must NOT unmask: the
    // old rows are still physically present, and unmasking the id would
    // resurrect them (the takedown contract outranks changelog reinsert)
    SimilarityIndex.append(spark, "t_cdc_ann", twin)
    assert(top1() != 88888L, "delete must win over re-ingestion")
    // compaction removes old and re-appended rows alike and retires the
    // tombstone
    SimilarityIndex.compact(spark, "t_cdc_ann")
    assert(spark.table("t_cdc_ann_cells")
      .filter(col("id") === 88888L).count() == 0)
    assert(top1() != 88888L)
    // re-ingesting AFTER the tombstone is retired resurfaces the id
    SimilarityIndex.append(spark, "t_cdc_ann", twin)
    assert(top1() == 88888L, "post-compact re-ingest must resurface")
  }

  test("delete wins over re-ingestion until a compact retires the dedup " +
       "tombstone — the old text can never resurrect") {
    import graft.ext.DedupIndex
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta"),
      (2L, "en", "wholly unrelated other words entirely here"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_cdc_idx",
      threshold = 0.5, buckets = 4)
    val delta = Seq((10L, "en", "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "lang", "text")
    def judge() = DedupIndex.dedupIncremental(spark, "t_cdc_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getString(2)))).toSet
    assert(judge() == Set((10L, false, Some("exact"))))
    DedupIndex.delete(spark, "t_cdc_idx", Seq(1L).toDF("doc_id"), "doc_id")
    assert(judge() == Set((10L, true, None)), "deleted doc must not judge")
    // re-ingesting doc 1 while its tombstone is pending must NOT unmask
    // it: the old artifact rows are still physically present, and
    // unmasking the id would resurrect the taken-down text
    val doc1 = corpus.filter(col("doc_id") === 1)
    val keepAll = doc1.select(col("doc_id"), lit(true).as("keep"),
      lit(null).cast("string").as("reason"))
    DedupIndex.appendKept(spark, "t_cdc_idx", doc1, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 3L)
    assert(judge() == Set((10L, true, None)),
      "delete must win over re-ingestion")
    // compaction removes old and re-appended rows alike and retires the
    // tombstone; re-ingesting AFTER it resurfaces the document
    DedupIndex.compact(spark, "t_cdc_idx")
    assert(spark.table("t_cdc_idx_sh")
      .filter(col("id") === 1L).count() == 0)
    assert(judge() == Set((10L, true, None)))
    DedupIndex.appendKept(spark, "t_cdc_idx", doc1, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 4L)
    assert(judge() == Set((10L, false, Some("exact"))),
      "post-compact re-ingest must witness the exact rule again")
  }

  test("deleting one holder of a duplicated text keeps the other " +
       "holder's exact witness") {
    import graft.ext.DedupIndex
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta shared text body"),
      (2L, "en", "alpha beta gamma delta shared text body"),
      (3L, "en", "wholly unrelated other words entirely"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_dup_del_idx",
      threshold = 0.5, buckets = 4)
    val delta = Seq((10L, "en", "alpha beta gamma delta shared text body"))
      .toDF("doc_id", "lang", "text")
    def judge() = DedupIndex.dedupIncremental(spark, "t_dup_del_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getString(2)))).toSet
    // doc 1 deleted, but doc 2 still HOLDS the same text: the delta copy
    // must still be judged an exact duplicate (per-holder tombstones —
    // a text-keyed tombstone would wrongly retire doc 2's witness too)
    DedupIndex.delete(spark, "t_dup_del_idx", Seq(1L).toDF("doc_id"),
      "doc_id")
    assert(judge() == Set((10L, false, Some("exact"))))
    // ...including PHYSICALLY after compaction folds holder 1's row
    DedupIndex.compact(spark, "t_dup_del_idx")
    assert(judge() == Set((10L, false, Some("exact"))))
    // deleting the last holder retires the text entirely
    DedupIndex.delete(spark, "t_dup_del_idx", Seq(2L).toDF("doc_id"),
      "doc_id")
    assert(judge() == Set((10L, true, None)))
  }

  test("index root is a Hadoop filesystem URI: a configured file:// root " +
       "hosts the whole snapshot lifecycle, incl. heal and compaction") {
    import graft.ext.{Dedup, DedupIndex}
    val customRoot = "file://" +
      Files.createTempDirectory("graft_hadoop_root").toAbsolutePath
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val prevRoot = spark.conf.getOption("spark.graft.index.root")
    def restoreRoot(): Unit = prevRoot.fold(
      spark.conf.unset("spark.graft.index.root"))(
      spark.conf.set("spark.graft.index.root", _))
    spark.conf.set("spark.graft.index.root", customRoot)
    try {
      DedupIndex.write(corpus, "text", "doc_id", "lang", "t_hroot_idx",
        threshold = 0.5, buckets = 4)
      // every index table's snapshot dir landed under the configured root
      for (t <- Seq("t_hroot_idx_exact", "t_hroot_idx_sh")) {
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString
        assert(loc.contains("graft_hadoop_root") && loc.endsWith("/v1"),
          s"$t not under the configured root: $loc")
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getBoolean(1),
          Option(r.getString(2)))).toSet
      val expect = rows(Dedup.dedupIncremental(corpus, delta,
        "text", "doc_id", "lang", threshold = 0.5))
      assert(rows(DedupIndex.dedupIncremental(spark, "t_hroot_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)) == expect)
      // crash between the overwrite's two catalog ops heals here too
      spark.sql(
        "ALTER TABLE t_hroot_idx_exact RENAME TO t_hroot_idx_exact__next")
      assert(rows(DedupIndex.dedupIncremental(spark, "t_hroot_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)) == expect)
      // compaction's snapshot swap claims v2+ under the SAME root and
      // prunes superseded versions there (nothing leaks to the session's
      // own root, and the catalog-anchored root survives a conf change)
      restoreRoot()
      DedupIndex.compact(spark, "t_hroot_idx")
      val exactLoc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_hroot_idx_exact"))
        .location.toString
      assert(exactLoc.contains("graft_hadoop_root") && !exactLoc.endsWith("/v1"),
        s"compaction left the configured root: $exactLoc")
      assert(rows(DedupIndex.dedupIncremental(spark, "t_hroot_idx", delta,
        "text", "doc_id", "lang", threshold = 0.5)) == expect)
      val vdirs = new java.io.File(
        new java.net.URI(exactLoc)).getParentFile.listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      assert(vdirs.length <= 2,
        s"superseded snapshots not pruned: ${vdirs.mkString(",")}")
    } finally {
      restoreRoot()
      for (sfx <- Seq("_exact", "_pref", "_sh", "_band", "_tombs");
           t <- Seq(s"t_hroot_idx$sfx", s"t_hroot_idx${sfx}__next"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("writer lease: mutating index calls racing a held compaction " +
       "fail loudly with no silent row loss; release unblocks") {
    import graft.ext.DedupIndex
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    DedupIndex.write(docs, "text", "doc_id", "lang", "t_lease_idx",
      threshold = 0.5, buckets = 4)
    // simulate an in-flight compaction from another session: the lease
    // file sits at the anchor table's version root, exactly where the
    // engine's atomic create-if-absent claims it
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t_lease_idx_exact"))
      .location
    val leaseFile = new java.io.File(
      new java.io.File(loc).getParentFile, "_lease")
    java.nio.file.Files.writeString(leaseFile.toPath,
      "compaction by test-harness@999")
    try {
      val before = spark.table("t_lease_idx_exact").count()
      val extra = Seq((777001L, "en", "lease test totally new words"))
        .toDF("doc_id", "lang", "text")
      val keepAll = extra.select(col("doc_id"), lit(true).as("keep"),
        lit(null).cast("string").as("reason"))
      // append, delete, compact, compactPartial: all refuse, naming the
      // holder
      val e1 = intercept[IllegalStateException](DedupIndex.appendKept(
        spark, "t_lease_idx", extra, keepAll, "text", "doc_id", "lang",
        threshold = 0.5, batchId = 11L))
      assert(e1.getMessage.contains("lease") &&
        e1.getMessage.contains("test-harness"))
      intercept[IllegalStateException](DedupIndex.delete(
        spark, "t_lease_idx", extra.select(col("doc_id")), "doc_id"))
      intercept[IllegalStateException](
        DedupIndex.compact(spark, "t_lease_idx"))
      val e4 = intercept[IllegalStateException](
        DedupIndex.compactPartial(spark, "t_lease_idx"))
      assert(e4.getMessage.contains("test-harness"))
      // nothing landed anywhere — the refused append lost no rows into
      // a dir a racing swap would replace
      assert(spark.table("t_lease_idx_exact").count() == before)
      // release (the operator's clearLease decision) unblocks writers,
      // and a successful leased op releases its own lease on the way out
      leaseFile.delete()
      DedupIndex.appendKept(spark, "t_lease_idx", extra, keepAll,
        "text", "doc_id", "lang", threshold = 0.5, batchId = 11L)
      assert(spark.table("t_lease_idx_exact").count() == before + 1)
      DedupIndex.compact(spark, "t_lease_idx")
      assert(!leaseFile.exists(),
        "a completed compaction must release its lease")
      assert(spark.table("t_lease_idx_exact").count() == before + 1)
    } finally {
      leaseFile.delete()
      for (sfx <- Seq("_exact", "_pref", "_sh", "_band", "_tombs");
           t <- Seq(s"t_lease_idx$sfx", s"t_lease_idx${sfx}__next"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("interrupted overwrite commit heals on the next index call") {
    import graft.ext.{Dedup, DedupIndex}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_heal_idx",
      threshold = 0.5, buckets = 4)
    // Simulate a rewrite that died between its two catalog ops: the live
    // entry is gone, the scratch entry holds the complete snapshot.
    spark.sql("ALTER TABLE t_heal_idx_exact RENAME TO t_heal_idx_exact__next")
    assert(!spark.catalog.tableExists("t_heal_idx_exact"))
    // the next probe heals the catalog and judges correctly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        Option(r.getString(2)))).toSet
    val healed = rows(DedupIndex.dedupIncremental(spark, "t_heal_idx",
      delta, "text", "doc_id", "lang", threshold = 0.5))
    assert(spark.catalog.tableExists("t_heal_idx_exact"))
    assert(healed == rows(Dedup.dedupIncremental(corpus, delta,
      "text", "doc_id", "lang", threshold = 0.5)))
    // an APPEND arriving while the crash marker is still in place must
    // adopt the healed snapshot, not fresh-create a batch-only table
    // over it (which would silently shadow the whole corpus)
    spark.sql("ALTER TABLE t_heal_idx_exact RENAME TO t_heal_idx_exact__next")
    val extra = Seq((90021L, "en", "heal append test unique brand new words"))
      .toDF("doc_id", "lang", "text")
    val keepAll = extra.select(col("doc_id"), lit(true).as("keep"),
      lit(null).cast("string").as("reason"))
    DedupIndex.appendKept(spark, "t_heal_idx", extra, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 9L)
    val exactRows = spark.table("t_heal_idx_exact").count()
    assert(exactRows == corpus.count() + 1,
      s"append after heal must keep the corpus: $exactRows rows")

    // the span index heals on entry too: after the same interrupted
    // rebuild, a trim and an append each adopt the scratch snapshot and
    // match an uninterrupted twin
    import graft.ext.SpanIndex
    Seq("t_heal_span", "t_heal_span_ref").foreach(b =>
      SpanIndex.write(corpus, "text", "doc_id", b, w = 6, buckets = 2))
    def interrupt(): Unit =
      spark.sql("ALTER TABLE t_heal_span_spanh RENAME TO t_heal_span_spanh__next")
    def trimRows(b: String) = SpanIndex.trimIncremental(spark, b, delta,
      "text", "doc_id").collect().map(_.toSeq.mkString("|")).toSet
    def hashRows(b: String) = spark.table(s"${b}_spanh")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    interrupt()
    assert(trimRows("t_heal_span") == trimRows("t_heal_span_ref"))
    assert(spark.catalog.tableExists("t_heal_span_spanh"))
    interrupt()
    Seq("t_heal_span", "t_heal_span_ref").foreach(b =>
      SpanIndex.append(spark, b, delta, "text", "doc_id", bid = 5L))
    assert(hashRows("t_heal_span") == hashRows("t_heal_span_ref"))
    assert(trimRows("t_heal_span") == trimRows("t_heal_span_ref"))
  }

  test("dedup compaction killed before the exact (anchor) swap: deletions " +
       "stay masked and a re-run converges to the uninterrupted fold") {
    import graft.ext.{BucketedTables, DedupIndex}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val victims = corpus.filter(length(col("text")) > 40)
      .select("doc_id").orderBy("doc_id").limit(3)
    val gone = victims.as[Long].collect().toSet
    // the taken-down documents resubmitted under fresh ids: while live,
    // each one is a near (and exact) duplicate of its original
    val probe = corpus.filter(col("doc_id").isin(gone.toSeq: _*))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    def edges(base: String) = DedupIndex.matchEdges(spark, base, probe,
        "text", "doc_id", "lang", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    def nearPartners(base: String) =
      edges(base).collect { case (a, _, "near") => a }
    Seq("t_cwin_a", "t_cwin_b").foreach(b => DedupIndex.write(corpus,
      "text", "doc_id", "lang", b, threshold = 0.5, buckets = 4))
    assert(gone.subsetOf(nearPartners("t_cwin_a")),
      "the probe must witness every victim while it is live")
    Seq("t_cwin_a", "t_cwin_b").foreach(b =>
      DedupIndex.delete(spark, b, victims, "doc_id"))
    DedupIndex.compactPartial(spark, "t_cwin_b") // the uninterrupted fold

    // t_cwin_a: the partial fold by hand — plan and write the snapshots
    // of the deletion-dirty tables (pref/band never rewrite on
    // deletions), then commit in the shared order and die before the
    // last swap
    val exact = DedupIndex.exactTable("t_cwin_a")
    val tombIds = BucketedTables.liveTombIds(spark, exact,
      DedupIndex.tombsTable("t_cwin_a"))
    val snaps = BucketedTables.withForcedBucketedScan(spark) {
      Seq(DedupIndex.shTable("t_cwin_a") -> Seq("id"), exact -> Seq("h", "t"))
        .flatMap { case (t, keys) =>
          BucketedTables.planPartial(spark, t, keys, tombIds, dirty = None)
            .map(fold => t -> BucketedTables.writePartial(spark, fold))
        }
    }
    assert(snaps.map(_._1).toSet ==
      Set(DedupIndex.shTable("t_cwin_a"), exact))
    val epoch = BucketedTables.snapshotEpoch(spark, exact)
    BucketedTables.commitOrder(exact, snaps).init.foreach {
      case (t, snap) => BucketedTables.swapLocation(spark, t, snap) }
    // the window: sh is folded, exact still holds the victims, and the
    // unmoved epoch keeps every tombstone active against all four tables
    assert(nearPartners("t_cwin_a").intersect(gone).isEmpty &&
      edges("t_cwin_a").map(_._1).intersect(gone).isEmpty,
      "a taken-down id resurfaced in the crash window")
    assert(BucketedTables.snapshotEpoch(spark, exact) == epoch)
    assert(DedupIndex.pendingTombstones(spark, "t_cwin_a") == gone.size.toLong)

    // a re-run converges: same tables, same verdicts as the uninterrupted
    DedupIndex.compactPartial(spark, "t_cwin_a")
    assert(DedupIndex.pendingTombstones(spark, "t_cwin_a") == 0L)
    Seq(DedupIndex.exactTable _, DedupIndex.shTable _, DedupIndex.prefTable _,
        DedupIndex.bandTable _).foreach { tbl =>
      def rows(b: String) = spark.table(tbl(b))
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows("t_cwin_a") == rows("t_cwin_b"), tbl("t_cwin_a"))
    }
    assert(spark.table(exact).filter(col("id").isin(gone.toSeq: _*))
      .count() == 0L)
    assert(edges("t_cwin_a") == edges("t_cwin_b"))
    val fresh = docs.filter(col("doc_id") % 7 === 0)
    def verdicts(b: String) = DedupIndex.dedupIncremental(spark, b, fresh,
        "text", "doc_id", "lang", threshold = 0.5)
      .collect().map(_.toSeq.mkString("|")).toSet
    assert(verdicts("t_cwin_a") == verdicts("t_cwin_b"))
  }

  test("dedup index stats report the PHYSICAL bucket layout exactly; " +
       "needsCompact advises on pending tombstones and append mass") {
    import graft.ext.DedupIndex
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val corpusN = corpus.count()
    val base = "t_dstats_idx"
    DedupIndex.write(corpus, "text", "doc_id", "lang", base,
      threshold = 0.5, buckets = 4)
    def tableLoc(t: String) = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))
    try {
      val st = DedupIndex.stats(spark, base).collect()
      // per-table totals and shares are exact
      for ((tbl, t) <- Seq("exact" -> s"${base}_exact", "pref" -> s"${base}_pref",
          "sh" -> s"${base}_sh", "band" -> s"${base}_band")) {
        val rows = st.filter(_.getAs[String]("tbl") == tbl)
        assert(rows.map(_.getAs[Long]("n_rows")).sum == spark.table(t).count(),
          s"$tbl occupancy must sum to the table's physical rows")
        assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
      }
      // the `files` column matches the real dir listing, and the
      // `bucket` column IS the file layout: every row in a
      // bucket-suffixed file hashes to that bucket id
      val bucketPat = ".*_(\\d{5})(?:\\.c\\d+)?\\..*parquet$".r
      val prefFiles = tableLoc(s"${base}_pref").listFiles()
        .filter(_.isFile).flatMap(f => f.getName match {
          case bucketPat(b) => Some((b.toInt, f))
          case _ => None
        })
      val listed = prefFiles.groupBy(_._1).map { case (b, fs) => (b, fs.length.toLong) }
      val reported = st.filter(_.getAs[String]("tbl") == "pref")
        .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("files"))).toMap
      assert(listed == reported.filter(_._2 > 0),
        s"files per bucket: listed $listed vs reported $reported")
      for ((b, f) <- prefFiles.take(4)) {
        val bad = spark.read.parquet(f.getAbsolutePath)
          .filter(pmod(hash(col("bk")), lit(4)) =!= lit(b)).count()
        assert(bad == 0, s"file ${f.getName} holds rows outside bucket $b")
      }
      // advisory lifecycle: fresh build = zero pressure
      assert(DedupIndex.appendedSinceSnapshot(spark, base)
        .contains((0L, corpusN)))
      assert(!DedupIndex.needsCompact(spark, base))
      // append the delta (a fifth of the corpus): counted exactly, and
      // the ratio trigger fires only below that mass
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val deltaN = delta.count()
      val keepAll = delta.select(col("doc_id"), lit(true).as("keep"),
        lit(null).cast("string").as("reason"))
      DedupIndex.appendKept(spark, base, delta, keepAll,
        "text", "doc_id", "lang", threshold = 0.5, batchId = 7L)
      assert(DedupIndex.appendedSinceSnapshot(spark, base)
        .contains((deltaN, corpusN)))
      assert(!DedupIndex.needsCompact(spark, base),
        "a fifth of the corpus appended must not trip the default ratio")
      assert(DedupIndex.needsCompact(spark, base,
        appendedRatio = deltaN.toDouble / corpusN / 2),
        "the ratio trigger must fire once appended mass crosses it")
      // a pending tombstone alone advises compaction (the fold is what
      // physically applies a takedown)
      DedupIndex.delete(spark, base,
        corpus.limit(1).select(col("doc_id")), "doc_id")
      assert(DedupIndex.pendingTombstones(spark, base) == 1L)
      assert(DedupIndex.needsCompact(spark, base))
      // a partial fold retires the tombstone but carries every append
      // file (pref/band whole, clean exact/sh files by link), so the
      // append mass survives it and the ratio trigger keeps firing
      DedupIndex.compactPartial(spark, base)
      assert(DedupIndex.pendingTombstones(spark, base) == 0L)
      val partialN = spark.table(s"${base}_exact").count()
      assert(DedupIndex.appendedSinceSnapshot(spark, base)
        .contains((deltaN, partialN)),
        "a partial fold must keep the append mass it carried")
      assert(DedupIndex.needsCompact(spark, base,
        appendedRatio = deltaN.toDouble / corpusN / 2),
        "the ratio trigger must still fire after a partial fold")
      // compaction re-bases: pressure back to zero, snapshot count folded
      DedupIndex.compact(spark, base)
      assert(DedupIndex.pendingTombstones(spark, base) == 0L)
      val folded = spark.table(s"${base}_exact").count()
      assert(DedupIndex.appendedSinceSnapshot(spark, base)
        .contains((0L, folded)))
      assert(!DedupIndex.needsCompact(spark, base))
      // a crash between a commit and its sidecar write (sidecar lost):
      // appends report unknown, the advisory decides on tombstones
      // alone, and a compact re-establishes
      assert(new java.io.File(tableLoc(s"${base}_exact"), "_appended").delete())
      assert(DedupIndex.appendedSinceSnapshot(spark, base).isEmpty)
      assert(!DedupIndex.needsCompact(spark, base))
      DedupIndex.compact(spark, base)
      assert(DedupIndex.appendedSinceSnapshot(spark, base)
        .contains((0L, folded)))
    } finally {
      for (sfx <- Seq("_exact", "_pref", "_sh", "_band", "_tombs");
           t <- Seq(s"$base$sfx", s"$base${sfx}__next"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("withForcedBucketedScan composes under concurrent and nested use") {
    // compactions of INDEPENDENT structures run as concurrent driver jobs
    // (graft.exec.Concurrent); the forced-bucketed-scan window must hold
    // for every body until the LAST one exits — a plain set/restore pair
    // would let the first leg to finish restore the conf out from under a
    // sibling whose shuffle-free per-bucket fold depends on it.
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val before = spark.conf.get(confKey)
    val sawForced = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.exec.Concurrent.run(
      () => ext.BucketedTables.withForcedBucketedScan(spark) {
        Thread.sleep(40)
        if (spark.conf.get(confKey) == "false") sawForced.incrementAndGet(): Unit
      },
      () => ext.BucketedTables.withForcedBucketedScan(spark) {
        Thread.sleep(150) // outlives the sibling's exit
        if (spark.conf.get(confKey) == "false") sawForced.incrementAndGet(): Unit
      })
    assert(sawForced.get() == 2,
      "every concurrent body must observe the forced scan for its whole run")
    assert(spark.conf.get(confKey) == before, "last exit restores the conf")
    ext.BucketedTables.withForcedBucketedScan(spark) {
      ext.BucketedTables.withForcedBucketedScan(spark) { () }
      assert(spark.conf.get(confKey) == "false",
        "a nested exit must not restore early")
    }
    assert(spark.conf.get(confKey) == before)
  }

  test("streaming upsert sink maintains a keyed dimension across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_supsert").toString
    val input = MemoryStream[(Long, String)]
    val q = IO.writeStreamUpsert(input.toDF().toDF("k", "v"),
      s"$dir/dim", s"$dir/ckpt", Seq("k")).start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "B2"), (3L, "c")) // update 2, insert 3
      q.processAllAvailable()
      val r = spark.read.parquet(s"$dir/dim").as[(Long, String)].collect().toSet
      assert(r == Set((1L, "a"), (2L, "B2"), (3L, "c")))
    } finally q.stop()
  }
}
