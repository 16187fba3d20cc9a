package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.SimilarityIndex

/** Controlled experiment: full [[SimilarityIndex.compact]] vs
  * [[SimilarityIndex.compactPartial]] on the SAME index state — the ANN
  * twin of [[CompactBench]]: a standing cells table with append
  * pressure and a FIXED-COUNT sparse takedown (takedowns are
  * request-driven; they do not scale with the corpus). Two identical
  * indexes are built (bulk write + steady-state compact + one appended
  * batch + K tombstones), then each is folded by one strategy under a
  * timer. The interesting number is the RATIO and how it moves with sf:
  * the full fold rewrites (and re-counts) the corpus, the partial fold
  * rewrites only the files physically holding tombstoned rows,
  * hard-links the rest, and FOLDS the occupancy sidecar instead of
  * re-scanning.
  *
  * `repl` replicates the corpus with shifted ids (the [[ScaleUp]] trick,
  * applied in-memory) so the experiment can walk the cells table into
  * the GB range where the data term separates the strategies — the
  * fixture's embeddings table is only ~40 MB even at 100×, and below
  * that both folds are a handful of fixed-cost Spark jobs.
  *
  * Usage: runMain graft.tools.AnnCompactBench <sfDir> [nDeletes] [buckets] [k] [repl] [rowsPerFile]
  * `rowsPerFile` overrides [[SimilarityIndex.RowsPerFileConfKey]] for
  * the whole experiment (build + both folds) — the r15 tuning axis: a
  * smaller cap shrinks the rewrite term (each tombstone dirties fewer
  * rows) but multiplies file count, which grows the discovery scan's
  * footer reads and the carry-over link count.
  * Emits one JSON line: {"sf":…,"n_vecs":…,"n_deletes":…,"buckets":…,
  *   "k":…,"repl":…,"rows_per_file":…,"full_sec":…,"partial_sec":…,
  *   "ratio":…} */
object AnnCompactBench {

  private def time[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nDeletes = if (args.length > 1) args(1).toInt else 12
    val buckets = if (args.length > 2) args(2).toInt else 32
    val k = if (args.length > 3) args(3).toInt else 16
    val spark = SparkSession.builder()
      .appName("graft-ann-compact-bench").master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.driver.memory",
        sys.env.getOrElse("SPARK_DRIVER_MEM", "16g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val repl = if (args.length > 4) args(4).toInt else 1
    val rowsPerFile =
      if (args.length > 5) args(5).toLong
      else spark.conf.getOption(SimilarityIndex.RowsPerFileConfKey)
        .map(_.toLong).getOrElse(2048L)
    spark.conf.set(SimilarityIndex.RowsPerFileConfKey, rowsPerFile.toString)
    val e0 = Tables(spark, sfDir, "embeddings")
    // Replication stride 2e9: ABOVE ScaleUp's vec_id stride × copies
    // (1e7 × 100 ≤ 990M at sf10), so replicated ids never collide with
    // the scaled fixture's own. The r13 runs used 1e7 — colliding with
    // ScaleUp's stride — so every repl copy duplicated an existing row
    // verbatim and the first compact folded the corpus back down
    // (~218k distinct rows behind a "6.4M vectors" label); with a
    // disjoint stride the distinct corpus actually scales with repl.
    val e =
      if (repl <= 1) e0
      else (0 until repl).map(i => e0.withColumn("vec_id",
          col("vec_id") + lit(i.toLong * 2000000000L)))
        .reduce(_.unionByName(_))
    val corpus = e.filter(col("vec_id") % 5 =!= 0).localCheckpoint()
    val delta = e.filter(col("vec_id") % 5 === 0).localCheckpoint()
    val nVecs = corpus.count()
    val tomb = corpus.select("vec_id").orderBy("vec_id")
      .limit(nDeletes).localCheckpoint()
    def build(base: String): Unit = {
      SimilarityIndex.write(corpus, "embedding", "vec_id", base,
        k = k, iters = 1, buckets = buckets)
      // fold the build's parallel-write fragmentation once: the timed
      // comparison runs on the steady-state layout (bulk load compacts;
      // appends land one file per bucket)
      SimilarityIndex.compact(spark, base)
      SimilarityIndex.append(spark, base, delta)
      SimilarityIndex.delete(spark, base, tomb)
    }
    build("t_acbench_full"); build("t_acbench_part")
    // what compactAuto would dispatch on this state (file count + dirty
    // share; the ANN index keeps no append counter) — committed next to
    // the measured winner so the artifact shows the policy tracking the
    // crossover
    val files = graft.ext.BucketedTables
      .bucketFilePaths(spark, SimilarityIndex.cellsTable("t_acbench_part"))
      .size
    val auto = graft.ext.BucketedTables
      .compactionChoice(files, math.min(nDeletes, files), appended = None)
    val fullSec = time(SimilarityIndex.compact(spark, "t_acbench_full"))
    val partSec = time(SimilarityIndex.compactPartial(spark, "t_acbench_part"))
    println(f"""{"sf":"$sfDir","n_vecs":$nVecs,"n_deletes":$nDeletes,""" +
      f""""buckets":$buckets,"k":$k,"repl":$repl,""" +
      f""""rows_per_file":$rowsPerFile,"files":$files,""" +
      f""""auto":"$auto","full_sec":$fullSec%.3f,""" +
      f""""partial_sec":$partSec%.3f,"ratio":${fullSec / partSec}%.2f}""")
    spark.stop()
  }
}
