package graft.ext

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTest

/** Every crash window of the shared compaction commit ([[DeltaChains]]),
  * for each structure on it: after a crash, the next entry point must
  * read the uninterrupted end state, and the on-disk layout must match
  * the uninterrupted compaction's. The markers are written here with raw
  * Hadoop FS calls, which also pins their format (decimal id, UTF-8). */
class DeltaChainsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  private def fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** A structure on the protocol: its chains, the dirs a committed
    * compaction retires whole, a small build ending in a pending takedown,
    * a read through a healing entry point, and its compaction. */
  private case class Structure(name: String, chains: Seq[String],
                               retired: Seq[String], build: String => Unit,
                               state: String => Any, compact: String => Long)

  private val chunk = Structure("ChunkIndex", Seq("docs", "cuts", "manifest"),
    Seq("tombs"),
    build = { base =>
      val docs = (0L until 40L).map(i =>
        (i, s"doc $i word${i % 7} alpha ${i * 13 % 11} beta")).toDF("doc_id", "text")
      Seq(0L, 1L).foreach(b => ChunkIndex.append(spark, base,
        docs.filter($"doc_id" % 2 === b), "text", "doc_id",
        seed = 42L, cutMod = 4L, batchId = b))
      ChunkIndex.delete(spark, base, docs.filter($"doc_id" % 5 === 3),
        "doc_id", cutMod = 4L, batchId = 2L)
    },
    state = { base =>
      (ChunkIndex.readManifest(spark, base)
         .as[(Long, Long, Long, Long)].collect().toSet,
       ChunkIndex.readDocs(spark, base).select("doc_id").as[Long].collect().toSet)
    },
    compact = ChunkIndex.compact(spark, _, cutMod = 4L))

  private val preference = Structure("PreferenceIndex", Seq("edges", "ties"),
    Seq("tombs"),
    build = { base =>
      def judge(b: Long, rows: (String, String, String)*): Unit =
        PreferenceIndex.appendJudgments(spark, base, rows.toDF("a", "b", "oc"),
          "a", "b", "oc", batchId = b)
      judge(0L, ("x", "y", "a"), ("y", "z", "tie"), ("x", "z", "b"))
      judge(1L, ("x", "y", "b"), ("w", "z", "tie"), ("w", "y", "a"))
      PreferenceIndex.withdraw(spark, base, Seq("w").toDF("item"), "item", 2L)
      judge(3L, ("x", "z", "tie"), ("y", "w", "a"), ("z", "y", "a"))
    },
    state = { base =>
      (PreferenceIndex.matrix(spark, base).as[(String, String, Long)].collect().toSet,
       PreferenceIndex.ties(spark, base).as[(String, String, Long)].collect().toSet)
    },
    compact = PreferenceIndex.compact(spark, _))

  private val cluster = Structure("ClusterIndex", Seq("members", "edges"), Nil,
    build = { base =>
      def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
      ClusterIndex.fold(spark, base, edges((1L, 2L), (2L, 3L)),
        Seq(1L, 2L, 3L).toDF("id"), 0L)
      ClusterIndex.fold(spark, base, edges((3L, 4L), (5L, 6L)),
        Seq(4L, 5L, 6L).toDF("id"), 1L)
      ClusterIndex.withdraw(spark, base, Seq(2L).toDF("id"),
        ClusterIndex.nextBatchId(spark, base))
    },
    state = { base =>
      (ClusterIndex.current(spark, base).as[(Long, Long)].collect().toMap,
       ClusterIndex.liveEdges(spark, base).as[(Long, Long)].collect().toSet)
    },
    compact = ClusterIndex.compact(spark, _))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_chains").toString + "/idx"

  private def copyOf(base: String): String = {
    val to = fresh()
    FileUtil.copy(fs, new Path(base), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration)
    to
  }

  private def writeMarker(base: String, name: String, c: Long): Unit = {
    val out = fs.create(new Path(s"$base/$name"), true)
    try out.write(c.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Batch dirs per chain and retired dir (None: dir absent), plus the
    * markers present. */
  private def layout(s: Structure, base: String) =
    ((s.chains ++ s.retired).map { d =>
      val p = new Path(s"$base/$d")
      d -> (if (!fs.exists(p)) None
            else Some(fs.listStatus(p).map(_.getPath.getName)
              .filter(_.startsWith("batch_id=")).sorted.toSeq))
    }, Seq("_compact_start", "_compact_commit")
      .filter(m => fs.exists(new Path(s"$base/$m"))))

  for (s <- Seq(chunk, preference, cluster))
    test(s"${s.name}: every compaction crash window heals to the " +
         "uninterrupted end state (roll back, roll forward, re-heal)") {
      val base = fresh()
      s.build(base)
      val before = s.state(base)
      // the uninterrupted reference run, on a copy
      val ref = copyOf(base)
      val c = s.compact(ref)
      val end = s.state(ref)
      val endLayout = layout(s, ref)
      assert(end == before, "compaction changed the logical state")
      assert(endLayout._1.forall { case (d, bs) =>
        bs.forall(_ == Seq(s"batch_id=$c")) && (bs.isEmpty == s.retired.contains(d))
      } && endLayout._2.isEmpty, s"reference layout: $endLayout")

      // 1. start marker + a partial consolidated batch (only the first
      //    chain landed): the entry point rolls back, a re-run completes
      val back = copyOf(base)
      writeMarker(back, "_compact_start", c)
      FileUtil.copy(fs, DeltaChains.batchDir(ref, s.chains.head, c),
        fs, DeltaChains.batchDir(back, s.chains.head, c), false,
        spark.sparkContext.hadoopConfiguration)
      assert(s.state(back) == end, "roll-back changed the logical state")
      assert(layout(s, back) == layout(s, base), "roll-back left debris")
      assert(s.compact(back) == c)
      assert(s.state(back) == end && layout(s, back) == endLayout)

      // 2. commit marker with every consolidated batch landed but the old
      //    batches (and retired dirs) still on disk: rolls forward
      val fwd = copyOf(base)
      for (ch <- s.chains if fs.exists(DeltaChains.batchDir(ref, ch, c)))
        FileUtil.copy(fs, DeltaChains.batchDir(ref, ch, c),
          fs, DeltaChains.batchDir(fwd, ch, c), false,
          spark.sparkContext.hadoopConfiguration)
      writeMarker(fwd, "_compact_start", c)
      writeMarker(fwd, "_compact_commit", c)
      assert(s.retired.forall(d => fs.exists(new Path(s"$fwd/$d"))))
      assert(s.state(fwd) == end, "roll-forward changed the logical state")
      assert(layout(s, fwd) == endLayout, "heal did not roll forward")

      // 3. crash inside the trailing heal, after the old batches are gone:
      //    both markers (or, later, only the commit marker) still present
      for (markers <- Seq(Seq("_compact_start", "_compact_commit"),
                          Seq("_compact_commit"))) {
        val late = copyOf(ref)
        markers.foreach(writeMarker(late, _, c))
        assert(s.state(late) == end, s"re-heal with $markers")
        assert(layout(s, late) == endLayout, s"re-heal with $markers")
      }
    }
}
