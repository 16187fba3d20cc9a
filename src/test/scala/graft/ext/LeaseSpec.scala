package graft.ext

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A filesystem whose create is NOT a trustworthy atomic
  * create-if-absent and which advertises no conditional-create
  * capability — the shape of an object store the lease must REFUSE
  * rather than silently not-protect. Backed by the local filesystem so
  * the trusted-scheme escape hatch can be exercised end-to-end. */
class NoAtomicFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "noatomic"
  override def getUri: java.net.URI = java.net.URI.create("noatomic:///")
  override def hasPathCapability(p: Path, cap: String): Boolean = false
}

/** A filesystem whose create fails with a plain IOException — a
  * permission error / unreachable store, NOT a held lease. */
class FailingCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failcreate"
  override def getUri: java.net.URI = java.net.URI.create("failcreate:///")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    throw new java.io.IOException("simulated store outage")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    throw new java.io.IOException("simulated store outage")
}

class LeaseSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTest.spark
  import spark.implicits._

  private def tmpRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  /** Put the session's own index root back (unsetting would fall back
    * to the shared default root). */
  private def restoreRoot(prev: Option[String]): Unit =
    prev.fold(spark.conf.unset(BucketedTables.RootConfKey))(
      spark.conf.set(BucketedTables.RootConfKey, _))

  test("capability gate: a scheme with no atomic create-if-absent is " +
       "REFUSED loudly; the operator trust conf unlocks it") {
    spark.conf.set("fs.noatomic.impl", classOf[NoAtomicFs].getName)
    val prevRoot = spark.conf.getOption(BucketedTables.RootConfKey)
    spark.conf.set(BucketedTables.RootConfKey,
      "noatomic://" + tmpRoot("graft_noatomic"))
    try {
      val e = intercept[IllegalStateException](
        BucketedTables.withWriterLease(spark, "t_gate_idx_exact", "append") {
          fail("body must not run when the lease cannot exclude")
        })
      assert(e.getMessage.contains("unsupported") &&
        e.getMessage.contains("noatomic") &&
        e.getMessage.contains(BucketedTables.LeaseTrustConfKey),
        s"refusal must name the scheme and the escape hatch: ${e.getMessage}")
      // the operator vouches for the scheme -> the lease proceeds (and
      // releases on the way out)
      spark.conf.set(BucketedTables.LeaseTrustConfKey, "noatomic")
      val got = BucketedTables.withWriterLease(
        spark, "t_gate_idx_exact", "append") { 42 }
      assert(got == 42)
      assert(BucketedTables.leaseInfo(spark, "t_gate_idx_exact").isEmpty,
        "a completed leased op must release its lease")
    } finally {
      spark.conf.unset(BucketedTables.LeaseTrustConfKey)
      restoreRoot(prevRoot)
    }
  }

  test("a store outage during acquisition is rethrown as ITSELF — never " +
       "misdiagnosed as a held lease") {
    spark.conf.set("fs.failcreate.impl", classOf[FailingCreateFs].getName)
    val prevRoot = spark.conf.getOption(BucketedTables.RootConfKey)
    spark.conf.set(BucketedTables.RootConfKey,
      "failcreate://" + tmpRoot("graft_failcreate"))
    // trusted, so the gate lets the create run (and fail)
    spark.conf.set(BucketedTables.LeaseTrustConfKey, "failcreate")
    try {
      val e = intercept[java.io.IOException](
        BucketedTables.withWriterLease(spark, "t_fail_idx_exact", "append") {
          fail("body must not run when acquisition failed")
        })
      assert(e.getMessage.contains("simulated store outage"))
      assert(!e.getMessage.contains("held by"),
        "an IO failure must not be reported as a held lease")
    } finally {
      spark.conf.unset(BucketedTables.LeaseTrustConfKey)
      restoreRoot(prevRoot)
    }
  }

  test("liveness heartbeat: renewLease advances the lease mtime a dead " +
       "writer's lease never moves; leaseInfo exposes holder + mtime") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    DedupIndex.write(docs, "text", "doc_id", "lang", "t_live_idx",
      threshold = 0.5, buckets = 4)
    try {
      BucketedTables.withWriterLease(spark, "t_live_idx_exact", "slowop") {
        val Some((holder0, _)) =
          BucketedTables.leaseInfo(spark, "t_live_idx_exact")
        assert(holder0.startsWith("slowop by "),
          s"token must carry op + process: $holder0")
        // rewind the clock: a DEAD writer's lease would sit at this
        // mtime forever — leaseInfo keeps reporting it unchanged
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("t_live_idx_exact"))
          .location
        val leaseFile = new java.io.File(
          new java.io.File(loc).getParentFile, "_lease")
        assert(leaseFile.setLastModified(1000000L))
        val Some((_, dead)) =
          BucketedTables.leaseInfo(spark, "t_live_idx_exact")
        assert(dead == 1000000L)
        // a LIVE writer's phase-boundary heartbeat advances it
        BucketedTables.renewLease(spark, "t_live_idx_exact")
        val Some((holder1, live)) =
          BucketedTables.leaseInfo(spark, "t_live_idx_exact")
        assert(live > 1000000L, "renewLease must advance the mtime")
        assert(holder1 == holder0, "renew must not disturb the token")
      }
      // heartbeat on a table with no lease held: a no-op, never a crash
      BucketedTables.renewLease(spark, "t_live_idx_exact")
      assert(BucketedTables.leaseInfo(spark, "t_live_idx_exact").isEmpty)
    } finally {
      for (sfx <- Seq("_exact", "_pref", "_sh", "_band", "_tombs");
           t <- Seq(s"t_live_idx$sfx", s"t_live_idx${sfx}__next"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a REAL second writer racing through the public API: one acquires, " +
       "the loser throws the lease message, row counts stay exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    DedupIndex.write(docs, "text", "doc_id", "lang", "t_race_idx",
      threshold = 0.5, buckets = 4)
    try {
      var before = spark.table("t_race_idx_exact").count()
      var collided = false
      var round = 0
      // latch-align two REAL appendKept calls; the loser must fail at
      // acquisition (fast) while the winner's multi-table append is in
      // flight (slow), so a collision is near-certain — but serialized
      // execution is legal, so retry until one is observed
      while (!collided && round < 8) {
        round += 1
        val batches = Seq(0, 1).map { i =>
          val id = 900000L + round * 10 + i
          Seq((id, "en", s"race round $round writer $i unique words " +
            s"nonce${id}")).toDF("doc_id", "lang", "text")
        }
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val outcomes = Await.result(Future.sequence(batches.map { b =>
          Future {
            val keep = b.select(col("doc_id"), lit(true).as("keep"),
              lit(null).cast("string").as("reason"))
            barrier.await()
            try Right(DedupIndex.appendKept(spark, "t_race_idx", b, keep,
              "text", "doc_id", "lang", threshold = 0.5,
              batchId = round.toLong))
            catch { case e: IllegalStateException => Left(e) }
          }
        }), 5.minutes)
        val losers = outcomes.collect { case Left(e) => e }
        assert(losers.size < 2, "both writers lost — nothing acquired")
        losers.foreach { e =>
          assert(e.getMessage.contains("lease held by"),
            s"loser must see the held-lease message: ${e.getMessage}")
        }
        // EXACT accounting: each winner appended exactly its one row;
        // the loser's rows must not have landed anywhere
        val winners = outcomes.count(_.isRight)
        val after = spark.table("t_race_idx_exact").count()
        assert(after == before + winners,
          s"round $round: $winners winners but count went $before -> $after")
        before = after
        if (losers.nonEmpty) collided = true
      }
      assert(collided,
        "8 latch-aligned rounds never collided — the acquisition race " +
          "window was never exercised")
      // the index stays fully writable afterwards (no lease leaked)
      assert(BucketedTables.leaseInfo(spark, "t_race_idx_exact").isEmpty)
      DedupIndex.compact(spark, "t_race_idx")
      assert(spark.table("t_race_idx_exact").count() == before)
    } finally {
      for (sfx <- Seq("_exact", "_pref", "_sh", "_band", "_tombs");
           t <- Seq(s"t_race_idx$sfx", s"t_race_idx${sfx}__next"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
