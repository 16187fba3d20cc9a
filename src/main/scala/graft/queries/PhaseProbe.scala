package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Scratch phase profiler for the cluster streaming family — NOT part of
  * the driver contract. Runs q_stream_cluster_readmit's own chain
  * ([[ExtQueries.clusterReadmit]], under a probe tag and index) with
  * wall-clock + job-count attribution per phase, so the
  * optimization work on the bench's #1 entry starts from numbers instead
  * of guesses (guide §1). Run:
  *
  *   sbt "runMain graft.queries.PhaseProbe [sfDir]"
  */
object PhaseProbe {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000).selectExpr("sum(id)").collect()
    s.read.parquet(s"$dir/region.parquet").count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobSecs = new java.util.concurrent.atomic.DoubleAdder()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // (callsite -> (count, totalSec)) per phase, reset at phase start
    val bySite =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Double)]()
    val verbose = sys.env.get("PHASEPROBE_SITES").contains("1")
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        starts.put(j.jobId, System.nanoTime()); jobs.incrementAndGet()
        // prefer the §1.5 job description (set per Concurrent leg /
        // withDesc phase); fall back to the result stage's callsite
        val desc = Option(j.properties.getProperty("spark.job.description"))
          // streaming prepends its own multi-line description; keep the
          // last " / "-composed segment (the graft label) and flatten
          .map(_.split(" / ").last.replace('\n', ' ').trim)
          .filter(d => d.nonEmpty && !d.startsWith("id = "))
        sites.put(j.jobId, desc.getOrElse(
          "UNLABELED: " + j.stageInfos.sortBy(_.stageId)
            .map(_.name.takeWhile(_ != '+').trim).distinct.mkString(" <- ")
            + " rdd=" + j.stageInfos.sortBy(_.stageId).lastOption
              .map(_.details.linesIterator.take(4).mkString("|"))
              .getOrElse("")))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(j.jobId)
        if (t0 != 0L) {
          val dt = (System.nanoTime() - t0) / 1e9
          jobSecs.add(dt)
          val site = Option(sites.remove(j.jobId)).getOrElse("?")
          bySite.merge(site, (1, dt),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
    })

    val phase: Scratch.Phases = new Scratch.Phases {
      def apply[A](name: String)(body: => A): A = {
        bySite.clear()
        val j0 = jobs.get(); val s0 = jobSecs.sum(); val t0 = System.nanoTime()
        val r = body
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[phase] $name%-22s $dt%7.2fs  jobs=${jobs.get() - j0}%3d  jobSecSum=${jobSecs.sum() - s0}%7.2f")
        if (verbose) {
          import scala.jdk.CollectionConverters._
          bySite.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
            case (site, (n, sec)) =>
              System.err.println(f"[site]    $site%-44s n=$n%3d  sum=$sec%6.2fs")
          }
        }
        r
      }
    }

    // one warm pass + one measured pass: the bench reports best-of-2, so
    // the steady-state (second) pass is the one to attribute
    (1 to 2).foreach { pass =>
      System.err.println(s"=== q_stream_cluster_readmit pass $pass ===")
      val tt0 = System.nanoTime()
      val members = ExtQueries.clusterReadmit(s, dir, "streamccre_probe",
        "graft_idx_streamccre_probe", phase)
      phase("final_read")(members.count())
      System.err.println(f"[phase] TOTAL                  ${(System.nanoTime() - tt0) / 1e9}%7.2fs")
    }
    s.stop()
  }
}
