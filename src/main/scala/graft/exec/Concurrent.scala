package graft.exec

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Overlap INDEPENDENT Spark actions from driver threads — the guide's
  * §2.6 "overlap independent jobs" lever: Spark's scheduler happily runs
  * several jobs at once inside one application; actions are sequential
  * only because driver code calls them sequentially. Legs submitted from
  * separate threads let the next leg's tasks back-fill executors freed by
  * the current leg's tail (FIFO scheduling is exactly the back-fill
  * behaviour wanted), and — just as important for composite lifecycle
  * queries — overlap the per-leg DRIVER costs (planning, file listing,
  * commit protocol) that serial composition pays end to end.
  *
  * Correctness contract: legs must be INDEPENDENT — no leg may read state
  * another leg writes (distinct standing structures, distinct output
  * paths). The combinators below change only WHEN each leg's work happens
  * relative to its siblings, never what any leg computes.
  *
  * Failure discipline (the [[graft.ext.DedupIndex]] writeImpl rule): wait
  * for ALL legs to SETTLE, then rethrow the first failure — failing fast
  * would tear down siblings mid-write and, for table appends, leave state
  * inconsistently appended. Each call gets its own bounded pool so legs
  * that themselves use the global ExecutionContext (index builds) cannot
  * starve the orchestration layer — and so a width cap can never deadlock
  * a NESTED group (a child group's legs queue on the child's own pool,
  * never on a slot its parent holds).
  *
  * Width: the guide's §2.6 guidance is that 2-3 jobs in flight fill a
  * stage tail; beyond that siblings fight for executors. The per-call
  * pool is therefore capped at `spark.graft.concurrent.width` (session
  * conf, default [[DefaultWidth]]) — excess legs queue and run as slots
  * free, in submission order. Legs are LABELED: each leg's thread sets
  * the Spark job description (thread-local, §1.5) to the leg's label for
  * its whole run, so the UI / listeners attribute every job inside the
  * leg — including nested groups, which append their own label. */
object Concurrent {

  /** Cap on concurrently running legs per group. Measured on the heavy
    * lifecycle queries (see OPTIMIZATION_r17.md): unbounded six-way
    * groups oversubscribe the scheduler at local[32] with no wall-clock
    * win over 4; on a cluster the FIFO back-fill needs only enough legs
    * in flight to cover the current leg's tail. Raise per session via
    * `spark.graft.concurrent.width` if profiling shows idle capacity. */
  val DefaultWidth = 4

  /** The calling thread's active session, else the default one. */
  private def session: Option[org.apache.spark.sql.SparkSession] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)

  private def confWidth(): Int =
    session.flatMap(s =>
        Try(s.conf.get("spark.graft.concurrent.width").toInt).toOption)
      .orElse(sys.env.get("SPARK_GRAFT_CONCURRENT_WIDTH")
        .flatMap(v => Try(v.toInt).toOption))
      .getOrElse(DefaultWidth)

  /** Run the legs concurrently (at most the configured width in flight),
    * wait for all to settle, return their results in order; rethrows the
    * first failure after all settle. */
  def all[A](legs: Seq[() => A]): Seq[A] =
    labeled(legs.map(l => ("", l)))

  /** [[all]] with a job-description label per leg (guide §1.5): every
    * Spark job a leg submits carries its label, so profiles and the UI
    * decompose a group's wall-clock by leg. Empty labels leave the
    * inherited description untouched. */
  def labeled[A](legs: Seq[(String, () => A)]): Seq[A] = {
    if (legs.isEmpty) return Seq.empty
    def runLeg(label: String, leg: () => A): A =
      if (label.isEmpty) leg() else withDesc(label)(leg())
    if (legs.size == 1) {
      val (label, leg) = legs.head
      return Seq(runLeg(label, leg))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(legs.size, confWidth())),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-concurrent-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // Pool threads inherit the SUBMITTER's thread-local Spark properties
    // only if created while the submitting thread runs; with a capped
    // pool a reused thread would otherwise carry the previous leg's
    // properties. Capture the caller's properties once and restore them
    // at the start of every leg so reuse is invisible.
    val callerDesc = session.map(_.sparkContext)
      .flatMap(c => Option(c.getLocalProperty("spark.job.description")))
    try {
      val settled = Await.result(
        Future.sequence(legs.map { case (label, leg) =>
          Future {
            session.foreach(_.sparkContext.setJobDescription(callerDesc.orNull))
            runLeg(label, leg)
          }.transform(Try(_))
        }),
        Duration.Inf)
      settled.collectFirst { case Failure(e) => throw e }
      settled.map(_.get)
    } finally pool.shutdown()
  }

  /** Unit-leg convenience: `run(legA, legB, ...)`. */
  def run(legs: (() => Unit)*): Unit = { all(legs): Unit }

  /** Label every Spark job `body` submits from THIS thread (guide §1.5) —
    * the serial-phase twin of [[labeled]]'s per-leg labels. Restores the
    * previous description on exit, so a labeled phase nests cleanly
    * inside foreachBatch and inside other labeled phases. */
  def withDesc[A](label: String)(body: => A): A = {
    val sc = session.map(_.sparkContext)
    // nested labels compose left-to-right ("outer / inner")
    val prev = sc.flatMap(c =>
      Option(c.getLocalProperty("spark.job.description")))
    val full = prev.fold(label)(p => s"$p / $label")
    sc.foreach(_.setJobDescription(full))
    try body
    finally sc.foreach(_.setJobDescription(prev.orNull))
  }
}
