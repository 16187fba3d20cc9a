package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload's code sees of the run: the session, its private root
  * directory, the seed, and the tracer. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
                val tr: Trace) {
  def span[A](name: String)(body: => A): A = tr.span(spark, name)(body)
  def path(rel: String): String = s"$root/$rel"
}

/** One client operation: its kind ("main" is the operation `op_s_p50`
  * reports), the items it completed, the bytes of user input it handed
  * to the program, and its output check, which runs off the clock and
  * throws on a wrong output. */
final case class Done(kind: String, items: Long, inputBytes: Long,
                      check: () => Unit)

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  def same[A](what: String, got: A, want: A): Unit =
    expect(got == want, s"$what: got $got, want $want")
}

/** A closed-loop workload: one client that waits for each operation. */
trait Workload {
  /** Workload shape parameters, printed with the run. */
  def shape: Seq[(String, Any)]

  /** Generate the inputs from the seed and build the standing structure. */
  def setup(ctx: Ctx): Unit

  /** Operations in one cycle of the workload's mix. A run measures whole
    * cycles only, so every run does the same mix. */
  def cycle: Int = 1

  /** Untimed warm-up operations before the measured cycles. Operation 0
    * is a main operation in every workload; a run's measured window is
    * whole cycles from wherever the warm-up ends, so it holds the same mix
    * whatever the warm-up. */
  def warmup: Int = 1

  /** Run client operation `i`. */
  def op(ctx: Ctx, i: Int): Done

  /** Workload-level figures read once at the end of the run. */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty

  /** Directories of the standing structures, for the storage figures. */
  def storageDirs(ctx: Ctx): Seq[String] = Nil

  def close(): Unit = ()
}

object Workload {
  val names = Seq("wrangle", "ingest", "serving", "retrieval", "preference")

  def apply(name: String): Workload = name match {
    case "wrangle"    => new WrangleWorkload
    case "ingest"     => new IngestWorkload
    case "serving"    => new ServingWorkload
    case "retrieval"  => new RetrievalWorkload
    case "preference" => new PreferenceWorkload
  }
}
