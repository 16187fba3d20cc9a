package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Preference, PreferenceIndex}

/** Pairwise judgments between items with planted strengths: each judgment
  * is a tie with a fixed probability, otherwise won by item i with
  * probability g_i / (g_i + g_j). Ground truth is the live judgment log
  * the client keeps (appended windows minus withdrawn items). */
object PreferenceGen {
  val Items = 24
  val WindowJudgments = 400
  val InitialWindows = 3
  val TieShare = 0.15
  val FitIters = 2
  val BootReps = 2
  /** Every 2nd operation withdraws one item and compacts. */
  val TakedownEvery = 2

  val schema = StructType(Seq(StructField("ia", StringType),
    StructField("ib", StringType), StructField("outcome", StringType)))

  final class Gen(seed: Long) {
    private val r = new Random(seed)
    val strength: Vector[Double] = Vector.fill(Items)(math.exp(r.nextGaussian()))
    def item(i: Int): String = f"item-$i%03d"
    def window(items: IndexedSeq[Int]): Seq[(String, String, String)] =
      Seq.fill(WindowJudgments) {
        val a = items(r.nextInt(items.size))
        var b = items(r.nextInt(items.size))
        while (b == a) b = items(r.nextInt(items.size))
        val oc =
          if (r.nextDouble() < TieShare) "tie"
          else if (r.nextDouble() < strength(a) / (strength(a) + strength(b))) "a"
          else "b"
        (item(a), item(b), oc)
      }
  }
}

/** Leaderboard maintenance over the batch-dir-chain `PreferenceIndex`:
  * each operation lands one window of judgments and refreshes the
  * leaderboard (a tie-aware Rao-Kupper fit plus a bootstrap interval over
  * the live per-batch matrices); periodically one item is withdrawn and
  * the index compacted. */
final class PreferenceWorkload extends Workload {
  import PreferenceGen._

  private var gen: Gen = _
  private val log = mutable.ArrayBuffer.empty[(String, String, String)]
  private var items: IndexedSeq[Int] = (0 until Items).toIndexedSeq
  private var batch = 0L
  private[perfbench] var inputBytes = 0L

  def shape: Seq[(String, Any)] = Seq(
    "items" -> Items, "window_judgments" -> WindowJudgments,
    "initial_windows" -> InitialWindows, "tie_share" -> TieShare,
    "fit_iters" -> FitIters, "bootstrap_reps" -> BootReps,
    "takedown_every" -> TakedownEvery)

  private def base(ctx: Ctx) = ctx.path("pref")

  private def landWindow(ctx: Ctx): Long = {
    val spark = ctx.spark
    val w = gen.window(items)
    val path = ctx.path(s"in/window-$batch")
    spark.createDataFrame(spark.sparkContext.parallelize(w.map(Row.fromTuple), 1), schema)
      .write.parquet(path)
    val bytes = Disk.bytes(path)
    inputBytes += bytes
    ctx.span("ext.PreferenceIndex.appendJudgments") {
      PreferenceIndex.appendJudgments(spark, base(ctx), spark.read.parquet(path),
        "ia", "ib", "outcome", batch)
    }
    log ++= w
    batch += 1
    bytes
  }

  def setup(ctx: Ctx): Unit = {
    gen = new Gen(ctx.seed)
    (0 until InitialWindows).foreach(_ => landWindow(ctx))
  }

  /** Cycles of `TakedownEvery - 1` main operations and a takedown. */
  override def cycle: Int = TakedownEvery

  def op(ctx: Ctx, i: Int): Done =
    if (i % cycle == cycle - 1) takedown(ctx) else refresh(ctx)

  /** Live (winner, loser, n) and (a, b, n) counts: the standing index
    * read per batch and summed over batches. */
  private def live(ctx: Ctx): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    (PreferenceIndex.matrixByBatch(spark, base(ctx))
      .groupBy("winner", "loser").agg(sum("n").as("n")),
     PreferenceIndex.tiesByBatch(spark, base(ctx))
      .groupBy("a", "b").agg(sum("n").as("n")))
  }

  private def fit(comp: DataFrame, ties: DataFrame): Map[String, (Double, Double)] =
    Preference.rkRatings(comp, ties, FitIters).collect()
      .map(r => r.getAs[String]("item") -> (r.getAs[Double]("gamma"), r.getAs[Double]("theta")))
      .toMap

  private def refresh(ctx: Ctx): Done = {
    val bytes = landWindow(ctx)
    val (comp, ties) = live(ctx)
    val board = ctx.span("ext.Preference.fit")(fit(comp, ties))
    val ci = ctx.span("ext.Preference.bootstrap") {
      Preference.rkBootstrapCi(comp, ties, FitIters, BootReps, 1, BootReps).collect()
    }
    val judged = log.toSeq
    Done("main", WindowJudgments, bytes, () => {
      Check.same("leaderboard vs batch fit over the live judgments", board,
        fit(ctx, judged))
      Check.same("bootstrap interval rows", ci.length, board.size)
    })
  }

  /** The batch fit: the same Preference fit over counts aggregated on
    * the driver from the client's own judgment log. */
  private def fit(ctx: Ctx, judged: Seq[(String, String, String)]): Map[String, (Double, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    val wins = judged.filter(_._3 != "tie")
      .map { case (a, b, oc) => if (oc == "a") (a, b) else (b, a) }
      .groupBy(identity).map { case ((w, l), xs) => (w, l, xs.size.toLong) }.toSeq
    val ties = judged.filter(_._3 == "tie")
      .map { case (a, b, _) => if (a < b) (a, b) else (b, a) }
      .groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }.toSeq
    fit(wins.toDF("winner", "loser", "n"), ties.toDF("a", "b", "n"))
  }

  private def takedown(ctx: Ctx): Done = {
    val spark = ctx.spark
    import spark.implicits._
    val victim = gen.item(items.head)
    items = items.tail
    ctx.span("ext.PreferenceIndex.withdraw") {
      PreferenceIndex.withdraw(spark, base(ctx), Seq(victim).toDF("item"), "item", batch)
    }
    batch += 1
    ctx.span("ext.PreferenceIndex.compactBatched")(PreferenceIndex.compactBatched(spark, base(ctx)))
    log.filterInPlace { case (a, b, _) => a != victim && b != victim }
    Done("takedown", 0, 0, () => {
      val (comp, ties) = live(ctx)
      val seen = comp.select("winner").union(comp.select("loser"))
        .union(ties.select("a")).union(ties.select("b")).distinct().as[String].collect().toSet
      Check.expect(!seen(victim), s"withdrawn item $victim still readable")
    })
  }

  override def finish(ctx: Ctx): Map[String, Double] =
    Map("space_amp" -> Disk.bytes(base(ctx)).toDouble / inputBytes)

  override def storageDirs(ctx: Ctx): Seq[String] = Seq(base(ctx))
}
