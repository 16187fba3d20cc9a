package perfbench

/** The retrieval and preference workloads served side by side by one
  * client over one session: query batches, appends and deletes against
  * the `SimilarityIndex`, interleaved with judgment windows folded into
  * the `PreferenceIndex` and leaderboard refreshes, item withdrawals and
  * compactions. It runs every `ext` index layer that ingest and wrangle
  * bypass in one run, so a benchmark of few workloads still measures them.
  *
  * The main operation is the query batch. A leaderboard refresh is kind
  * `refresh`; both workloads' takedowns are kind `takedown`. Items are
  * the queries answered plus the judgments folded. */
final class ServingWorkload extends Workload {
  private val retrieval = new RetrievalWorkload
  private val preference = new PreferenceWorkload
  private var ri, pi = 0

  /** One cycle: a retrieval cycle with a preference cycle spread evenly
    * through it. Operation 0 is a query batch. */
  private val prefAt: Vector[Boolean] = {
    val n = retrieval.cycle + preference.cycle
    val gap = n / preference.cycle
    Vector.tabulate(n)(k => k % gap == gap / 2)
  }
  require(prefAt.count(identity) == preference.cycle && !prefAt.take(warmup).contains(true))

  override def cycle: Int = prefAt.size

  /** The query batches before the first refresh: the first few of a run
    * are still a third slower than the rest. */
  override def warmup: Int = 4

  def shape: Seq[(String, Any)] =
    retrieval.shape.map { case (k, v) => s"retrieval.$k" -> v } ++
    preference.shape.map { case (k, v) => s"preference.$k" -> v } ++
    Seq("preference_ops_per_cycle" -> preference.cycle,
        "retrieval_ops_per_cycle" -> retrieval.cycle)

  def setup(ctx: Ctx): Unit = {
    retrieval.setup(ctx)
    preference.setup(ctx)
  }

  def op(ctx: Ctx, i: Int): Done =
    if (prefAt(i % cycle)) {
      val d = preference.op(ctx, pi)
      pi += 1
      if (d.kind == "main") d.copy(kind = "refresh") else d
    } else {
      val d = retrieval.op(ctx, ri)
      ri += 1
      d
    }

  override def finish(ctx: Ctx): Map[String, Double] = {
    val stored = storageDirs(ctx).map(Disk.bytes).sum
    retrieval.finish(ctx) ++ Map("space_amp" ->
      stored.toDouble / (retrieval.inputBytes + preference.inputBytes))
  }

  override def storageDirs(ctx: Ctx): Seq[String] =
    retrieval.storageDirs(ctx) ++ preference.storageDirs(ctx)
}
