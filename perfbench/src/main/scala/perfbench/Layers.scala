package perfbench

/** The per-layer figures of a traced run, read off its spans. Layer
  * times are medians, over the top-level spans (set-up or client
  * operation) that call the layer, of the layer's time within each. Spark
  * counters are medians over the main operations. */
object Layers {
  val Families = Seq("ingest", "cluster", "dedup", "ann")

  /** Layer spans the workloads open, timed as `<name>_s`. */
  val Timed = Seq(
    "compile.plan", "compile.analyze", "exec.run",
    "ext.DedupIndex.write", "ext.DedupIndex.delete", "ext.DedupIndex.compactPartial",
    "ext.ClusterIndex.withdraw", "ext.ClusterIndex.compact",
    "ext.SimilarityIndex.write", "ext.SimilarityIndex.topKBatch",
    "ext.SimilarityIndex.append", "ext.SimilarityIndex.delete",
    "ext.SimilarityIndex.compactPartial",
    "ext.PreferenceIndex.appendJudgments", "ext.PreferenceIndex.withdraw",
    "ext.PreferenceIndex.compactBatched", "ext.Preference.fit",
    "ext.Preference.bootstrap")

  /** Every per-layer metric, with its unit, in output order. */
  val names: Seq[(String, String)] =
    Timed.map(t => s"${t}_s" -> "s") ++ Seq(
      "compile.fields" -> "count",
      "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
      "concurrent.overlap" -> "ratio") ++
    Families.flatMap(f => Seq(s"label.$f.jobs" -> "count", s"label.$f.busy_s" -> "s")) ++
    Seq(
      "sources.read_bytes" -> "bytes", "sources.write_bytes" -> "bytes",
      "sources.files_written" -> "count",
      "streaming.add_batch_s" -> "s", "streaming.bookkeeping_s" -> "s",
      "streaming.batches" -> "count",
      "ext.ClusterIndex.cc_jobs" -> "count",
      "ext.SimilarityIndex.rows_examined_per_result" -> "ratio",
      "ext.Preference.fit_jobs" -> "count",
      "storage.files" -> "count", "storage.bytes" -> "bytes",
      "storage.write_amp" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.driver_s" -> "s",
      "takedown_s_p50" -> "s", "recall_at_10" -> "ratio", "space_amp" -> "ratio",
      "trace.overhead_s" -> "s")

  def metrics(ctx: Ctx, mainOps: Seq[Span], filesWritten: Seq[Int],
              inputBytes: Long, storage: Seq[String],
              extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val tr = ctx.tr
    val spans = tr.finish(ctx.spark)
    val m = scala.collection.mutable.Map.empty[String, Double]

    Timed.foreach { t =>
      val perRoot = spans.filter(_.name == t).groupBy(s => tr.root(s).id)
        .values.map(_.map(_.seconds).sum).toSeq
      m(s"${t}_s") = Stats.median(perRoot)
    }
    val fit = spans.filter(_.name == "ext.Preference.fit")
    m("ext.Preference.fit_jobs") = Stats.median(fit.map(s => tr.subtree(s).jobs.toDouble))

    val accs = mainOps.map(s => (s, tr.subtree(s)))
    def med(f: Acc => Double): Double = Stats.median(accs.map { case (_, a) => f(a) })
    m("exec.task_cpu_s") = med(_.cpuNs / 1e9)
    m("exec.gc_s") = med(_.gcMs / 1e3)
    m("concurrent.overlap") = Stats.median(accs.map { case (s, a) =>
      a.labelBusyMs.values.sum / 1e3 / s.seconds })
    Families.foreach { f =>
      m(s"label.$f.jobs") = med(_.labelJobs(f).toDouble)
      m(s"label.$f.busy_s") = med(_.labelBusyMs(f) / 1e3)
    }
    m("sources.read_bytes") = med(_.inBytes.toDouble)
    m("sources.write_bytes") = med(_.outBytes.toDouble)
    m("sources.files_written") = Stats.median(filesWritten.map(_.toDouble))
    m("streaming.add_batch_s") = med(_.addBatchMs / 1e3)
    m("streaming.bookkeeping_s") = med(_.bookkeepingMs / 1e3)
    m("streaming.batches") = med(_.streamBatches.toDouble)
    m("ext.ClusterIndex.cc_jobs") = med(_.ccJobs.toDouble)
    m("spark.jobs") = med(_.jobs.toDouble)
    m("spark.stages") = med(_.stages.toDouble)
    m("spark.tasks") = med(_.tasks.toDouble)
    m("spark.task_run_s") = med(_.taskRunMs / 1e3)
    m("spark.shuffle_read_bytes") = med(_.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes") = med(_.shuffleWrite.toDouble)
    m("spark.spill_bytes") = med(_.spill.toDouble)
    m("spark.driver_s") = Stats.median(accs.map { case (s, a) =>
      math.max(0.0, s.seconds - Stats.unionLength(a.taskIntervals.toSeq) / 1e3) })

    val ops = spans.filter(s => s.parent < 0 && s.name == "op")
    val written = ops.map(s => tr.subtree(s).outBytes).sum
    m("storage.write_amp") = if (inputBytes > 0) written.toDouble / inputBytes else 0.0
    val files = storage.flatMap(Disk.dataFiles)
    m("storage.files") = files.size.toDouble
    m("storage.bytes") = files.map(_.length).sum.toDouble
    m("trace.overhead_s") = if (ops.isEmpty) 0.0 else tr.overheadSeconds / ops.size

    extra.foreach { case (k, v) => m(k) = v }
    names.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }
}
