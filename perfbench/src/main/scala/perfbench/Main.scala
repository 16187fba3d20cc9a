package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one seeded closed-loop workload, one client, one
  * JVM. Prints the session config, each metric by name and unit, and as
  * its last stdout line one JSON object with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <empty private directory> */
object Main {
  val ConcurrentWidth = 4
  /** Hard stop for the measuring loop, so a run always ends in time. A
    * run it stops inside a cycle is reported as not correct. */
  val WallLimitS = 140.0

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new java.io.File(a("work")).getAbsolutePath
    require(Disk.dataFiles(work).isEmpty, s"work directory $work is not empty")
    // One core fewer than the machine has: the driver thread, the JIT and
    // the collector keep a core, and on a shared virtual machine a run with
    // every core busy loses more time to other guests. Measured with the
    // wrangle workload on 4 virtual cores, seven interleaved pairs: median
    // op 1.60 s with 3 task slots against 1.89 s with 4, and a quartile
    // spread of about 0.16 against 0.25.
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

    // One set-up in a fresh session over a fresh private root, timed from
    // the session start, so `setup_s` includes the cold start a user sees.
    val root = s"$work/root"
    require(!new java.io.File(root).exists, s"private root $root exists")
    val s0 = System.nanoTime()
    val spark = session(root, cpus)
    isolated(spark, root)
    val ctx = new Ctx(spark, root, seed, new Trace(traced))
    ctx.tr.install(spark)
    val wl = Workload(name)
    ctx.span("setup")(wl.setup(ctx))
    val setupS = (System.nanoTime() - s0) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.2f s, at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    println(s"config master=${spark.sparkContext.master} " +
      s"shuffle_partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"concurrent_width=${spark.conf.get("spark.graft.concurrent.width")} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory >> 20} seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    println("shape " + wl.shape.map { case (k, v) => s"$k=$v" }.mkString(" "))

    // Warm-up operations: checked but not timed.
    var attempted, failed = 0L
    val mainSpans = mutable.ArrayBuffer.empty[Span]
    def runChecked(i: Int, warm: Boolean): (Option[Done], Double) = {
      val s0 = System.nanoTime()
      val r = Try(ctx.span(if (warm) "warmup" else "op")(wl.op(ctx, i)))
      val dt = (System.nanoTime() - s0) / 1e9
      if (!warm && r.toOption.exists(_.kind == "main")) mainSpans ++= ctx.tr.lastTop("op")
      attempted += 1
      val ok = r.flatMap(d => Try(ctx.span("check")(d.check())))
      ok match {
        case Success(_) =>
        case Failure(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
      }
      (r.toOption.filter(_ => ok.isSuccess), dt)
    }
    (0 until wl.warmup).foreach(i => runChecked(i, warm = true))
    System.err.println(f"[perfbench] warm-up done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // Closed loop: the next operation starts when the previous one and
    // its (off-clock) check are done. A failed operation's time stays on
    // the clock; its latency is not recorded.
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var onClock = 0.0
    var items, inBytes = 0L
    var i = wl.warmup
    val filesWritten = mutable.ArrayBuffer.empty[Int]
    val cpu0 = cpuTicks()
    while ((onClock < seconds || (i - wl.warmup) % wl.cycle != 0) &&
           (System.nanoTime() - t0) / 1e9 < WallLimitS) {
      val before = if (traced) Disk.paths(ctx.root) else Set.empty[String]
      val (done, dt) = runChecked(i, warm = false)
      onClock += dt
      done.foreach { d =>
        lat.getOrElseUpdate(d.kind, mutable.ArrayBuffer.empty) += dt
        items += d.items
        inBytes += d.inputBytes
        if (traced && d.kind == "main")
          filesWritten += (Disk.paths(ctx.root) -- before).size
      }
      i += 1
    }
    // Share of the machine's CPU time the hypervisor gave to other guests
    // while the loop ran: a noisy-neighbour figure for reading the times.
    val stolen = cpuTicks().zip(cpu0).map { case (b, a) => b - a }
    // A loop the wall limit ended inside a cycle measured another mix.
    val whole = (i - wl.warmup) % wl.cycle == 0
    if (!whole) println(s"incomplete cycle: the wall limit ended the loop after ${i - wl.warmup} ops")
    println(f"cpu_steal_share=${stolen(7).toDouble / math.max(1L, stolen.sum)}%.3f")
    System.err.println(f"[perfbench] measured ${i - wl.warmup} ops, ${onClock}%.2f s on the clock, at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val extra = wl.finish(ctx)
    val storage = wl.storageDirs(ctx)
    wl.close()

    val main = lat.getOrElse("main", mutable.ArrayBuffer.empty[Double]).toSeq
    val p50 = Stats.median(main)
    val tail = Stats.tailPercentile(main.size)
      .fold("tail=n/a")(p => f"p$p=${Stats.percentile(main, p)}%.4f")
    println(f"op_s_p50=$p50%.4f s $tail n=${main.size}")
    lat.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"ops kind=$k n=${v.size} median_s=${Stats.median(v.toSeq)}%.4f " +
        v.map(x => f"$x%.3f").mkString("latencies_s=", ",", ""))
    }
    val takedown = Stats.median(lat.getOrElse("takedown", Nil).toSeq)
    val wlFigures = Map(
      "takedown_s_p50" -> takedown,
      "recall_at_10" -> extra.getOrElse("recall_at_10", 0.0),
      "space_amp" -> extra.getOrElse("space_amp", 0.0))
    wlFigures.toSeq.sorted.foreach { case (k, v) => println(s"$k=$v") }
    println(s"fail_frac=${if (attempted == 0) 0.0 else failed.toDouble / attempted} " +
      s"attempted=$attempted failed=$failed")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("items_per_s", if (onClock > 0) items / onClock else 0.0, "1/s"),
        ("op_s_p50", p50, "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      else Layers.metrics(ctx, mainSpans.toSeq, filesWritten.toSeq, inBytes,
        storage, extra ++ wlFigures)
    if (traced) ctx.tr.write(java.nio.file.Paths.get(s"$work/spans.jsonl"))
    spark.stop()

    System.err.println(f"[perfbench] done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val correct = failed == 0 && attempted > 0 && main.nonEmpty && whole
    val m = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
  }

  def session(root: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("spark.graft.index.root", s"file://$root/index")
      .config("spark.graft.concurrent.width", ConcurrentWidth.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }

  /** Refuse to run over state an earlier run left: the new session must
    * see no catalog table, and its warehouse and index root no file. */
  private def isolated(spark: SparkSession, root: String): Unit = {
    val tables = spark.catalog.listTables().collect().map(_.name)
    require(tables.isEmpty, s"catalog not empty: ${tables.mkString(",")}")
    Seq("warehouse", "index").foreach { d =>
      require(Disk.dataFiles(s"$root/$d").isEmpty, s"$root/$d not empty")
    }
  }

  /** The machine's cumulative CPU ticks by state (/proc/stat "cpu" line:
    * user nice system idle iowait irq softirq steal ...). */
  private def cpuTicks(): Seq[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").toSeq.drop(1).map(_.toLong)
    finally src.close()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
