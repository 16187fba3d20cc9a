package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span: jobs, stages and tasks, with the
  * task metrics the per-layer table reads. */
final class Acc {
  var jobs, stages, tasks, ccJobs = 0L
  var taskRunMs, cpuNs, gcMs, inBytes, inRecords, outBytes = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var streamBatches, addBatchMs, bookkeepingMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val labelJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val labelBusyMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; ccJobs += o.ccJobs
    taskRunMs += o.taskRunMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    streamBatches += o.streamBatches; addBatchMs += o.addBatchMs
    bookkeepingMs += o.bookkeepingMs
    taskIntervals ++= o.taskIntervals
    o.labelJobs.foreach { case (k, v) => labelJobs(k) += v }
    o.labelBusyMs.foreach { case (k, v) => labelBusyMs(k) += v }
  }
}

/** A named interval. `parent` is -1 for a top-level span (the set-up, the
  * warm-up or one client operation); layer spans nest under it. */
final case class Span(id: Int, name: String, parent: Int, start: Long) {
  var end: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** The benchmark's tracer. With `on = false` every call is a plain
  * pass-through, so the untraced run does exactly the same work minus
  * the bookkeeping.
  *
  * Jobs reach their span in one of two ways. The client thread sets the
  * local property [[SpanKey]] around every span; Spark copies local
  * properties into threads created under it, so the legs that
  * `graft.exec.Concurrent` starts inherit it. A streaming micro-batch runs
  * on the query's own thread, created once at query start, so its jobs are
  * matched instead by the batch id Spark stamps on them
  * (`streaming.sql.batchId`), which the client binds to the operation that
  * landed the batch's file. */
final class Trace(val on: Boolean) {
  private val SpanKey = "perfbench.span"
  private val BatchKey = "streaming.sql.batchId"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val batchSpan = new ConcurrentHashMap[Long, Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobInfo = new ConcurrentHashMap[Int, (Int, Long, Seq[String], Boolean)]()
  private val overheadNs = new AtomicLong(0L)

  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  /** Run `body` as a span named `name`, nested in the current one. */
  def span[A](spark: SparkSession, name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val sc = spark.sparkContext
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), t0)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      overheadNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        s.end = t1
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
        overheadNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Attribute the jobs of streaming micro-batch `batchId` to the
    * innermost open span. */
  def bindBatch(batchId: Long): Unit =
    if (on) stack.headOption.foreach(s => batchSpan.put(batchId, s.id))

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def overheadSeconds: Double = overheadNs.get / 1e9

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Job-label families: the part before ':' of each `Concurrent` label
    * in the job description ("ingest: probe" is family "ingest"). */
  private def families(desc: String): Seq[String] =
    Option(desc).toSeq.flatMap(_.split(" / ").toSeq)
      .map(_.trim).filter(_.matches("^[a-z]+: .*"))
      .map(_.takeWhile(_ != ':')).distinct

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val byBatch = props.flatMap(p => Option(p.getProperty(BatchKey)))
        .flatMap(b => Option(batchSpan.get(b.toLong)))
      val bySpan = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      byBatch.orElse(bySpan).foreach { sp =>
        val desc = props.flatMap(p =>
          Option(p.getProperty("spark.job.description"))).orNull
        val cc = desc != null &&
          (desc.contains("cluster: rep cc") || desc.contains("cluster: survivor cc"))
        jobInfo.put(e.jobId, (sp.asInstanceOf[Int], e.time, families(desc), cc))
        e.stageIds.foreach(st => stageSpan.put(st, sp))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobInfo.remove(e.jobId)).foreach { case (sp, t0, fams, cc) =>
        val a = acc(sp)
        a.synchronized {
          a.jobs += 1
          if (cc) a.ccJobs += 1
          fams.foreach { f =>
            a.labelJobs(f) += 1
            a.labelBusyMs(f) += e.time - t0
          }
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { sp =>
        val a = acc(sp)
        a.synchronized(a.stages += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      Option(stageSpan.get(e.stageId)).foreach { sp =>
        val a = acc(sp)
        val m = e.taskMetrics
        val i = e.taskInfo
        a.synchronized {
          a.tasks += 1
          a.taskIntervals += ((i.launchTime, i.finishTime))
          if (m != null) {
            a.taskRunMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.inBytes += m.inputMetrics.bytesRead
            a.inRecords += m.inputMetrics.recordsRead
            a.outBytes += m.outputMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala
      // progress events of idle triggers carry no addBatch phase
      for (add <- d.get("addBatch"); sp <- Option(batchSpan.get(p.batchId))) {
        val a = acc(sp)
        a.synchronized {
          a.streamBatches += 1
          a.addBatchMs += add.longValue
          a.bookkeepingMs += d.get("triggerExecution").fold(0L)(_.longValue) - add.longValue
        }
      }
    }
  }

  /** Drain the listener bus, then view the recorded spans. */
  def finish(spark: SparkSession): Seq[Span] = {
    if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spans.toSeq
  }

  /** The most recent top-level span named `name`. */
  def lastTop(name: String): Option[Span] =
    spans.reverseIterator.find(s => s.parent < 0 && s.name == name)

  /** The top-level span each span belongs to. */
  def root(s: Span): Span =
    if (s.parent < 0) s else root(spans(s.parent))

  /** Spark work of `s` and every span nested in it. */
  def subtree(s: Span): Acc = {
    val total = new Acc
    spans.iterator.filter(x => x.id == s.id || isUnder(x, s.id))
      .foreach(x => Option(accs.get(x.id)).foreach(a => a.synchronized(total.add(a))))
    total
  }

  private def isUnder(s: Span, ancestor: Int): Boolean =
    s.parent >= 0 && (s.parent == ancestor || isUnder(spans(s.parent), ancestor))

  /** Self time: the span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s.seconds - Stats.unionLength(kids) / 1e9
  }

  /** Write every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
