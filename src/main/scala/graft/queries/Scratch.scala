package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Scratch locations for driver queries that build STANDING state
  * (stream checkpoints, standing indexes, verdict sinks). Derived from
  * (query tag, data dir, PROCESS nonce):
  *  - the (tag, dir hash) pair keeps invocations against different scale
  *    factors and different queries in distinct namespaces;
  *  - the per-JVM nonce keeps CONCURRENT PROCESSES (parallel CI, two
  *    users on one host) from clobbering each other's standing indexes
  *    and checkpoints — without it, `fresh` would delete whatever a
  *    sibling process is mid-way through building.
  * The nonce is per-process, not per-call: a query that derives the same
  * (tag, dir) twice within one run must see the same path.
  *
  * Every allocated base is deleted on JVM exit (best effort), so nonced
  * paths do not accumulate in /tmp across bench/verify/scale runs. */
private[queries] object Scratch {

  // pid@host — stable within the JVM, distinct across processes
  private val nonce: String = {
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  }

  private val allocated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    allocated.forEach(b => deleteRecursively(new java.io.File(b)))
  }, "graft-scratch-cleanup"))

  private def base(tag: String, dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val b = s"/tmp/graft_${tag}_${h}_$nonce"
    allocated.add(b)
    b
  }

  /** Delete-and-return: a lifecycle query's scratch must start empty
    * (a stale checkpoint would make the stream skip this run's files). */
  def fresh(spark: SparkSession, tag: String, dir: String): String = {
    val b = base(tag, dir)
    org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(b), true)
    b
  }

  /** The one file-fed stream driver behind every lifecycle query: the
    * stream watches `base/in` and checkpoints at `base/ckpt`. Each
    * [[FileStream.feed]] is one LEG: it lands its frame as a single file
    * (the first leg overwrites the dir, later legs append a late file the
    * restart discovers on the same checkpoint), then runs the writer
    * `start(source, checkpoint, leg)` returns under an `AvailableNow`
    * trigger to termination. `leg` counts feeds from 0 — the standing
    * chains derive their `baseBatch` from it. */
  def stream(spark: SparkSession, base: String, schema: StructType)(
      start: (DataFrame, String, Int) => DataStreamWriter[Row]): FileStream =
    new FileStream(spark, base, schema, start)

  final class FileStream private[Scratch] (spark: SparkSession, base: String,
      schema: StructType,
      start: (DataFrame, String, Int) => DataStreamWriter[Row]) {
    private val in = s"$base/in"
    private var legs = 0

    def feed(df: DataFrame): Unit = {
      df.coalesce(1).write.mode(if (legs == 0) "overwrite" else "append")
        .parquet(in)
      start(spark.readStream.schema(schema).parquet(in), s"$base/ckpt", legs)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      legs += 1
    }
  }

  /** A named-step hook around a lifecycle's steps: [[PhaseProbe]] times
    * and attributes each step, the queries run them [[bare]]. */
  trait Phases { def apply[A](name: String)(body: => A): A }

  val bare: Phases = new Phases {
    def apply[A](name: String)(body: => A): A = body
  }
}
