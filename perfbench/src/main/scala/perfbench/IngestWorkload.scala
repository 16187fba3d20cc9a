package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ext.{ClusterIndex, DedupIndex}
import graft.streaming.IngestDedup

/** Documents with planted near-duplicate families, and the expected
  * dedup verdicts and cluster labels as a model the client advances op by
  * op.
  *
  * Each family has a root document in the initial corpus; its members
  * arrive later, each a copy of the root with a few words replaced (an
  * exact copy for a share of them), so every member matches every live
  * family document above the threshold and nothing outside its family.
  * A batch carries at most one document per family, because the program
  * judges a batch against the index, not against itself. */
object IngestGen {
  val Families = 150
  val Singletons = 850
  val BatchDocs = 50
  val NearDupShare = 0.3
  val ExactShare = 0.2
  val Threshold = 0.5
  val Words = 36
  val TakedownEvery = 4
  val TakedownCount = 4
  val Langs = Vector("en", "de", "fr", "es")
  val Buckets = 4

  val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("text", StringType)))

  final case class Doc(id: Long, family: Int, lang: String, text: String) {
    def row: Row = Row(id, lang, text)
  }

  /** The expected state: index holders, cluster nodes and edges. */
  final class Model {
    val index = mutable.Map.empty[Long, Doc]
    val nodes = mutable.Set.empty[Long]
    val edges = mutable.Set.empty[(Long, Long)]

    /** Judge a batch; returns id -> (keep, reason). */
    def judge(batch: Seq[Doc]): Map[Long, (Boolean, String)] = {
      val verdicts = batch.map { d =>
        val matches =
          if (d.family < 0) Nil
          else index.values.filter(h => h.family == d.family && h.id != d.id).toSeq
        nodes += d.id
        matches.foreach { h => nodes += h.id; edges += ((h.id, d.id)) }
        val reason =
          if (matches.isEmpty) null
          else if (matches.exists(_.text == d.text)) "exact" else "near"
        d.id -> (matches.isEmpty, reason)
      }.toMap
      batch.filter(d => verdicts(d.id)._1).foreach(d => index(d.id) = d)
      verdicts
    }

    def withdraw(ids: Set[Long]): Unit = {
      ids.foreach(index.remove)
      nodes --= ids
      edges.filterInPlace { case (a, b) => !ids(a) && !ids(b) }
    }

    /** Cluster label of every live node: the least id it reaches. */
    def labels: Map[Long, Long] = {
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minOf = mutable.Map.empty[Long, Long]
      nodes.foreach { n =>
        val r = find(n)
        minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), n)
      }
      nodes.iterator.map(n => n -> minOf(find(n))).toMap
    }
  }
}

/** Streaming near-duplicate ingestion with cluster maintenance and
  * takedowns. The client lands one file at a time into a long-lived
  * `IngestDedup.run` stream and, every few batches, withdraws a fixed
  * count of documents from both standing structures, compacts them, and
  * re-lands half of them later. */
final class IngestWorkload extends Workload {
  import IngestGen._

  private var r: Random = _
  private var vocab: Vector[String] = _
  private val model = new Model
  private val docs = mutable.Map.empty[Long, Doc]
  private val roots = mutable.ArrayBuffer.empty[Doc]
  private var nextId = 0L
  private var batches = 0L
  private val readmit = mutable.ArrayBuffer.empty[Doc]
  private var query: StreamingQuery = _
  private var inputBytes = 0L
  private val idx = "pb_dedup"

  def shape: Seq[(String, Any)] = Seq(
    "families" -> Families, "singletons" -> Singletons, "batch_docs" -> BatchDocs,
    "near_dup_share" -> NearDupShare, "exact_share" -> ExactShare,
    "threshold" -> Threshold, "takedown_every" -> TakedownEvery,
    "takedown_count" -> TakedownCount)

  private def text(n: Int): String = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

  private def newDoc(family: Int, lang: String, t: String): Doc = {
    val d = Doc(nextId, family, lang, t)
    nextId += 1
    docs(d.id) = d
    d
  }

  /** A member of a family: the root's text, exact or with one word
    * replaced. One word keeps any two members of a family above the
    * threshold (3-shingle Jaccard >= 0.7 at 36 words). */
  private def member(f: Int): Doc = {
    val root = roots(f)
    val t =
      if (r.nextDouble() < ExactShare) root.text
      else {
        val w = root.text.split(" ")
        w(r.nextInt(Words)) = vocab(r.nextInt(vocab.size))
        w.mkString(" ")
      }
    newDoc(f, root.lang, t)
  }

  private def cc(ctx: Ctx) = ctx.path("cc")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    r = new Random(ctx.seed)
    vocab = Vector.tabulate(5000)(i => s"w$i")
    (0 until Families).foreach { f =>
      roots += newDoc(f, Langs(f % Langs.size), text(Words))
    }
    val singles = Seq.fill(Singletons)(newDoc(-1, Langs(r.nextInt(Langs.size)), text(Words)))
    val corpus = r.shuffle(roots.toSeq ++ singles)
    corpus.foreach(d => model.index(d.id) = d)
    val corpusDf = spark.createDataFrame(
      spark.sparkContext.parallelize(corpus.map(_.row), 4), schema)
    corpusDf.write.parquet(ctx.path("corpus"))
    inputBytes += Disk.bytes(ctx.path("corpus"))
    ctx.span("ext.DedupIndex.write") {
      DedupIndex.write(spark.read.parquet(ctx.path("corpus")), "text", "doc_id",
        "lang", idx, threshold = Threshold, buckets = Buckets)
    }
    new java.io.File(ctx.path("in")).mkdirs()
    query = IngestDedup.run(
        spark.readStream.schema(schema).parquet(ctx.path("in")),
        base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
        threshold = Threshold, verdictPath = ctx.path("verdicts"),
        checkpoint = ctx.path("ckpt"), updateIndex = true, clusterBase = cc(ctx))
      .start()
  }

  /** The next batch: re-landed documents first, then family members (at
    * most one per family, none of a family being re-landed), then new
    * singletons. */
  private def nextBatch(): Seq[Doc] = {
    val back = readmit.toSeq
    readmit.clear()
    val busy = back.map(_.family).toSet
    val want = math.round(BatchDocs * NearDupShare).toInt
    val fams = r.shuffle((0 until Families).filterNot(busy).toVector).take(want)
    val members = fams.map(member)
    val singles = Seq.fill(BatchDocs - back.size - members.size)(
      newDoc(-1, Langs(r.nextInt(Langs.size)), text(Words)))
    back ++ members ++ singles
  }

  /** Cycles of `TakedownEvery - 1` main operations and a takedown. */
  override def cycle: Int = TakedownEvery

  def op(ctx: Ctx, i: Int): Done =
    if (i % cycle == cycle - 1) takedown(ctx) else ingest(ctx)

  private def ingest(ctx: Ctx): Done = {
    val spark = ctx.spark
    val batch = nextBatch()
    val expected = model.judge(batch)
    val labels = model.labels
    val staged = ctx.path(s"staging/$batches")
    spark.createDataFrame(spark.sparkContext.parallelize(batch.map(_.row), 1), schema)
      .write.parquet(staged)
    val file = new java.io.File(staged).listFiles.find(_.getName.endsWith(".parquet")).get
    val bytes = file.length
    inputBytes += bytes
    val batchId = batches
    batches += 1
    ctx.tr.bindBatch(batchId)
    // landing: one atomic rename into the stream's source directory
    java.nio.file.Files.move(file.toPath,
      java.nio.file.Paths.get(ctx.path(s"in/batch-$batchId.parquet")))
    query.processAllAvailable()
    Done("main", batch.size, bytes, () => checkBatch(ctx, batchId, expected, labels))
  }

  private def checkBatch(ctx: Ctx, batchId: Long, expected: Map[Long, (Boolean, String)],
                         labels: Map[Long, Long]): Unit = {
    val spark = ctx.spark
    Check.expect(query.exception.isEmpty, s"stream failed: ${query.exception}")
    val got = spark.read.parquet(ctx.path("verdicts"))
      .filter(col("batch_id") === batchId).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    Check.same(s"batch $batchId verdicts", got, expected)
    checkClusters(ctx, labels)
  }

  private def checkClusters(ctx: Ctx, labels: Map[Long, Long]): Unit = {
    val got = ClusterIndex.current(ctx.spark, cc(ctx)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wrong = (got.keySet ++ labels.keySet).filter(k => got.get(k) != labels.get(k))
    Check.expect(wrong.isEmpty, s"cluster labels differ on ${wrong.size} ids, e.g. " +
      wrong.take(3).map(k => s"$k: got ${got.get(k)} want ${labels.get(k)}").mkString(", "))
  }

  /** Withdraw a fixed count of family documents (the least ids that are
    * cluster nodes, where a withdrawal splits or relabels a cluster) from
    * both structures, compact both, and queue half of them for
    * re-landing. */
  private def takedown(ctx: Ctx): Done = {
    val spark = ctx.spark
    import spark.implicits._
    val live = model.index.values.filter(d => d.family >= 0).toSeq
    val ids = live.filter(d => model.nodes(d.id)).sortBy(_.id).take(TakedownCount)
      .map(_.id).toSet
    model.withdraw(ids)
    val labels = model.labels
    val takeDf = ids.toSeq.toDF("doc_id")
    graft.exec.Concurrent.run(
      () => ctx.span("ext.DedupIndex.delete")(DedupIndex.delete(spark, idx, takeDf, "doc_id")),
      () => ctx.span("ext.ClusterIndex.withdraw")(ClusterIndex.withdraw(spark, cc(ctx),
        takeDf.withColumnRenamed("doc_id", "id"), ClusterIndex.nextBatchId(spark, cc(ctx)))))
    ctx.span("ext.DedupIndex.compactPartial")(DedupIndex.compactPartial(spark, idx))
    ctx.span("ext.ClusterIndex.compact")(ClusterIndex.compact(spark, cc(ctx)))
    val back = ids.toSeq.sorted.zipWithIndex.collect { case (id, k) if k % 2 == 0 => docs(id) }
    readmit ++= back
    Done("takedown", 0, 0, () => {
      checkClusters(ctx, labels)
      // the probe path must not see a withdrawn holder: probe with
      // copies of the withdrawn documents under fresh ids
      val probe = ids.toSeq.map(docs).zipWithIndex
        .map { case (d, k) => Row(-1L - k, d.lang, d.text) }
      val edges = DedupIndex.matchEdges(spark, idx,
        spark.createDataFrame(spark.sparkContext.parallelize(probe, 1), schema),
        "text", "doc_id", "lang", Threshold).collect()
      val seen = edges.flatMap(e => Option(e.getAs[Any]("id_a"))).map(_.toString.toLong).toSet
      Check.expect((seen & ids).isEmpty, s"withdrawn ids readable: ${seen & ids}")
    })
  }

  override def finish(ctx: Ctx): Map[String, Double] =
    Map("space_amp" -> storageDirs(ctx).map(Disk.bytes).sum.toDouble / inputBytes)

  override def storageDirs(ctx: Ctx): Seq[String] = Seq(ctx.path("index"), cc(ctx))

  override def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
