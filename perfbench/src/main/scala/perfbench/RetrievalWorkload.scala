package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Similarity, SimilarityIndex}

/** Clustered embeddings: vectors scattered around planted centres, and
  * query batches drawn around the same centres. Ground truth is the live
  * id set the client tracks (built, appended, deleted), against which
  * exact search gives the true neighbours. */
object RetrievalGen {
  val Corpus = 5000
  val Dim = 16
  val Centres = 16
  val Cells = 16
  val Nprobe = 4
  val K = 10
  val Queries = 50
  val AppendRows = 50
  val DeleteRows = 10
  /** Operation mix: of every 16 operations, 14 are query batches, one an
    * append, and one a delete followed by a partial compaction. */
  val MixPeriod = 16
  /** Batches whose recall is measured against exact search: one in this. */
  val RecallEvery = 4
  val QueryIdBase = 1000000000L

  val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  final class Gen(seed: Long) {
    private val r = new Random(seed)
    private val centres = Vector.fill(Centres)(Vector.fill(Dim)(r.nextGaussian()))
    def vector(): Seq[Float] = {
      val c = centres(r.nextInt(Centres))
      c.map(x => (x + 0.35 * r.nextGaussian()).toFloat)
    }
    def rows(ids: Seq[Long]): Seq[Row] = ids.map(id => Row(id, vector()))
    def pick[A](xs: Seq[A], n: Int): Seq[A] = r.shuffle(xs).take(n)
  }
}

/** Mostly-read retrieval against the standing IVF index: query batches
  * through `topKBatch`, with small appends and an occasional delete plus
  * partial compaction between them. */
final class RetrievalWorkload extends Workload {
  import RetrievalGen._

  private var gen: Gen = _
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.Set.empty[Long]
  private var nextId = 0L
  private var nextQuery = QueryIdBase
  private[perfbench] var inputBytes = 0L
  private val landed = mutable.ArrayBuffer.empty[String]
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var results, searches = 0L
  private val idx = "pb_ann"

  def shape: Seq[(String, Any)] = Seq(
    "corpus" -> Corpus, "dim" -> Dim, "centres" -> Centres, "cells" -> Cells,
    "nprobe" -> Nprobe, "k" -> K, "queries_per_batch" -> Queries,
    "append_rows" -> AppendRows, "delete_rows" -> DeleteRows,
    "read_write_mix" -> s"${MixPeriod - 2}:2", "recall_every" -> RecallEvery)

  private def frame(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)

  private def land(ctx: Ctx, name: String, rows: Seq[Row]): DataFrame = {
    frame(ctx, rows).write.parquet(ctx.path(name))
    inputBytes += Disk.bytes(ctx.path(name))
    landed += ctx.path(name)
    ctx.spark.read.parquet(ctx.path(name))
  }

  def setup(ctx: Ctx): Unit = {
    gen = new Gen(ctx.seed)
    val ids = (0L until Corpus).toSeq
    nextId = Corpus
    val corpus = land(ctx, "in/corpus", gen.rows(ids))
    live ++= ids
    ctx.span("ext.SimilarityIndex.write") {
      SimilarityIndex.write(corpus, "embedding", "vec_id", idx, k = Cells, iters = 3,
        buckets = 8)
    }
  }

  override def cycle: Int = MixPeriod

  def op(ctx: Ctx, i: Int): Done = (i % MixPeriod) match {
    case 5 => append(ctx, i)
    case 13 => takedown(ctx)
    case _ => search(ctx)
  }

  private def search(ctx: Ctx): Done = {
    val spark = ctx.spark
    import spark.implicits._
    val qs = (0 until Queries).map { _ => nextQuery += 1; nextQuery }
    val queries = frame(ctx, gen.rows(qs)).localCheckpoint()
    val got = ctx.span("ext.SimilarityIndex.topKBatch") {
      SimilarityIndex.topKBatch(spark, idx, queries, k = K, nprobe = Nprobe).collect()
    }
    val gone = deleted.toSet
    val liveNow = live.toSet
    Done("main", Queries, 0, () => {
      val ids = got.map(r => r.getAs[Long]("cand_id"))
      Check.expect(!ids.exists(gone), s"deleted ids returned: ${ids.filter(gone).take(5).toSeq}")
      Check.expect(ids.forall(liveNow), "an id outside the live set returned")
      Check.expect(got.groupBy(_.getAs[Long]("query_id")).values.forall(_.length <= K),
        "more than k results for a query")
      results += got.length
      searches += 1
      // recall@10 against exact search over the live set, on every
      // RecallEvery-th batch: the exact search costs about as much again
      // as the batch, off the clock but within the run's time
      if (searches % RecallEvery == 1) {
        val corpus = spark.read.parquet(landed.toSeq: _*)
          .join(gone.toSeq.toDF("vec_id"), Seq("vec_id"), "left_anti")
        val truth = Similarity.bruteForceTopK(corpus, queries, K).collect()
          .groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("cand_id")).toSet }
        val found = got.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("cand_id")).toSet }
        recalls ++= truth.map { case (q, t) => (found.getOrElse(q, Set.empty[Long]) & t).size.toDouble / t.size }
      }
    })
  }

  private def append(ctx: Ctx, i: Int): Done = {
    val ids = (0 until AppendRows).map { _ => nextId += 1; nextId - 1 }
    val batch = land(ctx, s"in/append-$i", gen.rows(ids))
    ctx.span("ext.SimilarityIndex.append")(SimilarityIndex.append(ctx.spark, idx, batch))
    live ++= ids
    Done("append", 0, Disk.bytes(ctx.path(s"in/append-$i")), () => ())
  }

  private def takedown(ctx: Ctx): Done = {
    val spark = ctx.spark
    import spark.implicits._
    val ids = gen.pick(live.toSeq, DeleteRows)
    ctx.span("ext.SimilarityIndex.delete") {
      SimilarityIndex.delete(spark, idx, ids.toDF("vec_id"))
    }
    ctx.span("ext.SimilarityIndex.compactPartial")(SimilarityIndex.compactPartial(spark, idx))
    live --= ids
    deleted ++= ids
    Done("takedown", 0, 0, () => ())
  }

  override def finish(ctx: Ctx): Map[String, Double] = {
    val examined = ctx.tr.finish(ctx.spark)
      .filter(_.name == "ext.SimilarityIndex.topKBatch")
      .map(s => ctx.tr.subtree(s).inRecords).sum
    Map(
      "recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
      "space_amp" -> Disk.bytes(ctx.path("index")).toDouble / inputBytes,
      "ext.SimilarityIndex.rows_examined_per_result" ->
        (if (results > 0) examined.toDouble / results else 0.0))
  }

  override def storageDirs(ctx: Ctx): Seq[String] = Seq(ctx.path("index"))
}
