package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dsl._
import graft.exec.Wrangle
import graft.model.{Model, PipelineSpec}

/** Nested order records with planted malformed cells and a product
  * dimension with a planted hit share. Ground truth: which records are
  * dirty, how many `_errors` entries the Permissive run must report, and
  * how many clean records miss the dimension. */
object WrangleGen {
  val Records = 10000
  val SkuPool = 2000
  val HitShare = 0.7
  val MalformedShare = 0.02

  final case class Data(clean: Seq[Row], dirty: Seq[Row], dim: Seq[Row],
                        expectedErrors: Long, expectedMisses: Long)

  val addressT = StructType(Seq(
    StructField("city", StringType), StructField("zip", StringType)))
  val userT = StructType(Seq(
    StructField("name", StringType), StructField("age_str", StringType),
    StructField("address", addressT)))
  val lineT = StructType(Seq(
    StructField("sku", StringType), StructField("qty_str", StringType)))
  val schema = StructType(Seq(
    StructField("id", LongType), StructField("sku", StringType),
    StructField("user", userT), StructField("nick", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("attrs", MapType(StringType, StringType)),
    StructField("amount_str", StringType), StructField("payload", StringType),
    StructField("lines", ArrayType(lineT)), StructField("brand_raw", StringType)))
  val dimSchema = StructType(Seq(
    StructField("sku", StringType), StructField("brand", StringType)))

  private val words = Vector("alpha", "beta", "gamma", "delta", "omega",
    "kappa", "sigma", "theta", "lambda", "zeta")
  private val cities = Vector("oslo", "lima", "pune", "kyiv", "bonn", "nice")

  def sku(i: Int): String = f"sku-$i%05d"
  def brandOf(i: Int): String = words(i % words.size) + (i % 7)

  def generate(seed: Long): Data = {
    val r = new Random(seed)
    val inDim = (0 until SkuPool).filter(_ => r.nextDouble() < HitShare).toSet
    var errors, misses = 0L
    val clean = Seq.newBuilder[Row]
    val dirty = Seq.newBuilder[Row]
    def bad(): Boolean = r.nextDouble() < MalformedShare
    for (id <- 0 until Records) {
      val s = r.nextInt(SkuPool)
      val ageBad = bad()
      val hasScore = r.nextDouble() < 0.8
      val scoreBad = hasScore && bad()
      val amountBad = bad()
      val age = if (ageBad) s"x${r.nextInt(99)}" else (18 + r.nextInt(60)).toString
      val score = if (scoreBad) s"n/a${r.nextInt(9)}" else f"${r.nextDouble() * 10}%.3f"
      val amount =
        if (amountBad) s"${r.nextInt(900)}..${r.nextInt(9)}"
        else f"${r.nextInt(1000)}.${r.nextInt(100)}%02d"
      val nick = r.nextInt(4) match {
        case 0 => null
        case 1 => ""
        case _ => words(r.nextInt(words.size)) + r.nextInt(100)
      }
      val tags = Seq.fill(r.nextInt(4))(words(r.nextInt(words.size)))
      val attrs =
        (if (hasScore) Map("score" -> score) else Map.empty[String, String]) +
          ("src" -> words(r.nextInt(words.size)))
      val payload = s"""{"a":{"b":${r.nextInt(100000)}},"c":"${words(r.nextInt(words.size))}"}"""
      val lines = Seq.fill(1 + r.nextInt(3))(
        Row(sku(r.nextInt(SkuPool)), (1 + r.nextInt(9)).toString))
      val row = Row(id.toLong, sku(s),
        Row(s"  ${words(r.nextInt(words.size))} ${r.nextInt(1000)} ",
          age, Row(cities(r.nextInt(cities.size)), (10000 + r.nextInt(89999)).toString)),
        nick, tags, attrs, amount, payload, lines, brandOf(s).toLowerCase)
      if (ageBad || scoreBad || amountBad) {
        dirty += row
        // the amount feeds two fields: `amount` and `tier`
        errors += (if (ageBad) 1 else 0) + (if (scoreBad) 1 else 0) +
          (if (amountBad) 2 else 0)
      } else {
        clean += row
        if (!inDim(s)) misses += 1
      }
    }
    val dim = inDim.toSeq.sorted.map(i => Row(sku(i), brandOf(i).toUpperCase))
    Data(clean.result(), dirty.result(), dim, errors, misses)
  }

  /** The spec: a wide nested model exercising Get/CastTo chains,
    * Create/CreateMultiple, Default/If, Fn and JSON-string Get. */
  val spec: PipelineSpec = PipelineSpec(
    Model("Addr")(
      "city" -> (Get("city") | Fn("upper")),
      "zip" -> (Get("zip") | CastTo(IntegerType))),
    Model("Line")(
      "sku" -> Get("sku"),
      "qty" -> (Get("qty_str") | CastTo(IntegerType))),
    Model("Order")(
      "id" -> Get("id"),
      "sku" -> Get("sku"),
      "name" -> (Get("user") | Get("name") | Fn("trim")),
      "age" -> (Get("user") | Get("age_str") | CastTo(IntegerType)),
      "addr" -> (Get("user") | Get("address") | Create("Addr")),
      "nick" -> (Get("nick") | Default("anon")),
      "first_tag" -> (Get("tags") | Get(0, Some("none"))),
      "last_tag" -> (Get("tags") | Get(-1, Some("none"))),
      "score" -> (Get("attrs") | Get("score", Some("0")) | CastTo(DoubleType)),
      "amount" -> (Get("amount_str") | CastTo(DecimalType(12, 2))),
      "tier" -> (Get("amount_str") | CastTo(DoubleType) |
        If(Cmp(">", 500.0), Constant("gold"), Some(Constant("std")))),
      "json_b" -> (Get("payload") | Get("a.b") | CastTo(LongType)),
      "json_c" -> (Get("payload") | Get("c", Some("?"))),
      "lines" -> (Get("lines") | CreateMultiple("Line")),
      "brand" -> (Get("brand_raw") | Fn("upper"))))

  /** Fields compiled per Wrangle call, nested models included. */
  val fieldCount: Int = spec.models.values.map(_.fields.size).sum

  /** The same projection written by hand in Spark SQL: the reference the
    * FailFast output is checked against. */
  val referenceSql: String =
    """SELECT id, sku, trim(user.name) AS name, CAST(user.age_str AS INT) AS age,
      |  named_struct('city', upper(user.address.city), 'zip', CAST(user.address.zip AS INT)) AS addr,
      |  CASE WHEN nick IS NOT NULL AND nick <> '' THEN nick ELSE 'anon' END AS nick,
      |  coalesce(try_element_at(tags, 1), 'none') AS first_tag,
      |  coalesce(try_element_at(tags, -1), 'none') AS last_tag,
      |  CAST(coalesce(try_element_at(attrs, 'score'), '0') AS DOUBLE) AS score,
      |  CAST(amount_str AS DECIMAL(12,2)) AS amount,
      |  CASE WHEN CAST(amount_str AS DOUBLE) > 500.0 THEN 'gold' ELSE 'std' END AS tier,
      |  CAST(get_json_object(payload, '$.a.b') AS BIGINT) AS json_b,
      |  coalesce(get_json_object(payload, '$.c'), '?') AS json_c,
      |  transform(lines, l -> named_struct('sku', l.sku, 'qty', CAST(l.qty_str AS INT))) AS lines,
      |  upper(brand_raw) AS brand
      |FROM clean""".stripMargin
}

/** The paper's own surface: a wide nested-model spec planned and run in
  * FailFast and Permissive mode, then get-or-create and new-records
  * against a dimension, with every output written to parquet. */
final class WrangleWorkload extends Workload {
  import WrangleGen._

  private var data: Data = _
  private var inputBytes = 0L
  /** Checksum of the SQL reference over the clean input, which no
    * operation changes: computed at the first check. */
  private var reference: Option[(Long, BigDecimal)] = None
  private var compiledFields = 0

  /** Two warm-up operations: the first measured one after a single
    * warm-up still runs about a third slower than the rest. */
  override def warmup: Int = 2

  def shape: Seq[(String, Any)] = Seq(
    "records" -> Records, "sku_pool" -> SkuPool, "dim_hit_share" -> HitShare,
    "malformed_share" -> MalformedShare, "spec_fields" -> fieldCount)

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    data = generate(ctx.seed)
    ctx.span("sources.land") {
      spark.createDataFrame(spark.sparkContext.parallelize(data.clean, 4), schema)
        .write.parquet(ctx.path("in/clean"))
      spark.createDataFrame(spark.sparkContext.parallelize(data.dirty, 1), schema)
        .write.parquet(ctx.path("in/dirty"))
      spark.createDataFrame(spark.sparkContext.parallelize(data.dim, 1), dimSchema)
        .write.parquet(ctx.path("in/dim"))
    }
    inputBytes = Disk.bytes(ctx.path("in"))
  }

  def op(ctx: Ctx, i: Int): Done = {
    val spark = ctx.spark
    val out = ctx.path(s"out/$i")
    val clean = spark.read.parquet(ctx.path("in/clean"))
    val all = clean.unionByName(spark.read.parquet(ctx.path("in/dirty")))
    val dim = spark.read.parquet(ctx.path("in/dim"))
    def planned(df: => DataFrame): DataFrame = {
      val d = ctx.span("compile.plan")(df)
      ctx.span("compile.analyze")(d.queryExecution.executedPlan)
      d
    }
    def sink(df: DataFrame, name: String): Unit =
      ctx.span("exec.run")(df.write.parquet(s"$out/$name"))
    val ff = planned(Wrangle.wrangle(clean, spec, "Order", Wrangle.FailFast))
    sink(ff, "failfast")
    val perm = planned(Wrangle.wrangle(all, spec, "Order", Wrangle.Permissive))
    compiledFields = leaves(ff.schema) + leaves(perm.schema)
    sink(perm, "permissive")
    val incoming = ff.select("sku", "brand")
    val goc = planned(Wrangle.getOrCreate(incoming, dim, Seq("sku")))
    sink(goc, "goc")
    val fresh = planned(Wrangle.newRecords(incoming, dim, Seq("sku")))
    sink(fresh, "new")
    Done("main", Records, inputBytes, () => check(ctx, out))
  }

  /** Leaf fields of the two output schemas `Wrangle.wrangle` returned. */
  override def finish(ctx: Ctx): Map[String, Double] =
    Map("compile.fields" -> compiledFields.toDouble)

  private def leaves(t: DataType): Int = t match {
    case s: StructType => s.fields.map(f => leaves(f.dataType)).sum
    case a: ArrayType => leaves(a.elementType)
    case m: MapType => leaves(m.keyType) + leaves(m.valueType)
    case _ => 1
  }

  private def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toSeq: _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def check(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    if (reference.isEmpty) {
      spark.read.parquet(ctx.path("in/clean")).createOrReplaceTempView("clean")
      reference = Some(checksum(spark.sql(referenceSql)))
    }
    Check.same("failfast checksum vs SQL reference",
      checksum(spark.read.parquet(s"$out/failfast")), reference.get)
    val perm = spark.read.parquet(s"$out/permissive")
    val errs = perm.agg(count(lit(1)), sum(size(col(Wrangle.ErrorsCol)))).head()
    Check.same("permissive rows", errs.getLong(0), Records.toLong)
    Check.same("permissive _errors entries", errs.getLong(1), data.expectedErrors)
    val goc = spark.read.parquet(s"$out/goc")
    val created = goc.agg(count(lit(1)), sum(col("created").cast(LongType))).head()
    Check.same("getOrCreate rows", created.getLong(0), data.clean.size.toLong)
    Check.same("getOrCreate created", created.getLong(1), data.expectedMisses)
    Check.same("newRecords rows",
      spark.read.parquet(s"$out/new").count(), data.expectedMisses)
    Disk.delete(out)
  }
}
