package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.dsl._
import graft.exec.Wrangle
import graft.model.{Model, PipelineSpec}
import graft.compile.PlanException

object SparkTest {
  /** This JVM's standing-index root, `<tmpdir>/graft_dedup_index_<nonce>`
    * (nonce from pid@host, like `graft.queries.Scratch`'s), deleted at
    * JVM exit: test indexes never outlive their run, so a schema change
    * cannot meet a previous run's tables. */
  private lazy val indexRoot: java.io.File = {
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    val nonce = java.security.MessageDigest.getInstance("MD5")
      .digest(raw.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val root = new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_dedup_index_$nonce").getAbsoluteFile
    def deleteRecursively(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
      f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      deleteRecursively(root), "graft-test-index-cleanup"))
    root
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(graft.ext.BucketedTables.RootConfKey, "file://" + indexRoot)
    .getOrCreate()
}

case class Rec(name: String, twice: Long)

class CompilerSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  test("Id / Constant / CastTo / Chain") {
    val df = Seq((1L, "7")).toDF("a", "b")
    val spec = PipelineSpec(Model("M")(
      "a"   -> Get("a"),
      "c"   -> Constant(42),
      "b_i" -> (Get("b") | CastTo(LongType) | Fn("negate"))))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    assert(r.getLong(0) == 1L && r.getInt(1) == 42 && r.getLong(2) == -7L)
  }

  test("Get on map with default; array 0-based and negative index") {
    val df = Seq((Map("x" -> 10), Seq(1, 2, 3))).toDF("m", "arr")
    val spec = PipelineSpec(Model("M")(
      "x"    -> (Get("m") | Get("x")),
      "miss" -> (Get("m") | Get("nope", Some(-1))),
      "a0"   -> (Get("arr") | Get(0)),
      "a2"   -> (Get("arr") | Get(2)),
      "last" -> (Get("arr") | Get(-1)),
      "oob"  -> (Get("arr") | Get(9, Some(99)))))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    assert(Seq(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
      r.getInt(5)) == Seq(10, -1, 1, 3, 3, 99))
  }

  test("Get missing struct field is a plan-time KeyError with provenance") {
    val df = Seq((1, 2)).toDF("x", "y")
    val spec = PipelineSpec(Model("M")("z" -> Get("z")))
    val e = intercept[PlanException](Wrangle.wrangle(df, spec, "M"))
    assert(e.getMessage.startsWith("failed @ M.z: Get:"))
  }

  test("Default uses Python truthiness: null, 0, empty string all fall back") {
    val df = Seq(
      (1L, Some(0.0), "", Seq.empty[Int]),
      (2L, Some(5.0), "hi", Seq(1)),
      (3L, None, "x", Seq(2))).toDF("id", "v", "s", "arr")
    val spec = PipelineSpec(Model("M")(
      "id"  -> Get("id"),
      "v"   -> (Get("v") | Default(-1.0)),
      "s"   -> (Get("s") | Default("empty")),
      "n"   -> (Get("arr") | If(Truthy, Get(0)))))
    val r = Wrangle.wrangle(df, spec, "M").orderBy("id").collect()
    assert(r(0).getDouble(1) == -1.0 && r(0).getString(2) == "empty" && r(0).isNullAt(3))
    assert(r(1).getDouble(1) == 5.0 && r(1).getString(2) == "hi" && r(1).getInt(3) == 1)
    assert(r(2).getDouble(1) == -1.0 && r(2).getString(2) == "x" && r(2).getInt(3) == 2)
  }

  test("Filter (intended semantics) / Map / Flatten on arrays") {
    val df = Seq((Seq(1, -2, 3), Seq(Seq(1, 2), Seq(3)))).toDF("a", "nested")
    val spec = PipelineSpec(Model("M")(
      "pos"     -> (Get("a") | FilterT(Cmp(">", 0))),
      "doubled" -> (Get("a") | MapT(Fn("negate"))),
      "flat"    -> (Get("nested") | Flatten())))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    assert(r.getSeq[Int](0) == Seq(1, 3))
    assert(r.getSeq[Int](1) == Seq(-1, 2, -3))
    assert(r.getSeq[Int](2) == Seq(1, 2, 3))
  }

  test("Gather / GetKeys / GetValues on maps and structs") {
    val df = Seq((Map("a" -> 1, "b" -> 2, "c" -> 3), ((1, "x")))).toDF("m", "st")
    val spec = PipelineSpec(Model("M")(
      "sub"  -> (Get("m") | Gather(Seq("a", "c"))),
      "keys" -> (Get("m") | GetKeys),
      "vals" -> (Get("m") | GetValues),
      "stk"  -> (Get("st") | GetKeys)))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    assert(r.getMap[String, Int](0) == Map("a" -> 1, "c" -> 3))
    assert(r.getSeq[String](1).sorted == Seq("a", "b", "c"))
    assert(r.getSeq[Int](2).sorted == Seq(1, 2, 3))
    assert(r.getSeq[String](3) == Seq("_1", "_2"))
  }

  test("FoldInKeys pivots a map-of-structs; FoldInValue broadcasts an entry") {
    val df = spark.sql(
      """SELECT map('r1', named_struct('v', 1), 'r2', named_struct('v', 2)) AS m,
        |       map('meta', named_struct('v', 9), 'a', named_struct('v', 1)) AS m2""".stripMargin)
    val spec = PipelineSpec(Model("M")(
      "folded" -> (Get("m") | FoldInKeys("k")),
      "broad"  -> (Get("m2") | FoldInValue("meta", "src"))))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    val folded = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getString(0), x.getInt(1)))
    assert(folded.toSet == Set(("r1", 1), ("r2", 2)))
    val broad = r.getMap[String, org.apache.spark.sql.Row](1)
    assert(broad.keySet == Set("a"))
    val entry = broad("a")
    assert(entry.getStruct(0).getInt(0) == 9 && entry.getInt(1) == 1)
  }

  test("Create recursion + cycle rejection") {
    val df = Seq((1, 2)).toDF("x", "y")
    val ok = PipelineSpec(
      Model("P")("x" -> Get("x"), "y" -> Get("y")),
      Model("S")("p" -> Create("P")))
    val row = Wrangle.wrangle(df, ok, "S").collect().head.getStruct(0)
    assert(row.getInt(0) == 1 && row.getInt(1) == 2)

    val cyclic = PipelineSpec(
      Model("A")("b" -> Create("B")),
      Model("B")("a" -> Create("A")))
    val e = intercept[PlanException](Wrangle.wrangle(df, cyclic, "A"))
    assert(e.getMessage.contains("cyclic"))
  }

  test("CreateMultiple over an array of datapoints") {
    val df = spark.sql(
      "SELECT array(named_struct('x', 1), named_struct('x', 2)) AS pts")
    val spec = PipelineSpec(
      Model("P")("x2" -> (Get("x") | Fn("negate"))),
      Model("M")("ps" -> (Get("pts") | CreateMultiple("P"))))
    val r = Wrangle.wrangle(df, spec, "M").collect().head
    assert(r.getSeq[org.apache.spark.sql.Row](0).map(_.getInt(0)) == Seq(-1, -2))
  }

  test("chained Get on JSON strings walks nested objects; null propagates") {
    val df = Seq(
      ("""{"a": {"b": 7}}""", Some("x")),
      (null: String, None: Option[String])).toDF("j", "s")
    val spec = PipelineSpec(Model("M")(
      "b"  -> (Get("j") | Get("a") | Get("b")),
      "s2" -> (Get("s") | If(Truthy, Id))))
    val r = Wrangle.wrangle(df, spec, "M").collect()
    assert(r(0).getString(0) == "7")
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
  }

  test("wrangleAs binds the projection to a typed Dataset[T]") {
    val df = Seq(("a", 1), ("b", 2)).toDF("name", "num")
    val spec = PipelineSpec(Model("Rec")(
      "name" -> Get("name"),
      "twice" -> (Get("num") | CastTo(LongType) | Fn("negate"))))
    val ds: org.apache.spark.sql.Dataset[Rec] = Wrangle.wrangleAs[Rec](df, spec, "Rec")
    assert(ds.collect().toSet == Set(Rec("a", -1L), Rec("b", -2L)))
  }

  test("getOrCreate: hits keep dim record, misses keep built, created flag") {
    val incoming = Seq((1L, "NEW-A"), (2L, "NEW-B"), (3L, "NEW-C")).toDF("k", "name")
    val dim = Seq((1L, "old-a"), (3L, "old-c")).toDF("k", "name")
    val r = Wrangle.getOrCreate(incoming, dim, Seq("k"))
      .orderBy("k").collect()
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getBoolean(2))).toSeq ==
      Seq((1L, "old-a", false), (2L, "NEW-B", true), (3L, "old-c", false)))
  }

  test("wrangle plans keep filter pushdown and column pruning through the row-struct") {
    val df = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val spec = PipelineSpec(Model("M")(
      "okey" -> Get("l_orderkey"),
      "qty"  -> Get("l_quantity")))
    val plan = Wrangle.wrangle(df, spec, "M").filter(col("qty") > 30.0)
      .queryExecution.executedPlan.toString
    // SimplifyExtractValueOps must collapse struct(row).getField so the
    // predicate and the 2-column projection reach the parquet scan.
    assert(plan.contains("GreaterThan(l_quantity,30.0)"),
      s"filter not pushed to scan:\n$plan")
    assert(!plan.contains("l_comment") && !plan.contains("l_extendedprice"),
      s"scan reads columns the query never touches:\n$plan")
  }

  test("FailFast runtime error carries failed @ Model.field: Op provenance") {
    val df = Seq(("xx", 1L)).toDF("s", "k")
    val spec = PipelineSpec(Model("M")(
      "k" -> Get("k"),
      "n" -> (Get("s") | CastTo(LongType))))
    val e = intercept[Throwable] {
      Wrangle.wrangle(df, spec, "M").collect()
    }
    // Spark wraps task failures; the provenance must appear in the chain
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("failed @ M.n: Get|CastTo")),
      s"no provenance in: $msgs")
  }

  test("Permissive _errors.op names the failing chain node, not the chain") {
    val df = Seq(("12", 0L), ("xx", 1L)).toDF("s", "k")
    val spec = PipelineSpec(Model("M")(
      "k" -> Get("k"),
      "n" -> (Get("s") | CastTo(LongType) | Fn("negate"))))
    val byK = Wrangle.wrangle(df, spec, "M", Wrangle.Permissive)
      .select(col("k"), col("n"), to_json(col(Wrangle.ErrorsCol)).as("e"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getString(2))).toMap
    assert(byK(0L) == ((-12L, "[]")))
    assert(byK(1L)._1 == null)
    assert(byK(1L)._2 ==
      """[{"model":"M","field":"n","op":"CastTo"}]""")
  }

  test("spec JSON round-trip: every node type survives; wrangle output identical") {
    import graft.model.SpecJson
    val spec = PipelineSpec(
      Model("Pt")("v" -> Id, "neg" -> Fn("negate")),
      Model("M")(
        "a" -> (Get("x") | CastTo(org.apache.spark.sql.types.LongType)),
        "b" -> Constant(42.5),
        "c" -> (Get("arr") | FilterT(Cmp(">", 0) && !IsNull) | MapT(Fn("negate"))),
        "d" -> (Get("arr") | FilterT(In(Seq(1, 2, 3)) || Truthy) | ForEach(Create("Pt"))),
        "e" -> (Get("nested") | Flatten(2)),
        "f" -> (Get("m") | Gather(Seq("k1")) ),
        "g" -> (Get("m") | FoldInKeys("k")),
        "h" -> (Get("m") | FoldInValue("k1", "src")),
        "i" -> (Get("m") | GetKeys),
        "j" -> (Get("m") | GetValues),
        "k" -> If(IsNotNull, Id, Some(Constant("fallback"))),
        "l" -> (Get("x") | Default(0, Truthy)),
        "m2" -> Get("arr2", default = Some(9)),
        "n" -> Attr("k1")))
    val json = SpecJson.toJson(spec)
    val back = SpecJson.fromJson(json)
    assert(back == spec, s"round-trip mismatch:\n$json")
    // and a runnable spec produces identical results through the round trip
    val df = Seq((1, Seq(1, -2, 3), Seq(Seq(Seq(1), Seq(2)), Seq(Seq(3))))).toDF("x", "arr", "nested")
      .withColumn("m", map(lit("k1"), struct(lit("s").as("s"))))
      .withColumn("arr2", array(lit(7)))
    val spec2 = PipelineSpec(Model("R")(
      "a" -> (Get("x") | CastTo(org.apache.spark.sql.types.LongType)),
      "c" -> (Get("arr") | FilterT(Cmp(">", 0)) | MapT(Fn("negate"))),
      "e" -> (Get("nested") | Flatten(2))))
    val got = Wrangle.wrangle(df, SpecJson.fromJson(SpecJson.toJson(spec2)), "R").collect()
    val want = Wrangle.wrangle(df, spec2, "R").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("getOrCreateAll: match_targets=None probes on every field") {
    val incoming = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val dim = Seq((1L, "a"), (2L, "zzz")).toDF("k", "name")
    val r = Wrangle.getOrCreateAll(incoming, dim)
      .orderBy("k", "name").collect()
    // (1,"a") hits on full equality; (1,"b") misses despite the shared k;
    // (2,"c") misses despite dim having k=2 with another name.
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getBoolean(2))).toSeq ==
      Seq((1L, "a", false), (1L, "b", true), (2L, "c", true)))
  }

  test("getOrCreate: a NULL incoming key matching a NULL dim key is a hit") {
    val incoming = Seq((Some(1L), "NEW-A"), (None, "NEW-NULL"))
      .toDF("k", "name")
    val dim = Seq((Some(1L), "old-a"), (None, "old-null")).toDF("k", "name")
    val r = Wrangle.getOrCreate(incoming, dim, Seq("k"))
      .orderBy(col("k").asc_nulls_first).collect()
    // dict-style probe semantics: None == None matches, and the hit keeps
    // the STORED record (not the built one) with created=false.
    assert(r.map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
      x.getString(1), x.getBoolean(2))).toSeq ==
      Seq((-1L, "old-null", false), (1L, "old-a", false)))
  }
}
