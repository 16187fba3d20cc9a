package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Sessionize, Windows}

/** Proves the windowing plans run identically under Structured Streaming:
  * events parquet driven through readStream + memory sink, compared to the
  * batch result the DuckDB oracle already validates. */
class StreamSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  /** readStream twin of Tables.events (nanos-as-long + micro conversion).
    * FileStreamSource wants a directory, so the fixture file is staged into
    * a temp dir once. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  private def eventStream() = {
    // Mirror Tables.events' schema dispatch: readStream needs an explicit
    // schema, so resolve the batch schema first and request the matching
    // physical type, then normalize ts to the session TimestampType.
    val tsPhys = scala.util.Try(
      spark.read.parquet(s"$streamDir/events.parquet").schema("ts").dataType)
    def schemaWith(ts: DataType) = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", ts),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    tsPhys match {
      case scala.util.Success(TimestampType) =>
        spark.readStream.schema(schemaWith(TimestampType)).parquet(streamDir)
      case scala.util.Success(TimestampNTZType) =>
        spark.readStream.schema(schemaWith(TimestampNTZType)).parquet(streamDir)
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ => // raw int64 nanos, or TIMESTAMP(NANOS) needing the legacy flag
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.readStream.schema(schemaWith(LongType)).parquet(streamDir)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  test("tumbling window agg: streaming (complete mode) == batch") {
    val agg = Seq(count(lit(1)).as("n"))
    val stream = Windows.tumblingStream(eventStream(), "ts", "5 minutes",
      Seq("event_type"), watermark = "1 minute", agg)
    val q = stream.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .select("w_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val want = Windows.tumbling(Tables.events(spark, dir), "ts", "5 minutes",
          Seq("event_type"), agg)
        .select("w_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("custom-state sessionization: streaming closed sessions ⊂ batch; " +
       "open tails account for the rest") {
    implicit val sp = spark
    val gapMs = 10 * 60 * 1000L
    val evStream = eventStream()
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event]
    val q = Sessionize.sessions(evStream, gapMs)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "s_start", "n")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event]
      val batch = Sessionize.sessionsBatch(ev, gapMs)
        .select("user_id", "s_start", "n")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      // Streaming emits sessions closed by a gap within the data; each
      // user's final (still-open) session is only emitted on timeout.
      assert(got.subsetOf(batch), "streaming emitted a session batch doesn't have")
      val users = batch.map(_._1)
      assert(batch.size - got.size <= users.size)
      assert(got.nonEmpty, "no sessions closed within the fixture window")
    } finally q.stop()
  }

  test("stream-static join: streaming events enrich against a static dim") {
    val users = Tables(spark, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("segment",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"))
    val joined = eventStream()
      .join(broadcast(users), Seq("user_id"))
      .groupBy(col("segment")).count()
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").as[(String, Long)].collect().toMap
      val want = Tables.events(spark, dir)
        .withColumn("segment",
          when(col("user_id") % 2 === 0, "even").otherwise("odd"))
        .groupBy("segment").count().as[(String, Long)].collect().toMap
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked streaming == batch twin") {
    import graft.streaming.StreamJoins
    def views(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    def purchases(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val joined = StreamJoins.intervalJoin(
        views(eventStream()).withWatermark("v_ts", "1 minute"),
        purchases(eventStream()).withWatermark("p_ts", "1 minute"),
        "v_user", "p_user", "v_ts", "p_ts", "30 minutes")
      .select(col("view_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sj_out").as[(Long, Long)].collect().toSet
      val ev = Tables.events(spark, dir)
      val want = StreamJoins.intervalJoin(views(ev), purchases(ev),
          "v_user", "p_user", "v_ts", "p_ts", "30 minutes")
        .select(col("view_id"), col("purchase_id"))
        .as[(Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("watermark drops late data in append-mode windowed aggregation") {
    import java.sql.Timestamp
    val dir2 = java.nio.file.Files.createTempDirectory("graft_late").toString
    def writeBatch(name: String, rows: Seq[(Timestamp, String, Double)]): Unit =
      rows.toDF("ts", "k", "value").repartition(1).write.parquet(s"$dir2/$name")
    def t(s: String) = Timestamp.valueOf(s)

    writeBatch("b1", Seq(
      (t("2024-01-01 10:00:10"), "a", 1.0),
      (t("2024-01-01 10:01:00"), "a", 1.0),
      (t("2024-01-01 10:20:00"), "a", 1.0))) // advances watermark to 10:19

    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("k", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet").parquet(s"$dir2/*")
    val agg = graft.streaming.Windows.tumblingStream(
      stream, "ts", "5 minutes", Seq("k"), watermark = "1 minute")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // late event into the already-finalized 10:00 window + a fresh event
      writeBatch("b2", Seq(
        (t("2024-01-01 10:02:00"), "a", 99.0), // LATE: watermark is 10:19
        (t("2024-01-01 10:40:00"), "a", 1.0)))
      q.processAllAvailable()
      writeBatch("b3", Seq((t("2024-01-01 11:00:00"), "a", 1.0))) // flush
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select("w_start", "n").as[(java.sql.Timestamp, Long)].collect().toMap
      assert(rows(t("2024-01-01 10:00:00")) == 2L,
        "late event must NOT be counted into the closed 10:00 window")
      assert(rows(t("2024-01-01 10:20:00")) == 1L)
      assert(!rows.contains(t("2024-01-01 11:00:00")), "open window not emitted yet")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: nulls only for truly unmatched rows") {
    import graft.streaming.StreamJoins
    def views(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
    def purchases(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val joined = views(eventStream()).withWatermark("v_ts", "1 minute")
      .join(purchases(eventStream()).withWatermark("p_ts", "1 minute"),
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 30 minutes"),
        "left_outer")
      .select(col("view_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("sjo_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sjo_out")
        .as[(Long, Option[Long])].collect()
      val ev = Tables.events(spark, dir)
      val wantInner = StreamJoins.intervalJoin(views(ev), purchases(ev),
          "v_user", "p_user", "v_ts", "p_ts", "30 minutes")
        .select(col("view_id"), col("purchase_id"))
        .as[(Long, Long)].collect().toSet
      val matchedViews = wantInner.map(_._1)
      // every matched pair arrives; a null row may only appear for a view
      // with NO purchase in its window (unmatched emission waits on the
      // watermark, so not every unmatched view is flushed — but none may
      // be emitted wrongly)
      assert(got.collect { case (v, Some(p)) => (v, p) }.toSet == wantInner)
      got.collect { case (v, None) => v }.foreach { v =>
        assert(!matchedViews.contains(v),
          s"view $v emitted as unmatched but has a matching purchase")
      }
    } finally q.stop()
  }

  test("wrangle (the reference's core path) runs unchanged under Structured Streaming") {
    import graft.dsl._
    import graft.exec.Wrangle
    import graft.model.{Model, PipelineSpec}
    val spec = PipelineSpec(Model("Ev")(
      "id"  -> Get("event_id"),
      "typ" -> (Get("event_type") | Fn("upper")),
      "v"   -> (Get("value") | Default(-1.0))))
    // The spec compiles to a plain projection, so the SAME call works on a
    // streaming frame — the reference's create_multiple over an unbounded
    // input.
    val q = Wrangle.wrangle(eventStream(), spec, "Ev")
      .writeStream.format("memory").queryName("wrangle_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("wrangle_out")
        .as[(Long, String, Double)].collect().toSet
      val want = Wrangle.wrangle(Tables.events(spark, dir), spec, "Ev")
        .as[(Long, String, Double)].collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming exact dedup: one row per key, watermark-bounded state") {
    val s = graft.ext.Dedup.exactStream(eventStream(), Seq("user_id"), "ts", "1 hour")
      .select("user_id")
    val q = s.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out").as[Long].collect().toSeq
      val want = Tables.events(spark, dir).select("user_id").distinct()
        .as[Long].collect().toSet
      assert(got.toSet == want, "streaming dedup must cover every key once")
      assert(got.size == want.size, "no key may be emitted twice")
    } finally q.stop()
  }

  test("sessionize: late-but-in-gap event merges without moving the session end backwards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sp = spark
    implicit val sqlCtx = spark.sqlContext
    def ev(s: String) = Sessionize.Event(
      1L, java.sql.Timestamp.valueOf(s).toInstant, 1.0)
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessions(
        input.toDS().withWatermark("ts", "10 minutes"), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("ooo_out")
      .outputMode("append").start()
    try {
      input.addData(ev("2024-01-01 10:00:00"), ev("2024-01-01 10:05:00"))
      q.processAllAvailable()
      // Arrives in a later batch, BEFORE the open session's last event but
      // within the gap: must merge, and must not shrink the session end.
      input.addData(ev("2024-01-01 10:02:00"))
      q.processAllAvailable()
      input.addData(ev("2024-01-01 11:00:00")) // gap exceeded: closes it
      q.processAllAvailable()
      val got = spark.table("ooo_out")
        .select("s_start", "s_end", "n")
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      assert(got == Set((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 10:15:00"), 3L)))
    } finally q.stop()
  }

  test("foreachBatch incremental ingestion: streamed corpus == sequential dedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.Dedup
    implicit val sp = spark
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en"),
      (2L, "an entirely different document about spark engines", "en"),
      (3L, "dies ist ein deutsches dokument ohne duplikate", "de"))
    val b2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog today", "en"), // exact dup of 1
      (5L, "the quick brown fox jumps over the lazy dog tonight", "en"), // near dup of 1
      (6L, "a brand new unique document in the second batch", "en"))
    val input = MemoryStream[(Long, String, String)]
    var corpus = spark.createDataFrame(
      Seq.empty[(Long, String, String)]).toDF("doc_id", "text", "lang")
        .localCheckpoint()
    val q = input.toDF().toDF("doc_id", "text", "lang")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val kept = Dedup.dedupIncremental(corpus, batch, "text", "doc_id", "lang",
            threshold = 0.5)
          .filter(col("keep")).select(col("doc_id"))
        // checkpoint: the accumulated corpus must not re-run prior batches'
        // dedup plans on every subsequent microbatch
        corpus = corpus.unionAll(batch.join(kept, Seq("doc_id"), "left_semi"))
          .localCheckpoint()
        ()
      }.start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val got = corpus.select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 3L, 6L),
        s"4 (exact dup) and 5 (near dup) must be dropped, got $got")
    } finally q.stop()
  }

  test("mapGroupsWithState running EWMA: streamed in-order batches == batch query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sp = spark
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Running
    // Two genuine microbatches split at the median timestamp: the second
    // batch must fold onto state carried from the first.
    val all = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event]
      .collect().sortBy(_.ts)
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[Sessionize.Event]
    val q = Running.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("ewma_out")
        .groupBy("user_id").agg(max(struct(col("n_events"), col("ewma"))).as("m"))
        .select(col("user_id"), col("m.n_events"), col("m.ewma"))
        .as[(Long, Long, Double)].collect()
        .map { case (k, n, e) => k -> ((n, e)) }.toMap
      // Twin 1: the typed batch fold.
      val batch = Running.ewmaBatch(
          Tables.events(spark, dir).select(col("user_id"), col("ts"), col("value"))
            .as[Sessionize.Event])
        .as[Running.Ewma].collect().map(r => r.user_id -> ((r.n_events, r.ewma))).toMap
      assert(got == batch)
      // Twin 2: the oracle-checked SQL HOF fold (same IEEE op order).
      val sql = graft.queries.AnalyticsQueries.qEwma(spark, dir)
        .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2.toLong, r._3))).toMap
      assert(got == sql)
    } finally q.stop()
  }

  test("real-time last-touch attribution: streamed in-order batches == SQL window query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sp = spark
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Running
    val all = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .as[Running.TouchEvent]
      .collect().sortBy(e => (e.ts, e.event_id))
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[Running.TouchEvent]
    val q = Running.attributionStream(input.toDS())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("attr_out")
        .as[Running.Attribution].collect()
        .map(a => a.event_id -> ((a.touch_k, a.touch_age_us))).toMap
      // Twin 1: the typed batch fold.
      val batch = Running.attributionBatch(
          Tables.events(spark, dir)
            .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
            .as[Running.TouchEvent])
        .collect().map(a => a.event_id -> ((a.touch_k, a.touch_age_us))).toMap
      assert(got == batch)
      // Twin 2: the oracle-checked window query.
      val sql = graft.queries.MiningQueries.qAttribution(spark, dir)
        .select(col("event_id"), col("touch_k"), col("touch_age_us"))
        .collect().map { r =>
          r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long])))
        }.toMap
      assert(got == sql)
    } finally q.stop()
  }

  test("foreachBatch incremental transition graph: streamed edges + rank == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.ext.Graph
    val full = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val all = full.as[(Long, Long, java.time.Instant, Long)]
      .collect().sortBy(e => (e._3, e._2))
    val (b1, b2) = all.splitAt(all.length / 2)
    // standing state: empty edges + empty boundary
    var edges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    var boundary = full.limit(0)
    val input = MemoryStream[(Long, Long, java.time.Instant, Long)]
    val q = input.toDS().toDF("user_id", "event_id", "ts", "k")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (e2, b2_) = Graph.transitionStep(batch, boundary, edges,
          "user_id", "k", Seq("ts", "event_id"))
        edges = e2.localCheckpoint(); boundary = b2_.localCheckpoint()
        ()
      }.start()
    try {
      input.addData(b1.toSeq: _*); q.processAllAvailable()
      input.addData(b2.toSeq: _*); q.processAllAvailable()
      val batchEdges = Graph.transitionEdges(full, "user_id", "k",
        Seq("ts", "event_id"))
        .as[(Long, Long, Long)].collect().toSet
      val streamed = edges.as[(Long, Long, Long)].collect().toSet
      assert(streamed == batchEdges,
        "incremental edge counts must equal the one-shot derivation")
      // and the downstream consumer agrees: identical PageRank
      val nodes = full.select(col("k").as("node")).distinct()
      val rBatch = Graph.pageRank(nodes,
          Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
            .unionByName(batchEdges.toSeq.toDF("src", "dst", "w")), iters = 3)
        .as[(Long, Long)].collect().toMap
      val rStream = Graph.pageRank(nodes, edges, iters = 3)
        .as[(Long, Long)].collect().toMap
      assert(rBatch == rStream)
    } finally q.stop()
  }

  test("checkpoint recovery: EWMA state survives a stream restart") {
    implicit val sp = spark
    import graft.streaming.Running
    val base = java.nio.file.Files.createTempDirectory("graft_recover").toString
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val all = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event]
      .collect().sortBy(_.ts)
    val (b1, b2) = all.splitAt(all.length / 2)
    def writeBatch(evs: Array[Sessionize.Event], name: String): Unit =
      spark.createDataset(evs.toSeq).write.parquet(s"$srcDir/$name")
    val schema = spark.emptyDataset[Sessionize.Event].schema
    val latest = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]()
    // foreachBatch (not the memory sink): the memory sink refuses
    // checkpoint recovery; foreachBatch is the restartable shape.
    def start() = Running.ewmaStream(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true")
          .parquet(srcDir).as[Sessionize.Event])
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.Dataset[Running.Ewma], _: Long) =>
          df.collect().foreach(r => latest.put(r.user_id, (r.n_events, r.ewma)))
          ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    writeBatch(b1, "b1")
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    latest.clear() // keep only post-restart emissions
    // restart from the checkpoint: only b2 is new input, but the fold must
    // continue from b1's state, not restart from scratch
    writeBatch(b2, "b2")
    val q2 = start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = latest.asScala.toMap
      val batch = Running.ewmaBatch(spark.createDataset(all.toSeq))
        .collect().map(r => r.user_id -> ((r.n_events, r.ewma))).toMap
      // rec2 only contains users updated in b2; each must carry full history
      assert(got.nonEmpty)
      got.foreach { case (u, ne) => assert(ne == batch(u), s"user $u") }
    } finally q2.stop()
  }

  test("streaming trending top-k: foreachBatch ranking over update-mode counts == batch") {
    implicit val sp = spark
    // Native append-mode streams cannot rank ("top-k per window" needs all
    // of a window's final counts); the pattern is update-mode counts into
    // foreachBatch, ranking the maintained state. Here: top-2 event types
    // per 5-minute window.
    val latest = new java.util.concurrent.ConcurrentHashMap[(java.sql.Timestamp, String), Long]()
    val q = Windows.tumblingStream(eventStream(), "ts", "5 minutes",
        Seq("event_type"), watermark = "1 minute", Seq(count(lit(1)).as("n")))
      .writeStream.outputMode("update").foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("w_start", "event_type", "n")
            .as[(java.sql.Timestamp, String, Long)].collect()
            .foreach { case (w, t, n) => latest.put((w, t), n) }
          ()
      }.start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val topk = latest.asScala.toSeq
        .map { case ((w, t), n) => (w, t, n) }
        .groupBy(_._1).map { case (w, rows) =>
          w -> rows.sortBy(r => (-r._3, r._2)).take(2).map(r => (r._2, r._3))
        }
      val want = Windows.tumbling(Tables.events(spark, dir), "ts", "5 minutes",
          Seq("event_type"), Seq(count(lit(1)).as("n")))
        .select("w_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq
        .groupBy(_._1).map { case (w, rows) =>
          w -> rows.sortBy(r => (-r._3, r._2)).take(2).map(r => (r._2, r._3))
        }
      assert(topk == want && topk.nonEmpty)
    } finally q.stop()
  }

  test("funnel-session payload: batch fold == SQL session funnel; streaming closed ⊂ batch") {
    implicit val sp = spark
    val gapMs = 10 * 60 * 1000L
    val typed = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[Sessionize.TypedEvent]
    val batch = Sessionize.funnelSessionsBatch(typed, gapMs)
      .collect()
      .map(f => (f.user_id, java.sql.Timestamp.from(f.s_start)) ->
        ((f.n, f.viewed, f.clicked, f.purchased))).toMap
    // must agree with the oracle-checked window-based q_session_funnel
    val sql = graft.queries.AnalyticsQueries.qSessionFunnel(spark, dir)
      .select("user_id", "s_start", "n_events", "viewed", "clicked", "purchased")
      .as[(Long, java.sql.Timestamp, Long, Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(batch == sql)
    // streaming: closed sessions must be a subset with identical payloads
    val q = Sessionize.funnelSessions(
        eventStream().withWatermark("ts", "1 minute")
          .select(col("user_id"), col("ts"), col("event_type"))
          .as[Sessionize.TypedEvent], gapMs)
      .writeStream.format("memory").queryName("funnel_sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("funnel_sess_out")
        .as[Sessionize.FunnelSession].collect()
      assert(streamed.nonEmpty)
      streamed.foreach { f =>
        val key = (f.user_id, java.sql.Timestamp.from(f.s_start))
        assert(batch(key) == ((f.n, f.viewed, f.clicked, f.purchased)), s"$key")
      }
    } finally q.stop()
  }

  test("session_window batch == custom sessionize batch (same fold)") {
    implicit val sp = spark
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value")).as[Sessionize.Event]
    val custom = Sessionize.sessionsBatch(ev, 10 * 60 * 1000)
      .select("user_id", "s_start", "s_end", "n")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    val builtin = Windows.session(Tables.events(spark, dir), "ts", "10 minutes",
        Seq("user_id"))
      .select(col("user_id"), col("s_start"), col("s_end"), col("n"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(custom == builtin)
  }

  test("index-backed streaming dedup: two-batch split == one-shot verdicts " +
       "against a static index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.DedupIndex
    import graft.streaming.IngestDedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", "t_stream_idx", threshold = 0.5, buckets = 4)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    val (b1, b2) = delta.partition(_._1 % 10 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val input = MemoryStream[(Long, String, String)]
    val q = IngestDedup.run(input.toDF().toDF("doc_id", "lang", "text"),
      "t_stream_idx", "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdicts", checkpoint = s"$tmp/ckpt",
      updateIndex = false).start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/verdicts")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toSet
    val oneShot = DedupIndex.dedupIncremental(spark, "t_stream_idx",
        docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", "lang",
        threshold = 0.5)
      .as[(Long, Boolean, Option[String])].collect().toSet
    assert(streamed == oneShot)
    assert(streamed.size == delta.length)
  }

  test("index-backed streaming dedup in LSH candidate mode: two-batch split " +
       "== one-shot verdicts; replay stamping holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.DedupIndex
    import graft.streaming.IngestDedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", "t_stream_lsh_idx", threshold = 0.5, buckets = 4)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    val (b1, b2) = delta.partition(_._1 % 10 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_lsh").toString
    val input = MemoryStream[(Long, String, String)]
    val q = IngestDedup.run(input.toDF().toDF("doc_id", "lang", "text"),
      "t_stream_lsh_idx", "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdicts", checkpoint = s"$tmp/ckpt",
      updateIndex = false, candidates = "lsh").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/verdicts")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toSet
    // LSH banding is deterministic (fixed seed), so batch splitting must
    // not change verdicts vs the one-shot probe in the SAME mode
    val oneShot = DedupIndex.dedupIncremental(spark, "t_stream_lsh_idx",
        docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", "lang",
        threshold = 0.5, candidates = "lsh")
      .as[(Long, Boolean, Option[String])].collect().toSet
    assert(streamed == oneShot)
    assert(streamed.size == delta.length)
    // replay stamping in LSH mode: same batchId + runTag appends, then
    // judges against the pre-append state — one verdict copy, unchanged
    val batch = Seq(
      (90010L, "en", "lsh replay alpha beta gamma delta epsilon zeta"),
      (90011L, "en", "lsh replay alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "lang", "text")
    def step() = IngestDedup.processBatch(batch, batchId = 0L,
      "t_stream_lsh_idx", "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/replay", updateIndex = true,
      candidates = "lsh", runTag = "lshRun")
    step()
    step() // restart-replay of the same micro-batch
    val replayed = spark.read.parquet(s"$tmp/replay")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toList.sortBy(_._1)
    // both rows are novel vs the index; the within-batch pair is judged by
    // the delta-vs-corpus contract (batch rows don't judge each other),
    // and the REPLAY must reproduce that even though attempt 1 appended
    assert(replayed == List((90010L, true, None), (90011L, true, None)))
  }

  test("index-backed streaming dedup with index updates: later batches are " +
       "judged against earlier survivors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.DedupIndex
    import graft.streaming.IngestDedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "en", "one two three four five six seven eight"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_upd_idx",
      threshold = 0.5, buckets = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_upd").toString
    val input = MemoryStream[(Long, String, String)]
    val q = IngestDedup.run(input.toDF().toDF("doc_id", "lang", "text"),
      "t_upd_idx", "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdicts", checkpoint = s"$tmp/ckpt",
      updateIndex = true).start()
    try {
      // batch 1: novel doc -> kept, appended to the index
      input.addData((10L, "en", "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
      // batch 2: exact copy of batch 1's survivor, a near-dup of it
      // (6 of 7 union trigrams shared -> jaccard ~0.71), and a novel doc
      input.addData(
        (20L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
        (21L, "en", "alpha beta gamma delta epsilon zeta eta iota"),
        (22L, "en", "completely different words about nine ten eleven twelve"))
      q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(s"$tmp/verdicts")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toSet
    assert(verdicts == Set(
      (10L, true, None),
      (20L, false, Some("exact")),
      (21L, false, Some("near")),
      (22L, true, None)))
  }

  test("ingestion batch replay is idempotent: same batchId leaves one verdict copy") {
    import graft.ext.DedupIndex
    import graft.streaming.IngestDedup
    val corpus = Seq((1L, "en", "one two three four five six seven eight"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_replay_idx",
      threshold = 0.5, buckets = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val batch = Seq(
      (10L, "en", "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "en", "one two three four five six seven eight"))
      .toDF("doc_id", "lang", "text")
    def step() = IngestDedup.processBatch(batch, batchId = 0L, "t_replay_idx",
      "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdicts", updateIndex = true, runTag = "runA")
    step()
    step() // the restart-replay: same batch, same batchId, same run
    val verdicts = spark.read.parquet(s"$tmp/verdicts")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toList
    // one copy per input row, not two — and the replay judged against the
    // PRE-append index state equivalently: verdicts unchanged even though
    // the first pass appended doc 10 to the index (probes distinct matches)
    assert(verdicts.sortBy(_._1) == List(
      (10L, true, None), (11L, false, Some("exact"))))
    // a DIFFERENT run against the same index also starts at batchId 0 —
    // its exclusion stamp must NOT mask run A's batch-0 survivors, so a
    // true duplicate of doc 10's text is dropped
    val batchB = Seq((20L, "en", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "lang", "text")
    IngestDedup.processBatch(batchB, batchId = 0L, "t_replay_idx",
      "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdictsB", updateIndex = false, runTag = "runB")
    val vb = spark.read.parquet(s"$tmp/verdictsB")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toList
    assert(vb == List((20L, false, Some("exact"))))
  }

  test("streaming vector ingestion into an SQ8 index: appends stay " +
       "byte-packed; two-batch split == one-shot append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.SimilarityIndex
    import graft.streaming.IngestVectors
    implicit val sqlCtx = spark.sqlContext
    val e = Tables(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") < 400)
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_stream_sq8",
      k = 4, iters = 1, buckets = 4, codec = "sq8")
    val extra = e.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = extra.partition(_._1 % 2 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sq8_vec").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IngestVectors.run(input.toDF().toDF("vec_id", "embedding"),
      "t_stream_sq8", checkpoint = s"$tmp/ckpt").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // the offline compaction folds the sq8-schema table through
    // compactionFrame + snapshot swap, so the end state also proves
    // compaction handles the byte-packed row shape
    SimilarityIndex.compact(spark, "t_stream_sq8")
    // every streamed vector landed (micro-batch appends sniffed the
    // stored codec — a float-shaped append would have failed name
    // resolution, and a silent no-op would miss rows here)
    assert(spark.table("t_stream_sq8_cells").count() == e.count())
    assert(!spark.table("t_stream_sq8_cells").columns.contains("v"))
    // quantization + assignment are deterministic, so the batch split
    // must not change any search result vs a one-shot sq8 append
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_oneshot_sq8",
      k = 4, iters = 1, buckets = 4, codec = "sq8")
    SimilarityIndex.append(spark, "t_oneshot_sq8",
      e.filter(col("vec_id") >= 400))
    val probes = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val streamed = rows(SimilarityIndex.topK(spark, "t_stream_sq8", probes,
      k = 3, nprobe = 2))
    val oneShot = rows(SimilarityIndex.topK(spark, "t_oneshot_sq8", probes,
      k = 3, nprobe = 2))
    assert(streamed == oneShot && streamed.nonEmpty)
  }

  test("streaming vector ingestion into a PQ index: appends encode with " +
       "the stored codebooks; two-batch split == one-shot append") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.SimilarityIndex
    import graft.streaming.IngestVectors
    implicit val sqlCtx = spark.sqlContext
    val e = Tables(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") < 400)
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_stream_pq",
      k = 4, iters = 1, buckets = 4, codec = "pq", pqM = 8, pqK = 16)
    val extra = e.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val (b1, b2) = extra.partition(_._1 % 2 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_vec").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IngestVectors.run(input.toDF().toDF("vec_id", "embedding"),
      "t_stream_pq", checkpoint = s"$tmp/ckpt").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // the offline compaction folds the code-packed table through
    // compactionFrame + snapshot swap WITH the codebook sidecar
    SimilarityIndex.compact(spark, "t_stream_pq")
    assert(spark.table("t_stream_pq_cells").count() == e.count())
    assert(spark.table("t_stream_pq_cells").columns.toSet ==
      Set("cell", "id", "pqc"), "streamed appends must keep the pq layout")
    // codebooks are stored artifacts, so the batch split cannot change
    // any search result vs a one-shot pq append
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_oneshot_pq",
      k = 4, iters = 1, buckets = 4, codec = "pq", pqM = 8, pqK = 16)
    SimilarityIndex.append(spark, "t_oneshot_pq",
      e.filter(col("vec_id") >= 400))
    val probes = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val streamed = rows(SimilarityIndex.topK(spark, "t_stream_pq", probes,
      k = 3, nprobe = 2))
    val oneShot = rows(SimilarityIndex.topK(spark, "t_oneshot_pq", probes,
      k = 3, nprobe = 2))
    assert(streamed == oneShot && streamed.nonEmpty)
  }

  test("a delete between micro-batches masks the doc for every later " +
       "batch's verdicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.DedupIndex
    import graft.streaming.IngestDedup
    implicit val sqlCtx = spark.sqlContext
    // synthetic corpus: doc 1's text has no near-dup partner in doc 2,
    // so after doc 1's takedown an incoming copy must judge KEEP — the
    // fixture corpus has engineered near-dups that would muddy this
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta"),
      (2L, "en", "wholly unrelated other words entirely here"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_stream_del",
      threshold = 0.5, buckets = 4)
    val text1 = "alpha beta gamma delta epsilon zeta eta"
    val tmp = java.nio.file.Files.createTempDirectory("graft_del_stream").toString
    val input = MemoryStream[(Long, String, String)]
    val q = IngestDedup.run(input.toDF().toDF("doc_id", "lang", "text"),
      "t_stream_del", "text", "doc_id", "lang", threshold = 0.5,
      verdictPath = s"$tmp/verdicts", checkpoint = s"$tmp/ckpt",
      updateIndex = false).start()
    try {
      // batch 1: a copy of doc 1's text → exact duplicate
      input.addData(Seq((90201L, "en", text1))); q.processAllAvailable()
      // the takedown lands between micro-batches
      DedupIndex.delete(spark, "t_stream_del",
        Seq(1L).toDF("doc_id"), "doc_id")
      // batch 2: the same text again → the deleted doc witnesses
      // nothing, so the copy is now kept
      input.addData(Seq((90202L, "en", text1))); q.processAllAvailable()
    } finally q.stop()
    val verdicts = spark.read.parquet(s"$tmp/verdicts")
      .select("doc_id", "keep", "reason")
      .as[(Long, Boolean, Option[String])].collect().toSet
    assert(verdicts == Set(
      (90201L, false, Some("exact")),
      (90202L, true, None)))
  }

  test("streaming vector ingestion: batches searchable as they commit; " +
       "two-batch split == one-shot append; a compaction after the stream " +
       "folds files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.{Similarity, SimilarityIndex}
    import graft.streaming.IngestVectors
    implicit val sqlCtx = spark.sqlContext
    val e = Tables(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") < 400)
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_stream_ann",
      k = 4, iters = 1, buckets = 4)
    val extra = e.filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    // a synthetic TWIN of vec 400 (search excludes self-pairs, so the
    // only way a probe scores cosine ~1 is finding a DISTINCT row with
    // the identical vector — which exists iff its batch is searchable)
    val twin = (99999L, extra.find(_._1 == 400L).get._2)
    val (b1, b2) = extra.partition(_._1 % 2 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_vec").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IngestVectors.run(input.toDF().toDF("vec_id", "embedding"),
      "t_stream_ann", checkpoint = s"$tmp/ckpt").start()
    try {
      input.addData(b1.toSeq :+ twin); q.processAllAvailable()
      // batch 1 is searchable before batch 2 arrives: probing with vec
      // 400 must surface its batch-1 twin at cosine ~1, which only
      // happens if the main session sees the cloned micro-batch
      // session's append
      val mid = SimilarityIndex.topK(spark, "t_stream_ann",
        e.filter(col("vec_id") === 400), k = 1, nprobe = 4).collect()
      assert(mid.length == 1 &&
        mid.head.getLong(2) == twin._1 && mid.head.getDouble(3) > 0.999)
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // the offline compaction: the end state is the post-compaction state
    SimilarityIndex.compact(spark, "t_stream_ann")
    // assignment under the stored quantizer is deterministic, so the
    // batch split must not change any search result vs a one-shot append
    SimilarityIndex.write(corpus, "embedding", "vec_id", "t_oneshot_ann",
      k = 4, iters = 1, buckets = 4)
    SimilarityIndex.append(spark, "t_oneshot_ann",
      e.filter(col("vec_id") >= 400).select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].union(Seq(twin).toDS()).toDF())
    val probes = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val streamed = rows(SimilarityIndex.topK(spark, "t_stream_ann", probes,
      k = 3, nprobe = 2))
    val oneShot = rows(SimilarityIndex.topK(spark, "t_oneshot_ann", probes,
      k = 3, nprobe = 2))
    assert(streamed == oneShot && streamed.nonEmpty)
    // the compaction left one file per non-empty bucket
    val cellsDir = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_stream_ann_cells"))
      .location.getPath)
    val dataFiles = cellsDir.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles <= 4, s"compaction did not run/merge: $dataFiles files")
  }

  test("streaming span ingestion trims against index and earlier batches; " +
       "replay reproduces verdicts without duplicating output") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.SpanIndex
    import graft.streaming.IngestSpans
    implicit val sqlCtx = spark.sqlContext
    SpanIndex.write(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text"),
      "text", "doc_id", "t_span_stream", w = 6, buckets = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_spans").toString
    val input = MemoryStream[(Long, String)]
    val q = IngestSpans.run(input.toDF().toDF("doc_id", "text"),
      "t_span_stream", "text", "doc_id",
      outPath = s"$tmp/out", checkpoint = s"$tmp/ckpt").start()
    try {
      input.addData(Seq(
        (10L, "alpha beta gamma delta epsilon zeta eta"), // corpus copy
        (11L, "one two three four five six seven eight"))) // new content
      q.processAllAvailable()
      input.addData(Seq(
        (20L, "one two three four five six seven eight"), // batch-1 copy
        (21L, "nine ten eleven twelve thirteen fourteen"))) // new content
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "kept_tokens", "trimmed_text")
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set(
      (10L, 0L, ""),
      (11L, 8L, "one two three four five six seven eight"),
      (20L, 0L, ""), // trimmed by batch 1's appended survivors
      (21L, 6L, "nine ten eleven twelve thirteen fourteen")))
    // restart-replay of a micro-batch: same batchId + runTag must judge
    // against the pre-append state (own stamp excluded) and leave one
    // output copy with the original values
    val replayBatch = Seq(
      (30L, "replay words aa bb cc dd ee ff gg")).toDF("doc_id", "text")
    def step() = IngestSpans.processBatch(replayBatch, batchId = 7L,
      "t_span_stream", "text", "doc_id", outPath = s"$tmp/replay",
      updateIndex = true, runTag = "spanRun")
    step()
    step()
    val replayed = spark.read.parquet(s"$tmp/replay")
      .select("doc_id", "kept_tokens", "trimmed_text")
      .as[(Long, Long, String)].collect().toList
    assert(replayed == List((30L, 9L, "replay words aa bb cc dd ee ff gg")))
  }

  test("streaming curation: bootstrap keeps all, later batches score " +
       "against the standing features; batch-2 verdicts == one-shot; replay " +
       "neither double-counts features nor changes verdicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.IngestCuration
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cur").toString
    val target = "text LIKE '%join%'"
    val input = MemoryStream[(Long, String, String)]
    val q = IngestCuration.run(input.toDF().toDF("doc_id", "lang", "text"),
      featPath = s"$tmp/feat", textCol = "text", idCol = "doc_id",
      targetExpr = target, minRatio = 0L,
      verdictPath = s"$tmp/verdicts", checkpoint = s"$tmp/ckpt",
      updateFeatures = true).start()
    try { input.addData(b1.toSeq); q.processAllAvailable() } finally q.stop()

    // batch 0 was the bootstrap: every row kept with the bootstrap reason
    val verdicts0 = spark.read.parquet(s"$tmp/verdicts")
    assert(verdicts0.count() == b1.length)
    val r1 = verdicts0.select("keep", "reason").as[(Boolean, String)].collect()
    assert(r1.nonEmpty && r1.forall { case (k, r) => k && r == "bootstrap" })

    // pick the threshold from the observed spread so BOTH verdict classes
    // must appear (the fixture's shared vocabulary leaves the absolute
    // scale fragile, the spread is not)
    val feat1 = IngestCuration.readFeatures(spark, s"$tmp/feat")
      .localCheckpoint()
    val b2df = b2.toSeq.toDF("doc_id", "lang", "text")
    val ratios = IngestCuration.scoreBatch(b2df, feat1, "text", "doc_id",
        target, minRatio = 0L)
      .select("avg_ratio").as[Long].collect()
    assert(ratios.min < ratios.max, "scoring produced no spread")
    val thr = (ratios.min + ratios.max) / 2

    def runBatch2(): Set[(Long, Long, Boolean)] = {
      IngestCuration.processBatch(b2df, batchId = 1L, featPath = s"$tmp/feat",
        textCol = "text", idCol = "doc_id", targetExpr = target,
        minRatio = thr, verdictPath = s"$tmp/verdicts",
        updateFeatures = true, runTag = s"$tmp/ckpt")
      spark.read.parquet(s"$tmp/verdicts").filter(col("batch_id") === 1)
        .select("doc_id", "avg_ratio", "keep")
        .as[(Long, Long, Boolean)].collect().toSet
    }
    val streamed2 = runBatch2()
    // identical to one-shot scoring against the post-batch-0 features
    val oneShot = IngestCuration.scoreBatch(b2df, feat1, "text", "doc_id",
        target, minRatio = thr)
      .select("doc_id", "avg_ratio", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed2 == oneShot)
    assert(streamed2.exists(_._3) && streamed2.exists(!_._3),
      "threshold at the spread midpoint must split the batch")

    // replay (restart between sink write and checkpoint commit): the same
    // stamp overwrites its own delta partition — aggregated features and
    // verdicts both unchanged
    val before = IngestCuration.readFeatures(spark, s"$tmp/feat")
      .as[(Long, Long, Long)].collect().toSet
    val replayed2 = runBatch2()
    val after = IngestCuration.readFeatures(spark, s"$tmp/feat")
      .as[(Long, Long, Long)].collect().toSet
    assert(after == before, "replayed batch double-counted features")
    assert(replayed2 == streamed2, "replay changed verdicts")
    assert(spark.read.parquet(s"$tmp/verdicts").count() == docs.length)
  }

  test("streamed chunk-index maintenance equals the one-shot chunk manifest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.{ChunkIndex, Sharding}
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft_chunks_stream").toString
    val input = MemoryStream[(Long, String)]
    val q = ChunkIndex.run(input.toDF().toDF("doc_id", "text"),
      base = s"$tmp/idx", textCol = "text", idCol = "doc_id",
      seed = 42L, cutMod = 16L, checkpoint = s"$tmp/ckpt").start()
    try {
      docs.grouped(200).foreach { g =>
        input.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val standing = ChunkIndex.readManifest(spark, s"$tmp/idx")
      .as[(Long, Long, Long, Long)].collect().toSet
    val oneShot = Sharding.chunkManifest(
        Tables(spark, dir, "documents"), "doc_id", "text", 42L, 16L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(standing == oneShot)
  }
}
