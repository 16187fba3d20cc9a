package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}

import org.apache.spark.sql.functions._

import graft.dsl._
import graft.exec.Wrangle
import graft.model.{Model, PipelineSpec}

/** Property-based invariants (SURVEY.md §5.2). Each property materializes
  * its generated cases as one literal DataFrame and runs one Spark job. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  lazy val spark = SparkTest.spark
  import spark.implicits._

  val smallInts: Gen[List[Int]] = Gen.listOfN(6, Gen.choose(-50, 50))

  property("chain is associative: (a|b)|c == a|(b|c)") =
    forAll(smallInts) { xs =>
      val df = Seq((xs, 0)).toDF("arr", "z")
      val a = FilterT(Cmp(">", -10)); val b = MapT(Fn("negate")); val c = Flatten(0)
      def run(t: Transform) =
        Wrangle.wrangle(df, PipelineSpec(Model("M")("r" -> (Get("arr") | t))), "M")
          .collect().head.getSeq[Int](0)
      run((a | b) | c) == run(a | (b | c))
    }

  property("flatten undoes nesting") =
    forAll(smallInts) { xs =>
      val df = Seq(Tuple1(xs)).toDF("arr")
      val nested = df.select(array(col("arr"), col("arr")).as("n"))
      val spec = PipelineSpec(Model("M")("r" -> (Get("n") | Flatten())))
      Wrangle.wrangle(nested, spec, "M").collect().head.getSeq[Int](0) == (xs ++ xs)
    }

  property("gather projects exactly the asked keys") =
    forAll(Gen.listOfN(5, Gen.zip(Gen.identifier.map(_.take(8)), Gen.choose(0, 9)))) { m0 =>
      val m = m0.distinctBy(_._1)
      m.isEmpty || {
        val keys = m.map(_._1).take(2)
        val df = Seq(Tuple1(m.toMap)).toDF("m")
        val spec = PipelineSpec(Model("M")("r" -> (Get("m") | Gather(keys))))
        val got = Wrangle.wrangle(df, spec, "M").collect().head.getMap[String, Int](0)
        val want = m.toMap
        got.keySet == keys.toSet && keys.forall(k => got(k) == want(k))
      }
    }

  property("getOrCreate partitions incoming into hits and misses") =
    forAll(Gen.listOfN(8, Gen.choose(0L, 20L)), Gen.listOfN(8, Gen.choose(0L, 20L))) {
      (inc0, dim0) =>
        val inc = inc0.distinct; val dim = dim0.distinct
        inc.nonEmpty && dim.nonEmpty ==> {
          val incoming = inc.map(k => (k, s"new-$k")).toDF("k", "name")
          val dimDf = dim.map(k => (k, s"old-$k")).toDF("k", "name")
          val r = Wrangle.getOrCreate(incoming, dimDf, Seq("k"))
            .as[(Long, String, Boolean)].collect()
          val created = r.filter(_._3).map(_._1).toSet
          val matched = r.filter(!_._3).map(_._1).toSet
          r.length == inc.size &&
            (created intersect matched).isEmpty &&
            (created union matched) == inc.toSet &&
            matched.forall(dim.contains) &&
            created.forall(k => !dim.contains(k)) &&
            r.forall { case (k, n, c) => if (c) n == s"new-$k" else n == s"old-$k" }
        }
    }

  property("salted join == plain join on random skewed data") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 3L)), Gen.listOfN(3, Gen.choose(0L, 5L))) {
      (factKeys, dimKeys) =>
        val fact = factKeys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
          .toDF("k", "payload")
        val dim = dimKeys.distinct.map(k => (k, s"d$k")).toDF("k", "label")
        val got = graft.exec.Skew.saltedJoin(fact, dim, Seq("k"), salts = 4)
          .as[(Long, Long, String)].collect().sorted.toSeq
        val want = fact.join(dim, Seq("k"))
          .as[(Long, Long, String)].collect().sorted.toSeq
        got == want
    }

  property("repetition signals stay in [0,1] and spam maximizes them") =
    forAll(Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd"))) { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val r = graft.ext.TextAnalysis.repetitionSignals(df, "text", "id", n = 2)
        .collect().head
      val (rep, top, dup) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      Seq(rep, top, dup).forall(x => x >= 0.0 && x <= 1.0) &&
        (words.distinct.size != 1 || (top == 1.0 && rep == 1.0))
    }

  property("funnel stages are monotonically non-increasing") =
    forAll(Gen.listOfN(12,
      Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 1000L),
        Gen.oneOf("view", "click", "purchase", "error")))) { evs =>
      val df = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t)),
          u, ty, 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = java.nio.file.Files.createTempDirectory("graft_funnel").toString
      // route through the same nanos layout Tables.events reads
      df.withColumn("ts", expr("unix_micros(ts) * 1000")).write
        .mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = graft.queries.AnalyticsQueries.qFunnel(spark, tmp).collect().head
      val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
      v >= c && c >= p
    }

  property("chunking covers every token: stride windows reassemble the doc") =
    forAll(Gen.choose(1, 130)) { nTok =>
      val text = (0 until nTok).map(i => s"w$i").mkString(" ")
      val df = Seq((1L, text, "en", "src", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val tmp = java.nio.file.Files.createTempDirectory("graft_chunk").toString
      df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val chunks = graft.queries.ExtQueries.qChunk(spark, tmp)
        .orderBy("chunk_id").collect()
      val toks = chunks.flatMap(_.getString(3).split(" ")).distinct
      // every token appears in some chunk, chunk 0 starts at token 0, and
      // consecutive chunks overlap by chunk-stride = 10 tokens (when full)
      toks.length == nTok &&
        chunks.head.getString(3).startsWith("w0") &&
        chunks.forall(_.getLong(2) <= 50)
    }

  property("prefix-filtered jaccard == quadratic join on random degenerate docs") =
    forAll(Gen.listOfN(8, Gen.zip(
      Gen.oneOf("en", "fr"),
      Gen.choose(0, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "ee")))))) { docsRaw =>
      val docs = docsRaw.zipWithIndex.map { case ((lang, ws), i) =>
        (i.toLong, ws.mkString(" "), lang)
      }.toDF("doc_id", "text", "lang")
      def toSet(df: org.apache.spark.sql.DataFrame) =
        df.as[(Long, Long, Double)].collect().toSet
      val pref = toSet(graft.ext.Dedup.prefixJaccardPairs(
        docs, "text", "doc_id", "lang", 0.5))
      val quad = toSet(graft.ext.Dedup.blockedJaccardPairs(
        docs, "text", "doc_id", "lang", 0.5))
      pref == quad
    }

  property("segment dedup: unique docs pass through; duplicated docs lose text") =
    forAll(Gen.choose(2, 25)) { n =>
      // doc 0 and doc 1 share identical text; docs 2..n are pairwise unique
      val texts = ("dup dup dup dup" :: "dup dup dup dup" ::
        (2 to n).map(i => (0 until 12).map(j => s"u${i}_$j").mkString(" ")).toList)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ext.Dedup.dedupSegments(docs, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      // doc 1's only segment is claimed by doc 0 → doc 1 vanishes;
      // unique docs reassemble to their exact tokenized text
      !out.contains(1L) && out(0L) == "dup dup dup dup" &&
        (2 to n).forall(i => out(i.toLong) == texts(i))
    }

  // strings over a 3-letter alphabet maximize collisions/near-misses —
  // the adversarial regime for the segment filter
  private val shortStrings: Gen[List[String]] =
    Gen.listOfN(12, Gen.choose(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))

  property("PassJoin editdist pairs == quadratic twin on adversarial strings") =
    forAll(shortStrings, Gen.choose(1, 3)) { (ss, tau) =>
      val df = ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
      val fast = graft.ext.EditDistance.editDistancePairs(df, "s", "id", tau)
        .as[(Long, Long, Int)].collect().toSet
      val brute = graft.ext.EditDistance.editDistancePairsBrute(df, "s", "id", tau)
        .as[(Long, Long, Int)].collect().toSet
      fast == brute
    }

  property("PassJoin cross linkage == quadratic twin on adversarial strings") =
    forAll(shortStrings, shortStrings, Gen.choose(1, 3)) { (ps, is, tau) =>
      val p = ps.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("pid", "p")
      val ix = is.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("iid", "t")
      val fast = graft.ext.EditDistance
        .editDistanceJoin(p, "p", "pid", ix, "t", "iid", tau)
        .as[(Long, Long, Int)].collect().toSet
      val brute = graft.ext.EditDistance
        .editDistanceJoinBrute(p, "p", "pid", ix, "t", "iid", tau)
        .as[(Long, Long, Int)].collect().toSet
      fast == brute
    }

  property("pageRank: every rank >= damping floor; total mass never grows") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))) { es0 =>
      val es = es0.filter(e => e._1 != e._2).distinct
      es.nonEmpty ==> {
        val nodes = (0L to 5L).toDF("node")
        val edges = es.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
        val r = graft.ext.Graph.pageRank(nodes, edges, iters = 3)
          .as[(Long, Long)].collect()
        // floor: isolated or un-pointed-to nodes keep exactly 150000;
        // conservation: floor division + dangling drop can only lose mass
        // relative to the ideal 1e6-per-node total
        r.forall(_._2 >= 150000L) && r.map(_._2).sum <= 6L * 1000000L
      }
    }

  property("incremental transition fold == one-shot edges for any in-order split") =
    forAll(Gen.listOfN(16, Gen.zip(Gen.choose(0L, 3L), Gen.oneOf("a", "b", "c"))),
      Gen.choose(0, 16)) { (evs0, cut) =>
      val evs = evs0.zipWithIndex.map { case ((u, item), i) => (u, i.toLong, item) }
      val full = evs.toDF("u", "seq", "item")
      val oneShot = graft.ext.Graph.transitionEdges(full, "u", "item", Seq("seq"))
        .as[(String, String, Long)].collect().toSet
      var edges = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
      var boundary = full.limit(0)
      for (b <- Seq(evs.take(cut), evs.drop(cut)) if b.nonEmpty) {
        val (e2, b2) = graft.ext.Graph.transitionStep(
          b.toDF("u", "seq", "item"), boundary, edges, "u", "item", Seq("seq"))
        edges = e2.localCheckpoint(); boundary = b2.localCheckpoint()
      }
      edges.as[(String, String, Long)].collect().toSet == oneShot
    }

  property("truthiness default: falsy inputs take the fallback") =
    forAll(Gen.oneOf(Gen.const(None), Gen.some(Gen.choose(-5.0, 5.0).sample.getOrElse(0.0)))) { v =>
      val df = Seq(Tuple1(v)).toDF("x")
      val spec = PipelineSpec(Model("M")("r" -> (Get("x") | Default(99.0))))
      val got = Wrangle.wrangle(df, spec, "M").collect().head.getDouble(0)
      v match {
        case None               => got == 99.0
        case Some(0.0)          => got == 99.0
        case Some(d)            => got == d
      }
    }

  property("index-backed incremental dedup == recompute-everything path") = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = for {
      lang <- Gen.oneOf("en", "fr")
      n <- Gen.choose(4, 10)
      ws <- Gen.listOfN(n, word)
    } yield (lang, ws.mkString(" "))
    forAll(Gen.listOfN(8, doc)) { docs0 =>
      docs0.nonEmpty ==> {
        val docs = docs0.zipWithIndex
          .map { case ((lang, text), i) => (i.toLong, lang, text) }
          .toDF("doc_id", "lang", "text")
        val corpus = docs.filter(col("doc_id") % 2 === 0)
        val delta = docs.filter(col("doc_id") % 2 === 1)
        graft.ext.DedupIndex.write(corpus, "text", "doc_id", "lang",
          "t_prop_idx", threshold = 0.5, buckets = 2)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getBoolean(1),
            Option(r.getString(2)))).toSet
        rows(graft.ext.DedupIndex.dedupIncremental(spark, "t_prop_idx",
            delta, "text", "doc_id", "lang", threshold = 0.5)) ==
          rows(graft.ext.Dedup.dedupIncremental(corpus, delta,
            "text", "doc_id", "lang", threshold = 0.5))
      }
    }
  }

  property("span dedup: unique corpus scores zero; a planted run is measured exactly") =
    forAll(Gen.choose(6, 12), Gen.choose(0, 4), Gen.choose(0, 4)) { (r, off1, off2) =>
      val w = 6
      // every non-run token is globally unique, so the ONLY window
      // collisions are the run's interior windows — the islands must
      // cover exactly the r run tokens in docs 1 and 2, nothing in doc 3
      val run = (0 until r).map(i => s"r$i")
      val d1 = (0 until off1).map(i => s"a$i") ++ run ++ (0 until 5).map(i => s"b$i")
      val d2 = (0 until off2).map(i => s"c$i") ++ run ++ (0 until 5).map(i => s"d$i")
      val d3 = (0 until 8).map(i => s"e$i")
      val df = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")),
        (3L, d3.mkString(" "))).toDF("doc_id", "text")
      val dup = graft.ext.Dedup.duplicateSpans(df, "text", "doc_id", w)
        .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
      val pairs = graft.ext.Dedup.sharedRunPairs(df, "text", "doc_id",
          minRun = 8, w = w)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
      dup == Map(1L -> r.toLong, 2L -> r.toLong, 3L -> 0L) &&
        pairs == (if (r >= 8) Seq((1L, 2L, r)) else Seq.empty)
    }

  property("decontaminating a corpus against itself empties every doc") =
    forAll(Gen.listOfN(3, Gen.choose(1, 12))) { lens =>
      val df = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"t${i}_$j").mkString(" "))
      }.toDF("doc_id", "text")
      graft.ext.Dedup.trimMatchingSpans(df, "text", "doc_id", df, "text", w = 6)
        .collect().forall(x => x.getLong(1) == 0L && x.getString(2).isEmpty)
    }

  property("two-phase grouped row_number == window for arbitrary groups, ties and nulls") =
    forAll(Gen.listOfN(24, Gen.zip(
      Gen.option(Gen.oneOf("a", "b", "c")), Gen.choose(0, 5)))) { rows =>
      import org.apache.spark.sql.expressions.Window
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("id", "g", "v")
      val expected = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v"), col("id"))).cast("long"))
        .select("id", "rn").as[(Long, Long)].collect().toMap
      val got = graft.exec.Ranks
        .groupedRowNumber(df, Seq("g"), Seq(col("v"), col("id")), "rn")
        .select("id", "rn").as[(Long, Long)].collect().toMap
      got == expected
    }

  property("BPE: distributed merges equal the sequential reference on random corpora") =
    forAll(Gen.listOfN(12,
      Gen.listOfN(4, Gen.oneOf("ab", "aab", "abc", "ba", "bb", "cab", "x"))
        .map(_.mkString(" ")))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val dist = graft.ext.Bpe.merges(docs, "text", k = 6)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      val words = graft.ext.Bpe.wordCounts(docs, "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      dist == graft.ext.Bpe.referenceMerges(words, k = 6)
    }

  property("perceptron: distributed training equals a sequential full-batch replay") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.oneOf(true, false),
      Gen.listOfN(3, Gen.oneOf("ax", "by", "cz", "dw", "ev"))))) { rows =>
      val docs = rows.zipWithIndex.map { case ((pos, toks), i) =>
        (i.toLong, if (pos) "pos" else "neg", toks.mkString(" "))
      }.toDF("doc_id", "cls", "text")
      val dist = graft.ext.Perceptron.train(docs, "text", "doc_id",
          "cls = 'pos'", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential replay on collected features, same update rule
      val feat = graft.ext.Perceptron.features(docs, "text", "doc_id", "cls = 'pos'")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      var w = Map.empty[Long, Long].withDefaultValue(0L)
      for (_ <- 1 to 3) {
        val byDoc = feat.groupBy(_._1)
        val upd = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        byDoc.foreach { case (_, fs) =>
          val y = fs.head._2
          val m = fs.map { case (_, _, b, n) => n * w(b) }.sum
          if ((y > 0 && m <= 0) || (y < 0 && m > 0))
            fs.foreach { case (_, _, b, n) => upd(b) += y * n }
        }
        w = upd.foldLeft(w) { case (acc, (b, d)) => acc.updated(b, acc(b) + d) }
      }
      val refOnDist = dist.keys.map(b => b -> w(b)).toMap
      dist == refOnDist
    }

  property("chunk index: any ingest/delete interleaving == one-shot manifest of survivors") =
    forAll(
      Gen.listOfN(30, Gen.choose(0, 2)),      // batch assignment per doc
      Gen.listOfN(30, Gen.choose(0, 4))       // delete marks (0 => delete)
    ) { (assign, marks) =>
      val base = java.nio.file.Files.createTempDirectory("graft_pchunk").toString + "/idx"
      val docs = assign.indices.map { i =>
        (i.toLong, s"doc $i " + ("w " * (i % 7)).trim)
      }
      val byBatch = docs.zip(assign).groupBy(_._2)
      (0 to 2).foreach { b =>
        val rows = byBatch.getOrElse(b, Nil).map(_._1)
        if (rows.nonEmpty)
          graft.ext.ChunkIndex.append(spark, base, rows.toDF("doc_id", "text"),
            "text", "doc_id", seed = 11L, cutMod = 4L, batchId = b.toLong)
      }
      val dead = docs.zip(marks).collect { case ((id, _), 0) => id }
      if (dead.nonEmpty)
        graft.ext.ChunkIndex.delete(spark, base, dead.toDF("doc_id"),
          "doc_id", cutMod = 4L, batchId = 3L)
      val standing = graft.ext.ChunkIndex.readManifest(spark, base)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val survivors = docs.filterNot { case (id, _) => dead.contains(id) }
      val oneShot =
        if (survivors.isEmpty) Set.empty[(Long, Long, Long, Long)]
        else graft.ext.Sharding.chunkManifest(
            survivors.toDF("doc_id", "text"), "doc_id", "text", 11L, 4L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      standing == oneShot
    }

  property("cluster index: any fold/withdraw interleaving == Dedup.clusters over live nodes and alive edges") = {
    import graft.ext.{ClusterIndex, Dedup}
    // random steps use ids 1..9: 0 is held back for the tail's new node
    // below every cid, and -1 is the retraction sentinel
    val id = Gen.choose(1L, 9L)
    val end = Gen.frequency(8 -> id.map(Option(_)), 1 -> Gen.const(Option.empty[Long]))
    val edge = Gen.frequency(5 -> Gen.zip(end, end), 1 -> id.map(x => (Option(x), Option(x))))
    // (kind, edges, ids): 0 = fold, 1 = withdraw, 2 = replay the previous
    // step under its own batch id; every edge list repeats its first edge
    val step = for {
      kind <- Gen.frequency(5 -> 0, 2 -> 1, 1 -> 2)
      es <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, edge))
      ids <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, id))
    } yield (kind, es ++ es.take(1), ids)
    // no shrinking: shrunk ids leave the generator's range (down to the
    // sentinel), so only the generated case is a valid counterexample
    forAllNoShrink(Gen.listOfN(5, step), id) { (random, anchor) =>
      // the tail folds node 0 (smaller than every cid) onto `anchor`,
      // then replays that fold
      val steps = random :+ ((0, List((Option(0L), Option(anchor))), List(0L))) :+
        ((2, Nil, Nil))
      val base = java.nio.file.Files.createTempDirectory("graft_pcc").toString + "/cc"
      var live = Set.empty[Long]
      var alive = Set.empty[(Long, Long)]
      var prev: Option[(Int, List[(Option[Long], Option[Long])], List[Long])] = None
      var batch = -1L
      val failure = steps.iterator.zipWithIndex.map { case (s, i) =>
        val (kind, es, ids) = if (s._1 == 2) prev.getOrElse(s) else { batch += 1; s }
        prev = Some((kind, es, ids))
        if (kind == 0) {
          ClusterIndex.fold(spark, base, es.toDF("id_a", "id_b"), ids.toDF("id"), batch)
          val full = es.collect { case (Some(a), Some(b)) => (a, b) }
          live ++= ids ++ full.flatMap(p => Seq(p._1, p._2))
          alive ++= full.collect { case (a, b) if a != b => (a min b, a max b) }
        } else if (kind == 1) {
          ClusterIndex.withdraw(spark, base, ids.toDF("id"), batch)
          val gone = ids.toSet & live
          live --= gone
          alive = alive.filterNot { case (a, b) => gone(a) || gone(b) }
        }
        val got = ClusterIndex.current(spark, base).as[(Long, Long)].collect().toMap
        val want =
          if (live.isEmpty) Map.empty[Long, Long]
          else Dedup.clusters(live.toSeq.toDF("id"), alive.toSeq.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap
        if (got == want) None
        else Some(s"step $i (kind $kind, batch $batch, edges $es, ids $ids): " +
          s"current $got, Dedup.clusters $want")
      }.collectFirst { case Some(msg) => msg }
      failure.isEmpty :| failure.getOrElse("")
    }
  }

  property("epoch shuffle: gap-free token intervals; a shard skips only under a straddling doc") =
    forAll(Gen.choose(1L, 500L), Gen.listOfN(12, Gen.choose(0, 8))) { (budget, lens) =>
      val df = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"w$j").mkString(" "))
      }.toDF("doc_id", "text")
      val r = graft.ext.Sharding.epochShuffle(df, "doc_id", "text", seed = 3L, budget)
        .select("h", "n_tokens", "cum_before", "shard")
        .as[(Long, Long, Long, Long)].collect().sortBy(x => (x._1)).toSeq
      var cum = 0L
      val gapFree = r.forall { case (_, tok, before, shard) =>
        val ok = before == cum && shard == before / budget
        cum += tok; ok
      }
      // A shard index with no documents is legitimate ONLY when a single
      // document's token run covers that whole budget interval (a doc
      // larger than the budget straddles shards by construction) — the
      // old "dense 0..n-1" assertion was wrong exactly there and flaked
      // whenever the generator drew budget < max doc tokens.
      val present = r.map(_._4).toSet
      val maxShard = if (r.isEmpty) -1L else r.map(_._4).max
      val skippedAreSpanned = (0L to maxShard).forall { s =>
        present(s) || r.exists { case (_, tok, before, _) =>
          before < s * budget && before + tok >= (s + 1) * budget
        }
      }
      gapFree && skippedAreSpanned
    }

  property("FIM transform is a sentinel-delimited permutation of any text") =
    forAll(Gen.listOfN(8, Gen.alphaNumStr.map(_.take(30))),
           Gen.choose(0L, 1000L)) { (texts, seed) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
      val out = graft.ext.Packing
        .fimTransform(df, "t", "id", seed, fimPercent = 100)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      out.forall { case (id, mode, text) =>
        val orig = texts(id.toInt)
        val body = text.replace("<fim_prefix>", "")
          .replace("<fim_suffix>", "").replace("<fim_middle>", "")
        if (orig.length < 2) mode == "raw" && text == orig
        else (mode == "psm" || mode == "spm") &&
          body.sorted == orig.sorted &&
          text.count(_ == '<') == orig.count(_ == '<') + 3
      }
    }

  property("preference pairs match the per-group-extremes model") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(0, 3), Gen.choose(0, 100)))) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((g, v), i) =>
        (s"g$g", i.toLong, v.toDouble) }
      val df = rows.toDF("g", "id", "score")
      val got = graft.ext.Preference.pairs(df, Seq("g"), "id", "score", 10.0)
        .collect()
        .map(r => (r.getAs[String]("g"), r.getAs[Long]("chosen_id"),
          r.getAs[Long]("rejected_id"), r.getAs[Double]("margin"))).toSet
      val want = rows.groupBy(_._1).collect {
        case (g, rs) if rs.size >= 2 &&
            rs.map(_._3).max - rs.map(_._3).min >= 10.0 =>
          val hi = rs.map(_._3).max; val lo = rs.map(_._3).min
          (g, rs.filter(_._3 == hi).map(_._2).min,
            rs.filter(_._3 == lo).map(_._2).min, hi - lo)
      }.toSet
      got == want
    }

  property("two-item Bradley-Terry ratio converges to the win ratio") =
    forAll(Gen.choose(1L, 20L), Gen.choose(1L, 20L)) { (wa, wb) =>
      val comp = Seq(("A", "B", wa), ("B", "A", wb)).toDF("winner", "loser", "n")
      val g = graft.ext.Preference.btRatings(comp, iters = 3).collect()
        .map(r => r.getAs[String]("item") -> r.getAs[Double]("gamma")).toMap
      val ratio = g("A") / g("B")
      math.abs(ratio - wa.toDouble / wb) / (wa.toDouble / wb) < 1e-3 &&
        (wa == wb || (wa > wb) == (g("A") > g("B")))
    }

  property("Wilson interval: inside (0,1), brackets interior p, shrinks as counts double") =
    forAll(Gen.choose(0L, 30L), Gen.choose(0L, 30L), Gen.choose(0L, 30L)) {
      (naw, nbw, nt) =>
        (naw + nbw + nt >= 1L) ==> {
          def cell(f: Long) = {
            val comp = Seq(("a", "b", naw * f), ("b", "a", nbw * f))
              .filter(_._3 > 0).toDF("winner", "loser", "n")
            val ties = Seq(("a", "b", nt * f)).filter(_._3 > 0)
              .toDF("a", "b", "n")
            graft.ext.Preference.pairWinRates(comp, ties, z = 1.96).collect()
              .map(r => (r.getAs[Double]("p"), r.getAs[Double]("lo"),
                r.getAs[Double]("hi"))).head
          }
          val (p1, lo1, hi1) = cell(1L)
          val (p2, lo2, hi2) = cell(2L)
          // bounds are attained at boundary p-hats: at p=0 the lower
          // bound IS 0 (center equals half-width analytically), so the
          // invariant is [0,1], strict interior only for interior p
          lo1 >= 0.0 && hi1 <= 1.0 && lo1 < hi1 &&
            (p1 <= 0.0 || p1 >= 1.0 || (lo1 < p1 && p1 < hi1)) &&
            p2 == p1 &&                      // doubling preserves the rate
            (hi2 - lo2) < (hi1 - lo1)        // ...and strictly narrows
        }
    }

  property("grouped Rao-Kupper with no draws equals grouped Bradley-Terry") =
    // Canonical single-direction pairs only: when BOTH directions of a
    // pair carry counts, BT quantizes ONE aggregated term per symmetric
    // edge while RK quantizes each directed role separately — sums of
    // floors differ by an ulp of the 1e-7 grid, so bit-exact equality is
    // only claimed (and only needed: each query replays its OWN oracle)
    // on one-direction data.
    forAll(Gen.listOfN(6, Gen.zip(Gen.choose(0L, 1L),
      Gen.oneOf("a", "b", "c"), Gen.oneOf("a", "b", "c"),
      Gen.choose(1L, 9L)))) { es0 =>
      val es = es0.filter(e => e._2 != e._3)
        .map(e => (e._1, if (e._2 < e._3) e._2 else e._3,
          if (e._2 < e._3) e._3 else e._2, e._4))
      (es.nonEmpty) ==> {
        val comp = es.toDF("b", "winner", "loser", "n")
          .groupBy("b", "winner", "loser")
          .agg(sum("n").as("n"))
        val noTies = Seq.empty[(Long, String, String, Long)]
          .toDF("b", "i", "j", "n")
        val rk = graft.ext.Preference.rkRatingsGrouped(comp, noTies, iters = 3)
          .collect()
          .map(r => ((r.getAs[Long]("b"), r.getAs[String]("item")),
            (r.getAs[Double]("gamma"), r.getAs[Double]("theta")))).toMap
        val bt = graft.ext.Preference.btRatingsGrouped(comp, iters = 3)
          .collect()
          .map(r => ((r.getAs[Long]("b"), r.getAs[String]("item")),
            r.getAs[Double]("gamma"))).toMap
        rk.keySet == bt.keySet &&
          rk.forall { case (k, (g, th)) => th == 1.0 && g == bt(k) }
      }
    }
}
