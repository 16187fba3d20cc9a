package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** Extension-operator tests: exact semantics on literals, and recall of the
  * approximate (LSH) operators against their exact counterparts on the
  * sf0.001 fixtures. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  test("exact dedup keeps min id and counts copies") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa")).toDF("id", "text")
    val r = Dedup.exact(df, "text", "id").orderBy("keep_id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq == Seq((1L, "aa", 3L), (2L, "bb", 1L)))
  }

  test("shingles + jaccard: identical texts 1.0, disjoint 0.0") {
    val df = Seq(("a b c d", "a b c d", "x y z w")).toDF("s1", "s2", "s3")
    val r = df.select(
      Dedup.jaccard(Dedup.shingles(col("s1")), Dedup.shingles(col("s2"))),
      Dedup.jaccard(Dedup.shingles(col("s1")), Dedup.shingles(col("s3"))))
      .collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("minhash estimate approximates true jaccard on fixture near-dups") {
    val docs = Tables(spark, dir, "documents")
    val exact = Dedup.blockedJaccardPairs(
        docs.withColumn("blk", lit(1)), "text", "doc_id", "blk", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val cand = Dedup.minhashPairs(docs, "text", "doc_id", minEstimate = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // High-similarity pairs (j >= 0.8) are essentially guaranteed by 16x4
    // banding: allow at most one miss.
    assert((exact -- cand).size <= 1,
      s"minhash missed ${(exact -- cand).size} of ${exact.size} exact pairs")
  }

  test("nearDupPairs verified jaccard matches exact computation") {
    val docs = Tables(spark, dir, "documents")
    val exact = Dedup.blockedJaccardPairs(
        docs.withColumn("blk", lit(1)), "text", "doc_id", "blk", threshold = 0.7)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val got = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (a, b, j) =>
      assert(exact.get((a, b)).contains(j), s"pair ($a,$b) jaccard $j not exact")
    }
    // LSH prefilter recall on true pairs
    assert(got.length >= (exact.size * 0.9).toInt)
  }

  test("clusters: connected components match union-find; dedupNear keeps reps") {
    // chain 1-2-3, pair 5-6, singleton 9
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))

    val docs = Tables(spark, dir, "documents")
    val kept = Dedup.dedupNear(docs, "text", "doc_id", threshold = 0.8)
    val pairsReal = Dedup.nearDupPairs(docs, "text", "doc_id", 0.8)
      .as[(Long, Long, Double)].collect()
    // union-find ground truth on the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairsReal.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val allIds = docs.select("doc_id").as[Long].collect()
    val expectKept = allIds.filter(i => find(i) == i).toSet
    assert(kept.select("doc_id").as[Long].collect().toSet == expectKept)
    assert(expectKept.size < allIds.length, "fixture near-dups should be removed")
  }

  test("prefix-filtered jaccard join == quadratic blocked join") {
    val docs = Tables(spark, dir, "documents")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val quad = toSet(Dedup.blockedJaccardPairs(docs, "text", "doc_id", "lang", 0.5))
    val pref = toSet(Dedup.prefixJaccardPairs(docs, "text", "doc_id", "lang", 0.5))
    assert(quad.nonEmpty && pref == quad)
  }

  test("positional+length filters shrink candidates on boilerplate, losslessly") {
    // Boilerplate-heavy corpus: every document shares a long legal footer,
    // so its shingles land in many prefixes — the hot-shingle shape that
    // goes quadratic without the PPJoin positional/length pruning. Bodies
    // differ in length and content; only the two planted near-dups and the
    // short-vs-long footer-only docs should pair.
    val footer = (1 to 12).map(i => s"boilerplate$i").mkString(" ")
    val docs = ((1 to 40).map { i =>
      val body = (1 to (i % 7) * 4 + 2).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"$body $footer")
    } ++ Seq((100L, s"alpha beta gamma $footer"),
             (101L, s"alpha beta gamma delta $footer"))).toDF("id", "text")
      .withColumn("blk", lit("en"))
    val sh = docs.select(col("blk"), col("id"),
      graft.functions.TextExpressions.sortedShingleHashes(col("text"), 3).as("sh"))
    val unfiltered = Dedup.prefixCandidates(sh, 0.5, filtered = false).count()
    val filtered = Dedup.prefixCandidates(sh, 0.5, filtered = true).count()
    assert(filtered < unfiltered,
      s"PPJoin filters should prune boilerplate candidates: $filtered vs $unfiltered")
    // losslessness on the same fixture: filtered candidates still yield
    // exactly the quadratic join's qualifying pairs
    val quad = Dedup.blockedJaccardPairs(docs, "text", "id", "blk", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pref = Dedup.prefixJaccardPairs(docs, "text", "id", "blk", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(quad.nonEmpty && pref == quad)
  }

  test("incremental dedup == quadratic delta-vs-corpus reference") {
    val docs = Tables(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val got = Dedup.dedupIncremental(corpus, delta, "text", "doc_id", "lang", 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) "kept" else r.getString(2)))).toMap
    // Quadratic reference: cross-join on block + exact text anywhere.
    val sh = (df: org.apache.spark.sql.DataFrame, t: String) => df.select(
      col("lang").as(s"lang_$t"), col("text").as(s"text_$t"),
      col("doc_id").as(s"id_$t"), Dedup.shingles(col("text")).as(s"sh_$t"))
    val exact = sh(delta, "d").join(sh(corpus, "c"),
        col("text_d") === col("text_c")).select("id_d")
      .as[Long].collect().toSet
    val near = sh(delta, "d").join(sh(corpus, "c"), col("lang_d") === col("lang_c"))
      .filter(Dedup.jaccard(col("sh_d"), col("sh_c")) >= 0.5)
      .select("id_d").as[Long].collect().toSet
    val all = delta.select("doc_id").as[Long].collect()
    assert(got.size == all.length)
    all.foreach { id =>
      val expect =
        if (exact(id)) (false, "exact")
        else if (near(id)) (false, "near")
        else (true, "kept")
      assert(got(id) == (expect._1, expect._2), s"doc $id")
    }
    assert(exact.nonEmpty || near.nonEmpty, "fixture should drop something")
  }

  test("hashed-shingle kernels == string-shingle twins") {
    val docs = Tables(spark, dir, "documents").limit(100)
    // SortedShingleHashes == sort(xxhash64 over distinct string shingles)
    val hDiff = docs.select(
      graft.functions.TextExpressions.sortedShingleHashes(col("text"), 3).as("fast"),
      array_sort(transform(Dedup.shingles(col("text"), 3), s => xxhash64(s))).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(hDiff == 0L)
    // merge-intersection Jaccard on hashes == hash-set Jaccard on strings
    val sh = docs.select(col("doc_id"),
      Dedup.shingles(col("text")).as("s"),
      graft.functions.TextExpressions.sortedShingleHashes(col("text"), 3).as("h"))
    val pairs = sh.select(col("s").as("sa"), col("h").as("ha"))
      .crossJoin(sh.select(col("s").as("sb"), col("h").as("hb"))).limit(500)
    val jDiff = pairs.select(
      graft.functions.TextExpressions.jaccardSortedLongs(col("ha"), col("hb")).as("fast"),
      graft.functions.TextExpressions.jaccardSim(col("sa"), col("sb")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(jDiff == 0L)
  }

  test("simhash: identical texts identical fingerprints; hamming sane") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog", "the quick brown fox jumps over the lazy dog"),
      ("the quick brown fox jumps over the lazy dog", "a completely different sentence with other words entirely"))
      .toDF("a", "b")
    val r = df.select(Dedup.hamming64(Dedup.simhash(col("a")), Dedup.simhash(col("b"))))
      .collect().map(_.getInt(0).toLong)
    assert(r(0) == 0L)
    assert(r(1) > 10L, s"different texts should differ in many bits, got ${r(1)}")
  }

  test("tight-loop minhash/simhash/jaccard == interpreted HOF twins") {
    val docs = Tables(spark, dir, "documents").limit(100)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"),
      col("text"))
    val shDiff = docs.select(
      Dedup.shingles(col("text")).as("fast"),
      Dedup.shinglesHof(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(shDiff == 0L)
    val sortDiff = docs.select(
      Dedup.shinglesSorted(col("text")).as("fast"),
      array_sort(Dedup.shinglesHof(col("text"))).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(sortDiff == 0L)
    val sigDiff = sh.select(
      Dedup.minhashSignature(col("sh")).as("fast"),
      Dedup.minhashSignatureHof(col("sh")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(sigDiff == 0L)
    val fpDiff = docs.select(
      Dedup.simhash(col("text")).as("fast"), Dedup.simhashHof(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(fpDiff == 0L)
    val pairs = sh.select(col("sh").as("a")).crossJoin(sh.select(col("sh").as("b"))).limit(500)
    val jDiff = pairs.select(
      graft.functions.TextExpressions.jaccardSim(col("a"), col("b")).as("fast"),
      Dedup.jaccard(col("a"), col("b")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(jDiff == 0L)
  }

  test("custom expressions callable from SQL via GraftExtensions") {
    GraftExtensions.register(spark)
    Tables(spark, dir, "embeddings").createOrReplaceTempView("v_emb")
    val r = spark.sql(
      """SELECT cosine_sim(embedding, embedding) AS self_sim,
        |simhash64(array('a','b')) AS fp FROM v_emb LIMIT 1""".stripMargin)
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val j = spark.sql(
      """SELECT jaccard_hashed(shingle_hashes('a b c d'), shingle_hashes('a b c e')) AS jh,
        |jaccard_sim(shingles('a b c d'), shingles('a b c e')) AS js""".stripMargin)
      .collect().head
    assert(j.getDouble(0) == j.getDouble(1), "hashed and string SQL kernels must agree")
  }

  test("optimizer rule rewrites string-shingle jaccard to the hashed kernel") {
    GraftExtensions.register(spark)
    val docs = Tables(spark, dir, "documents").limit(50)
    val pairs = docs.select(col("text").as("a"))
      .crossJoin(docs.select(col("text").as("b"))).limit(200)
    val q = pairs.select(
      graft.functions.TextExpressions.jaccardSim(
        Dedup.shingles(col("a")), Dedup.shingles(col("b"))).as("j"))
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("jaccardsortedlongs") ||
      optimized.contains("JaccardSortedLongs"),
      s"rule must swap in the hashed kernel:\n$optimized")
    // and the rewrite must not change results vs the un-rewritten twin
    val want = pairs.select(
        graft.functions.TextExpressions.jaccardSim(
          Dedup.shinglesHof(col("a")), Dedup.shinglesHof(col("b"))).as("j"))
      .as[Double].collect().toSeq
    val got = q.as[Double].collect().toSeq
    assert(got == want)
  }

  test("kmeans: all clusters populated; assignments stabilize with iterations") {
    val e = Tables(spark, dir, "embeddings")
    def labels(iters: Int): Map[Long, Long] =
      graft.ext.Similarity.kmeans(e, "embedding", "vec_id", k = 4, iters = iters)
        .as[(Long, Long)].collect().toMap
    val l1 = labels(1); val l3 = labels(3); val l4 = labels(4)
    assert(l1.values.toSet.size > 1, "clustering must be non-trivial")
    val churn13 = l1.count { case (id, c) => l3(id) != c }
    val churn34 = l3.count { case (id, c) => l4(id) != c }
    assert(churn34 <= churn13,
      s"assignments should stabilize: churn(1→3)=$churn13 churn(3→4)=$churn34")
  }

  test("codegen cosine == interpreted HOF cosine, bit-exact on fixtures") {
    val e = Tables(spark, dir, "embeddings")
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib") && col("ib") < 40)
    val diff = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("fast"),
      Similarity.cosineHof(col("va"), col("vb")).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff == 0L)
  }

  test("fused HyperplaneBuckets == compositional bucketId formulation") {
    val e = Tables(spark, dir, "embeddings").limit(200)
    val planes = Similarity.hyperplanes(dim = 64, bits = 4, tables = 16, seed = 42L)
    val fused = graft.functions.VectorExpressions.hyperplaneBuckets(
      col("embedding"), planes.map(_.map(_.toSeq)))
    val composed = array(planes.map(tp =>
      Similarity.bucketId(col("embedding"), tp)): _*)
    val diff = e.select(fused.as("f"), composed.as("c"))
      .filter(col("f") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("cosine: orthogonal 0, identical 1") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f), Seq(2f, 0f))).toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c"))).collect().head
    assert(math.abs(r.getDouble(0)) < 1e-12 && math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK is exact and ordered; lshTopK recalls a decent share") {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(e, q, k = 5)
      .as[(Long, Int, Long, Double)].collect()
    // bounded-aggregator formulation must equal the window formulation
    val bfWin = Similarity.bruteForceTopKWindow(e, q, k = 5)
      .as[(Long, Int, Long, Double)].collect()
    assert(bf.toSet == bfWin.toSet)
    assert(bf.length == 50)
    bf.groupBy(_._1).foreach { case (_, rows) =>
      val sims = rows.sortBy(_._2).map(_._4)
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, "ranks ordered by sim")
    }
    val lsh = Similarity.lshTopK(e, q, k = 5, dim = 64, bits = 4, tables = 16)
      .as[(Long, Int, Long, Double)].collect()
    val bfSet = bf.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val lshSet = lsh.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recall = bfSet.keys.toSeq.map(k =>
      lshSet.getOrElse(k, Set.empty).intersect(bfSet(k)).size.toDouble / 5).sum / bfSet.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")

    // IVF: deterministic quantizer, probes only 3 of the cells, so output
    // is well-formed (k rows per query, sims descending) and recalls most
    // of the exact top-k on this corpus.
    val ivf = Similarity.ivfTopK(e, q, e.filter(col("vec_id") % 50 === 0),
      k = 5, nprobe = 3).as[(Long, Int, Long, Double)].collect()
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      val sims = rows.sortBy(_._2).map(_._4)
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
    val ivfSet = ivf.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val ivfRecall = bfSet.keys.toSeq.map(k =>
      ivfSet.getOrElse(k, Set.empty).intersect(bfSet(k)).size.toDouble / 5).sum / bfSet.size
    assert(ivfRecall >= 0.4, s"IVF recall too low: $ivfRecall")
  }

  test("sketch aggregates land within tolerance of exact answers") {
    val li = Tables(spark, dir, "lineitem")
    val r = li.agg(
      approx_count_distinct(col("l_partkey"), rsd = 0.01).as("a"),
      countDistinct(col("l_partkey")).as("e"),
      percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("pa"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)").as("pe"))
      .collect().head
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"HLL off: $a vs $e")
    assert(math.abs(r.getDouble(2) - r.getDouble(3)) <= 1.0,
      s"approx median off: ${r.getDouble(2)} vs ${r.getDouble(3)}")
  }

  test("repetition signals: degenerate text scores high, varied text low") {
    val df = Seq((1L, "spam spam spam spam"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(df, "text", "doc_id", n = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
    // "spam spam" is all 3 bigram occurrences: top=1.0, dup=2/3, rep=1.0
    assert(r(1L) == ((1.0, 1.0, 1.0 - 1.0 / 3.0)))
    // all bigrams distinct, no consecutive repeats
    assert(r(2L) == ((0.0, 1.0 / 3.0, 0.0)))
  }

  test("hash sampling is reproducible across partitionings and near the rate") {
    val docs = Tables(spark, dir, "documents")
    val a = graft.exec.Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val b = graft.exec.Sampling.hashSample(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "content-hash sampling must not depend on partitioning")
    val n = docs.count().toDouble
    assert(a.size > n * 0.15 && a.size < n * 0.45, s"rate off: ${a.size / n}")
  }

  test("exact stratified sample == naive per-stratum window for every " +
       "boundary shape, and is partitioning-invariant") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, md5, row_number}
    val docs = Tables(spark, dir, "documents")
    def naive(n: Int): Set[(Long, String)] = {
      val w = Window.partitionBy(col("lang"))
        .orderBy(graft.exec.Sampling.hashBucket(col("doc_id")),
          md5(col("doc_id").cast("string")), col("doc_id"))
      docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
        .select("doc_id", "lang").as[(Long, String)].collect().toSet
    }
    def twoPhase(df: org.apache.spark.sql.DataFrame, n: Int): Set[(Long, String)] =
      graft.exec.Sampling.exactStratifiedSample(df, "doc_id", "lang", n)
        .select("doc_id", "lang").as[(Long, String)].collect().toSet
    // n=1 (boundary is the very first bucket), a mid value, and one
    // larger than every stratum (keep-whole path: no boundary row)
    for (n <- Seq(1, 7, 37, 100000)) {
      val got = twoPhase(docs, n)
      assert(got == naive(n), s"two-phase != naive spec at n=$n")
      assert(got == twoPhase(docs.repartition(7), n),
        s"selection depends on partitioning at n=$n")
    }
    // exact size: min(n, stratum size) rows per stratum
    val sizes = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val got37 = twoPhase(docs, 37).groupBy(_._2).view.mapValues(_.size).toMap
    sizes.foreach { case (lang, total) =>
      assert(got37(lang) == math.min(37L, total).toInt,
        s"$lang: expected min(37, $total), got ${got37(lang)}")
    }
  }

  test("text analysis basics") {
    val df = Seq("The cat and the dog!", "").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")),
      TextAnalysis.stopwordRatio(col("t")),
      TextAnalysis.langId(col("t")),
      TextAnalysis.fingerprint(col("t"))).collect()
    assert(r(0).getInt(0) == 5)
    assert(math.abs(r(0).getDouble(1) - 0.6) < 1e-12) // the, and, the / 5
    assert(r(0).getString(2) == "en")
    // fingerprint deterministic + distinct from empty
    assert(r(0).getLong(3) != r(1).getLong(3))
  }

  test("langId picks marker-majority language with alphabetical tiebreak") {
    val df = Seq(
      "der hund und die katze ist hier",
      "le chat est dans la maison pour une",
      "xyzzy plugh").toDF("t")
    val r = df.select(TextAnalysis.langId(col("t"))).collect().map(_.getString(0))
    assert(r.toSeq == Seq("de", "fr", "und"))
  }

  test("packing auto-scales shards so per-shard window state stays bounded") {
    import graft.ext.Packing
    // 2000 docs x 100 tokens = 200k tokens; budget=100 =>
    // shards = 200000 div (100 * 64) + 1 = 32
    val text = ("tok " * 100).trim
    val docs = spark.range(2000).select(col("id").as("doc_id"), lit(text).as("text"))
    val packed = Packing.packSequences(docs, "text", "doc_id", budget = 100)
    val shards = packed.select(countDistinct(col("shard"))).collect().head.getLong(0)
    assert(shards == 200000L / (100 * Packing.TargetSeqsPerShard) + 1)
    // per-shard input stays ~budget * TargetSeqsPerShard: with contiguous
    // ids the mod sharding is balanced, so no shard exceeds 2x the target
    val maxShardTokens = packed.groupBy("shard")
      .agg(sum(col("n_tokens")).as("t"))
      .agg(max(col("t"))).collect().head.getLong(0)
    assert(maxShardTokens <= 2 * 100 * Packing.TargetSeqsPerShard,
      s"shard holds $maxShardTokens tokens")
    // 10x the corpus -> ~10x the shards; per-shard stays the same scale
    val docs10 = spark.range(20000).select(col("id").as("doc_id"), lit(text).as("text"))
    val shards10 = Packing.packSequences(docs10, "text", "doc_id", budget = 100)
      .select(countDistinct(col("shard"))).collect().head.getLong(0)
    assert(shards10 == 2000000L / (100 * Packing.TargetSeqsPerShard) + 1)
    // an explicit shard count still pins the layout
    val pinned = Packing.packSequences(docs, "text", "doc_id",
      budget = 100, shards = 4)
    assert(pinned.select(countDistinct(col("shard"))).collect().head.getLong(0) == 4)
  }

  test("minhashFromHashes(stored hashes) == minhashSignature(shingle strings)") {
    import graft.functions.TextExpressions
    val df = Seq("the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs", "a b", "")
      .toDF("text")
    val r = df.select(
      TextExpressions.minhashSignature(Dedup.shingles(col("text"))).as("a"),
      TextExpressions.minhashFromHashes(
        TextExpressions.sortedShingleHashes(col("text"), 3)).as("b"))
      .collect()
    r.foreach(x => assert(x.getSeq[Long](0) == x.getSeq[Long](1)))
  }

  test("index LSH candidates: catches planted dups, never drops more than prefix") {
    import graft.ext.DedupIndex
    val corpus = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "en", "one two three four five six seven eight nine ten"),
      (3L, "fr", "un deux trois quatre cinq six sept huit neuf dix"))
      .toDF("doc_id", "lang", "text")
    val delta = Seq(
      (10L, "en", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "en", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (12L, "en", "totally unrelated words nothing shared here at all today"))
      .toDF("doc_id", "lang", "text")
    DedupIndex.write(corpus, "text", "doc_id", "lang", "t_lsh_idx",
      threshold = 0.5, buckets = 4)
    def verdicts(mode: String) = DedupIndex.dedupIncremental(spark,
        "t_lsh_idx", delta, "text", "doc_id", "lang", threshold = 0.5,
        candidates = mode)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2))))
      .toMap
    val pref = verdicts("prefix"); val lsh = verdicts("lsh")
    assert(pref == Map(10L -> (false, Some("exact")),
      11L -> (false, Some("near")), 12L -> (true, None)))
    // 9/11 shared trigram-jaccard ≈ 0.82 -> band collision ≈ certain
    assert(lsh == pref)
    // structural guarantee regardless of seed: LSH candidates verify with
    // the same exact jaccard, so it can only MISS drops, never add them
    lsh.foreach { case (id, (keep, _)) => if (!keep) assert(!pref(id)._1) }
  }

  test("positionalWindowHashes == HOF window-hash twin, incl. edge shapes") {
    import graft.functions.TextExpressions
    val df = (Seq("", "a", "a b", "one two three four five six",
        "one two three four five six seven eight nine",
        "  Mixed   CASE \t tokens  here  ") ++
        Tables(spark, dir, "documents").select("text")
          .limit(50).collect().map(_.getString(0)))
      .toDF("text")
    val r = df.select(
      TextExpressions.positionalWindowHashes(col("text"), 6).as("fast"),
      graft.ext.Dedup.spanWindowHashesHof(col("text"), 6).as("hof"))
      .collect()
    r.foreach(x => assert(x.getSeq[Long](0) == x.getSeq[Long](1)))
  }

  test("duplicateSpans: exposure stats on a hand-built corpus") {
    // doc 1 and doc 2 share the 4-token run "p q r s" embedded at
    // different offsets; doc 3 shares nothing. w=3 -> windows "p q r"
    // and "q r s" collide, merging into one island of 4 tokens per doc.
    val df = Seq(
      (1L, "a b p q r s c d"),
      (2L, "x p q r s y z w"),
      (3L, "m n o t u v h k")).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(df, "text", "doc_id", w = 3)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    assert(r.toSeq == Seq((1L, 8, 4L), (2L, 8, 4L), (3L, 8, 0L)))
  }

  test("duplicateSpans: within-doc repetition counts, short exact dups collide") {
    val df = Seq(
      (1L, "a b c a b c"),     // "a b c" twice within one doc
      (2L, "hi"), (3L, "hi"),  // shorter than w: whole-doc window still collides
      (4L, "solo words only here")).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(df, "text", "doc_id", w = 3)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSeq
    // doc 1: windows at pos 1 ("a b c") and 4 ("a b c" truncated? no — pos 4
    // gives "a b c" exactly); both occurrences dup -> islands [1..3],[4..6]
    assert(r == Seq((1L, 6L), (2L, 1L), (3L, 1L), (4L, 0L)))
  }

  test("sharedRunPairs: exact longest-run threshold, winnowing misses nothing") {
    // docs 1,2 share exactly 8 tokens (p1..p8); doc 3 shares only 7 with
    // each -> below minRun=8, must be excluded even though it produces
    // window collisions (w=6 candidates that verification rejects).
    val df = Seq(
      (1L, "a1 a2 p1 p2 p3 p4 p5 p6 p7 p8 z1 z2"),
      (2L, "b1 p1 p2 p3 p4 p5 p6 p7 p8 c1 c2 c3"),
      (3L, "q1 p1 p2 p3 p4 p5 p6 p7 q2 q3")).toDF("doc_id", "text")
    val r = Dedup.sharedRunPairs(df, "text", "doc_id", minRun = 8, w = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSeq
    assert(r == Seq((1L, 2L, 8)))
  }

  test("sharedRunPairs winnowed == brute force (k=1) on fixture documents") {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // minRun = w makes k = 1: winnowing selects every window, so the
    // candidate set is the full collision set — the brute-force reference.
    val brute = Dedup.sharedRunPairs(docs, "text", "doc_id", minRun = 6, w = 6)
      .filter(col("max_run") >= 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val winnowedR = Dedup.sharedRunPairs(docs, "text", "doc_id", minRun = 8, w = 6)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture should contain shared runs")
    assert(winnowedR == brute)
  }

  test("trimMatchingSpans cuts benchmark runs, leaves clean docs whole") {
    val docs = Seq(
      (1L, "intro words the quick brown fox jumps over it ending here"),
      (2L, "totally clean document with no benchmark overlap at all")).toDF("doc_id", "text")
    val ref = Seq("prefix the quick brown fox jumps over it suffix").toDF("text")
    val r = Dedup.trimMatchingSpans(docs, "text", "doc_id", ref, "text", w = 6)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    // doc 1: the 8-token run shared with ref ("the quick ... over it") is
    // cut; doc 2 untouched.
    assert(r == Seq(
      (1L, 4L, "intro words ending here"),
      (2L, 9L, "totally clean document with no benchmark overlap at all")))
  }

  test("SpanIndex lifecycle: write, trim a delta, append, trim again") {
    import graft.ext.SpanIndex
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    SpanIndex.write(corpus, "text", "doc_id", "t_span_idx", w = 6, buckets = 2)
    assert(SpanIndex.windowWidth(spark, "t_span_idx") == 6)

    val delta1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),        // corpus copy
      (11L, "fresh tokens one two three four five six"),   // new content
      (12L, "fresh tokens one two three four five six"))   // within-delta dup
      .toDF("doc_id", "text")
    val t1 = SpanIndex.trimIncremental(spark, "t_span_idx", delta1, "text", "doc_id")
    val r1 = t1.orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    assert(r1 == Seq(
      (10L, 0L, ""),
      (11L, 8L, "fresh tokens one two three four five six"),
      (12L, 0L, "")))

    // publish the survivors; a later batch repeating doc 11's content
    // must now be trimmed by the index, not kept as "new"
    SpanIndex.append(spark, "t_span_idx", t1, "trimmed_text", "doc_id", bid = 3L)
    val delta2 = Seq(
      (20L, "fresh tokens one two three four five six")).toDF("doc_id", "text")
    val r2 = SpanIndex.trimIncremental(spark, "t_span_idx", delta2, "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    assert(r2 == Seq((20L, 0L, "")))
    // observability: both provenance classes populated, no tombstones yet
    val st = SpanIndex.stats(spark, "t_span_idx")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("live_hashes") > 0 && st("tombstone_rows") == 0)
    assert(st("bulk_rows") > 0 && st("appended_rows") > 0)
    assert(st("w") == 6 && st("buckets") == 2)
    // takedown: delete the original corpus doc; its spans must die (the
    // appended doc-11 content has its own live refcount and survives)
    SpanIndex.delete(spark, "t_span_idx",
      corpus, "text", "doc_id", bid = 9L)
    val afterDel = SpanIndex.trimIncremental(spark, "t_span_idx",
        Seq((31L, "alpha beta gamma delta epsilon zeta"),
            (32L, "fresh tokens one two three four five six"))
          .toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    assert(afterDel == Seq(
      (31L, 6L, "alpha beta gamma delta epsilon zeta"), // owner deleted -> new again
      (32L, 0L, "")))                                   // doc 11 still owns this
    // compaction folds the file sets to one per bucket, retires the
    // cancelled hashes physically, and probes behave identically
    SpanIndex.compact(spark, "t_span_idx")
    val st2 = SpanIndex.stats(spark, "t_span_idx")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st2("rows") == st2("live_hashes") && st2("tombstone_rows") == 0)
    assert(st2("w") == 6)
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("t_span_idx_spanh"))
      .location.getPath)
    val files = loc.listFiles().count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files <= 2, s"expected <= one file per bucket, got $files")
    assert(!SpanIndex.needsCompact(spark, "t_span_idx"))
    val r3 = SpanIndex.trimIncremental(spark, "t_span_idx", delta2, "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    assert(r3 == Seq((20L, 0L, "")))
  }

  test("trimSpans keeps the canonical occurrence and reassembles the rest") {
    val df = Seq(
      (1L, "a b p q r s c d"),
      (2L, "x p q r s y z w"),
      (3L, "a b p q r s c d")).toDF("doc_id", "text")
    val r = Dedup.trimSpans(df, "text", "doc_id", w = 3)
      .orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    // doc 1 is canonical everywhere -> untouched; doc 2 loses only the
    // shared run; doc 3 is a full copy of doc 1 -> trimmed to empty.
    assert(r == Seq(
      (1L, 8L, "a b p q r s c d"),
      (2L, 4L, "x y z w"),
      (3L, 0L, "")))
  }

  test("cluster companion ABOVE-CAP mode: slice contracts + " +
      "production∩slice cross-check find no breach on the fixture") {
    // cap = 100 << the 500-doc fixture forces the above-cap branch:
    // re-instantiated slice pipeline, per-cluster contract classes, AND
    // the comparable production∩slice edge cross-check (band untrimmed
    // in both runs) — the r10 gap this mode closes.
    val r = graft.queries.ExtQueries
      .dedupClustersVerifiedWithCap(spark, dir, cap = 100L)
    assert(r.count() == 0L, "above-cap companion must find no breach: " +
      r.collect().take(5).mkString(", "))
  }

  test("minhashBandBuckets are per-doc: identical on a doc regardless of corpus") {
    val docs = Tables(spark, dir, "documents")
    val whole = Dedup.minhashBandBuckets(docs, "text", "doc_id")
      .filter(col("id") < 50)
    val subset = Dedup.minhashBandBuckets(
      docs.filter(col("doc_id") < 50), "text", "doc_id")
    assert(whole.exceptAll(subset).isEmpty && subset.exceptAll(whole).isEmpty)
  }

  // ------------------------------------------------------- ClusterIndex

  private def ccState(base: String): Map[Long, Long] =
    graft.ext.ClusterIndex.current(spark, base)
      .as[(Long, Long)].collect().toMap

  private def ccScratch(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cc").toString
    s"$d/cc"
  }

  test("takedown-SLO watermarks transition exactly at withdraw and compact: " +
       "retractedLive/pendingBatches (cluster), pendingTombstoneRows (span)") {
    import graft.ext.{ClusterIndex, SpanIndex}
    val base = ccScratch()
    ClusterIndex.fold(spark, base, Seq((10L, 20L)).toDF("id_a", "id_b"),
      Seq(10L, 20L, 30L).toDF("id"), ClusterIndex.streamFoldId(0L))
    assert(ClusterIndex.pendingBatches(spark, base) == 1L)
    assert(ClusterIndex.retractedLive(spark, base) == 0L)
    ClusterIndex.withdraw(spark, base, Seq(20L, 30L).toDF("id"),
      ClusterIndex.nextBatchId(spark, base))
    assert(ClusterIndex.pendingBatches(spark, base) == 2L)
    assert(ClusterIndex.retractedLive(spark, base) == 2L,
      "both withdrawn tracked ids must hold live retraction sentinels")
    ClusterIndex.compact(spark, base)
    assert(ClusterIndex.pendingBatches(spark, base) == 1L,
      "compaction must consolidate to one delta batch")
    assert(ClusterIndex.retractedLive(spark, base) == 0L,
      "compaction must fold the retraction sentinels away physically")
    // span: negative-count rows appear at delete, vanish at compact
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    SpanIndex.write(docs, "text", "doc_id", "t_slo_span", w = 6, buckets = 2)
    assert(SpanIndex.pendingTombstoneRows(spark, "t_slo_span") == 0L)
    SpanIndex.delete(spark, "t_slo_span", docs.filter(col("doc_id") === 1L),
      "text", "doc_id", bid = 1L)
    assert(SpanIndex.pendingTombstoneRows(spark, "t_slo_span") == 2L,
      "doc 1 holds two distinct 6-token windows, each one tombstone row")
    SpanIndex.compact(spark, "t_slo_span")
    assert(SpanIndex.pendingTombstoneRows(spark, "t_slo_span") == 0L)
  }

  test("tombBatchLag counts batches landed since the oldest outstanding " +
       "tombstone and resets at compaction (cluster/chunk/pref)") {
    import graft.ext.{ChunkIndex, ClusterIndex, PreferenceIndex}
    // cluster: withdraw at batch 1, two later folds touching OTHER ids
    // → the sentinel is 2 batches old; compaction resets
    val cc = ccScratch()
    ClusterIndex.fold(spark, cc, Seq((10L, 20L)).toDF("id_a", "id_b"),
      Seq(10L, 20L).toDF("id"), 0L)
    assert(ClusterIndex.tombBatchLag(spark, cc) == 0L)
    ClusterIndex.withdraw(spark, cc, Seq(20L).toDF("id"), 1L)
    assert(ClusterIndex.tombBatchLag(spark, cc) == 0L,
      "the withdrawal itself is the newest batch: nothing has lagged yet")
    ClusterIndex.fold(spark, cc, Seq((30L, 40L)).toDF("id_a", "id_b"),
      Seq(30L, 40L).toDF("id"), 2L)
    ClusterIndex.fold(spark, cc, Seq((50L, 60L)).toDF("id_a", "id_b"),
      Seq(50L, 60L).toDF("id"), 3L)
    assert(ClusterIndex.tombBatchLag(spark, cc) == 2L,
      "two folds landed after the still-live retraction sentinel")
    // wall-clock twin: defined and sane while outstanding, gone after
    assert(ClusterIndex.oldestTombstoneAgeMs(spark, cc)
      .exists(a => a >= 0L && a < 3600L * 1000),
      "outstanding sentinel must report a plausible age")
    ClusterIndex.compact(spark, cc)
    assert(ClusterIndex.tombBatchLag(spark, cc) == 0L)
    assert(ClusterIndex.oldestTombstoneAgeMs(spark, cc).isEmpty)
    // chunk: delete at batch 1, appends at 2 and 3 → lag 2; compact → 0
    val ch = java.nio.file.Files.createTempDirectory("graft_lag").toString +
      "/chunks"
    def cdocs(ids: Long*) = ids.map(i =>
      (i, s"alpha beta gamma delta $i words enough for one chunk each"))
      .toDF("doc_id", "text")
    val cutMod = graft.queries.TrainPrepQueries.CdcCutMod
    ChunkIndex.append(spark, ch, cdocs(1L, 2L, 3L), "text", "doc_id",
      seed = 42L, cutMod = cutMod, batchId = 0L)
    assert(ChunkIndex.tombBatchLag(spark, ch) == 0L)
    ChunkIndex.delete(spark, ch, Seq(2L).toDF("doc_id"), "doc_id",
      cutMod = cutMod, batchId = 1L)
    assert(ChunkIndex.tombBatchLag(spark, ch) == 0L)
    ChunkIndex.append(spark, ch, cdocs(4L), "text", "doc_id",
      seed = 42L, cutMod = cutMod, batchId = 2L)
    ChunkIndex.append(spark, ch, cdocs(5L), "text", "doc_id",
      seed = 42L, cutMod = cutMod, batchId = 3L)
    assert(ChunkIndex.tombBatchLag(spark, ch) == 2L,
      "two manifest deltas landed after the oldest outstanding tombstone")
    assert(ChunkIndex.oldestTombstoneAgeMs(spark, ch)
      .exists(a => a >= 0L && a < 3600L * 1000))
    ChunkIndex.compact(spark, ch, cutMod = cutMod)
    assert(ChunkIndex.tombBatchLag(spark, ch) == 0L)
    assert(ChunkIndex.oldestTombstoneAgeMs(spark, ch).isEmpty)
    // pref: withdraw at batch 1, judgments at 2 and 3 → lag 2;
    // compactBatched retires the tombstones → 0
    val pb = java.nio.file.Files.createTempDirectory("graft_lag").toString +
      "/pref"
    def judge(bid: Long, a: String, b: String) =
      PreferenceIndex.appendJudgments(spark, pb,
        Seq((a, b, "a")).toDF("ia", "ib", "oc"), "ia", "ib", "oc", bid)
    judge(0L, "x", "y")
    assert(PreferenceIndex.tombBatchLag(spark, pb) == 0L)
    PreferenceIndex.withdraw(spark, pb, Seq("y").toDF("item"), "item", 1L)
    assert(PreferenceIndex.tombBatchLag(spark, pb) == 0L)
    judge(2L, "p", "q"); judge(3L, "r", "s")
    assert(PreferenceIndex.tombBatchLag(spark, pb) == 2L,
      "two judgment batches landed after the oldest outstanding tombstone")
    assert(PreferenceIndex.oldestTombstoneAgeMs(spark, pb)
      .exists(a => a >= 0L && a < 3600L * 1000))
    PreferenceIndex.compactBatched(spark, pb)
    assert(PreferenceIndex.tombBatchLag(spark, pb) == 0L)
    assert(PreferenceIndex.oldestTombstoneAgeMs(spark, pb).isEmpty)
  }

  test("ClusterIndex.fold: incremental folds == batch CC over the edge " +
       "union, incl. cross-batch merges and a new min-id node") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    def ids(xs: Long*) = xs.toDF("id")
    // batch 0: two 2-clusters and an untouched singleton 99
    ClusterIndex.fold(spark, base, edges((10L, 20L), (40L, 50L)),
      ids(10L, 20L, 40L, 50L, 99L), 0L)
    assert(ccState(base) ==
      Map(10L -> 10L, 20L -> 10L, 40L -> 40L, 50L -> 40L, 99L -> 99L))
    // batch 1: bridge the two clusters transitively through a new node
    // (60 touches both 20 and 50) — every member of BOTH old clusters
    // must be re-asserted with the merged min id
    ClusterIndex.fold(spark, base, edges((20L, 60L), (60L, 50L)),
      ids(60L), 1L)
    assert(ccState(base) == Map(10L -> 10L, 20L -> 10L, 40L -> 10L,
      50L -> 10L, 60L -> 10L, 99L -> 99L))
    // batch 2: a NEW node with a smaller id than the merged rep — the
    // whole component relabels to it
    ClusterIndex.fold(spark, base, edges((5L, 40L)), ids(5L), 2L)
    val s2 = ccState(base)
    assert(s2 == Map(5L -> 5L, 10L -> 5L, 20L -> 5L, 40L -> 5L,
      50L -> 5L, 60L -> 5L, 99L -> 99L))
    // equivalence: batch CC over the union of all edges folded so far
    val allEdges = edges((10L, 20L), (40L, 50L), (20L, 60L), (60L, 50L),
      (5L, 40L)).select(col("id_a"), col("id_b"))
    val batchCc = Dedup.clusters(
      s2.keys.toSeq.toDF("id"), allEdges)
      .as[(Long, Long)].collect().toMap
    assert(s2 == batchCc)
  }

  test("ClusterIndex: replay-idempotent fold, compaction preserves state " +
       "and drops old partitions") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    ClusterIndex.fold(spark, base, edges((1L, 2L)), Seq(1L, 2L, 3L).toDF("id"), 0L)
    ClusterIndex.fold(spark, base, edges((2L, 3L)), Seq(3L).toDF("id"), 1L)
    val before = ccState(base)
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // replay batch 1 (restart between fold write and stream commit):
    // the fold reads state EXCLUDING its own partition, so the rewrite
    // is byte-identical in effect
    ClusterIndex.fold(spark, base, edges((2L, 3L)), Seq(3L).toDF("id"), 1L)
    assert(ccState(base) == before)
    // a caller's NULL endpoints are dropped
    ClusterIndex.fold(spark, base,
      Seq((Option.empty[Long], Option(2L))).toDF("id_a", "id_b"),
      spark.emptyDataFrame.select(lit(1L).as("id")).limit(0), 2L)
    assert(ccState(base) == before)
    val c = ClusterIndex.compact(spark, base)
    assert(ccState(base) == before)
    // old partitions physically gone; only the consolidated batch remains
    val parts = new java.io.File(s"$base/members").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(parts == Set(s"batch_id=$c"))
    // folding continues above the consolidated batch id
    ClusterIndex.fold(spark, base, edges((3L, 4L)), Seq(4L).toDF("id"), c + 1)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("ClusterIndex.withdraw: splits on bridge removal, moves min-id " +
       "labels, equals batch CC over surviving nodes and edges") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    def ids(xs: Long*) = xs.toDF("id")
    // one chain 1-2-3 (2 is the bridge) and one triangle 10-11-12
    ClusterIndex.fold(spark, base,
      edges((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L)),
      ids(1L, 2L, 3L, 10L, 11L, 12L), 0L)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // withdraw the chain's BRIDGE (2) and the triangle's MIN (10):
    // the chain splits into singletons, the triangle re-labels to 11
    // (still connected through 11-12), nothing else is touched
    ClusterIndex.withdraw(spark, base, ids(2L, 10L),
      ClusterIndex.nextBatchId(spark, base))
    val after = ccState(base)
    assert(after == Map(1L -> 1L, 3L -> 3L, 11L -> 11L, 12L -> 11L))
    // equivalence: batch CC over surviving nodes and surviving edges
    val surv = Dedup.clusters(ids(1L, 3L, 11L, 12L),
      edges((11L, 12L))).as[(Long, Long)].collect().toMap
    assert(after == surv)
    // withdrawing an id the index never tracked is a no-op
    ClusterIndex.withdraw(spark, base, ids(777L),
      ClusterIndex.nextBatchId(spark, base))
    assert(ccState(base) == after)
  }

  test("ClusterIndex.withdraw: re-admission does not resurrect retracted " +
       "edges; replay-idempotent; compaction retires sentinels physically") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    def ids(xs: Long*) = xs.toDF("id")
    ClusterIndex.fold(spark, base, edges((1L, 2L), (2L, 3L)),
      ids(1L, 2L, 3L), 0L)
    val wb = ClusterIndex.nextBatchId(spark, base)
    ClusterIndex.withdraw(spark, base, ids(2L), wb)
    val split = ccState(base)
    assert(split == Map(1L -> 1L, 3L -> 3L))
    // replay the withdrawal (same batch id): state unchanged
    ClusterIndex.withdraw(spark, base, ids(2L), wb)
    assert(ccState(base) == split)
    // re-admit 2 with NO new edges: a singleton — its OLD edges to 1
    // and 3 must NOT come back (they were discovered against the
    // pre-takedown content)
    ClusterIndex.fold(spark, base, edges(), ids(2L), wb + 1)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // a FRESH edge discovered at re-ingest merges normally
    ClusterIndex.fold(spark, base, edges((2L, 3L)), ids(), wb + 2)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    // compaction preserves state and physically retires retraction
    // sentinels and dead edges: one consolidated partition per chain,
    // no RetractedCid rows, only the one live edge
    val c = ClusterIndex.compact(spark, base)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    val members = spark.read.parquet(s"$base/members")
    assert(members.filter(col("cid") === ClusterIndex.RetractedCid).count() == 0)
    assert(members.select("batch_id").distinct().as[Long].collect().toSet ==
      Set(c))
    val liveE = spark.read.parquet(s"$base/edges")
    assert(liveE.select("a", "b").as[(Long, Long)].collect().toSet ==
      Set((2L, 3L)))
  }

  test("ClusterIndex.withdraw: a crash between the edge-retraction and " +
       "membership writes recovers under a FRESH batch id") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    def ids(xs: Long*) = xs.toDF("id")
    ClusterIndex.fold(spark, base, edges((1L, 2L), (2L, 3L)),
      ids(1L, 2L, 3L), 0L)
    // Simulate a withdraw(2) that died after its FIRST write — the edge
    // retractions (the write-order contract) — and before the
    // membership delta:
    val crashBid = ClusterIndex.nextBatchId(spark, base)
    Seq((1L, 2L, false), (2L, 3L, false)).toDF("a", "b", "alive")
      .withColumn("batch_id", lit(crashBid))
      .write.mode("append").partitionBy("batch_id").parquet(s"$base/edges")
    // the documented recovery: re-issue under a FRESH batch id. The
    // withdrawn id is still in `current` (the membership delta never
    // landed), so the re-run proceeds and completes the takedown —
    // membership-first ordering would see it already gone and no-op,
    // stranding stale alive=true edges.
    ClusterIndex.withdraw(spark, base, ids(2L),
      ClusterIndex.nextBatchId(spark, base))
    assert(ccState(base) == Map(1L -> 1L, 3L -> 3L))
    assert(ClusterIndex.liveEdges(spark, base).count() == 0,
      "no live edge may remain incident to the withdrawn node")
  }

  test("ClusterIndex.fold(trackEdges = false): identical labels, no edge " +
       "state, withdraw refuses loudly") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    def ids(xs: Long*) = xs.toDF("id")
    ClusterIndex.fold(spark, base, edges((1L, 2L), (2L, 3L)),
      ids(1L, 2L, 3L), 0L, trackEdges = false)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(!new java.io.File(s"$base/edges").exists(),
      "trackEdges = false must not materialize edge state")
    val err = intercept[IllegalArgumentException](
      ClusterIndex.withdraw(spark, base, ids(2L),
        ClusterIndex.nextBatchId(spark, base)))
    assert(err.getMessage.contains("edge"),
      s"withdraw on an edge-less index must refuse loudly: ${err.getMessage}")
    // compaction must PRESERVE edge-lessness: an unconditional (empty)
    // consolidated edges write would create $base/edges and let the
    // directory-existence guard pass — withdraw would then silently
    // split every touched cluster against the phantom-empty edge set
    ClusterIndex.compact(spark, base)
    assert(ccState(base) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(!new java.io.File(s"$base/edges").exists(),
      "compact on a trackEdges = false index must not materialize edges")
    val errAfter = intercept[IllegalArgumentException](
      ClusterIndex.withdraw(spark, base, ids(2L),
        ClusterIndex.nextBatchId(spark, base)))
    assert(errAfter.getMessage.contains("edge"),
      "withdraw must still refuse loudly AFTER a compaction: " +
        errAfter.getMessage)
  }

  test("DedupIndex.compactPartial == compact for every probe: verdicts " +
       "equal, tombstoned ids physically gone from exact/sh, files carried") {
    import graft.ext.DedupIndex
    val docs = Tables(spark, dir, "documents").select("doc_id", "lang", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    def build(base: String): Unit = {
      DedupIndex.write(corpus, "text", "doc_id", "lang", base,
        threshold = 0.5, buckets = 8)
      // two appends = append pressure + replay-duplicate shape
      DedupIndex.appendKept(spark, base, delta,
        delta.select(col("doc_id"), lit(true).as("keep"),
          lit(null).cast("string").as("reason")),
        "text", "doc_id", "lang", threshold = 0.5, batchId = 7L)
      // SPARSE takedown (3 ids) — the case partial compaction exists for
      DedupIndex.delete(spark, base,
        corpus.select("doc_id").orderBy("doc_id").limit(3), "doc_id")
    }
    build("t_pcomp_a"); build("t_pcomp_b")
    DedupIndex.compact(spark, "t_pcomp_a")
    DedupIndex.compactPartial(spark, "t_pcomp_b")
    // identical verdicts for a fresh probe batch against either fold
    val probe = docs.filter(col("doc_id") % 7 === 0)
    def verdicts(base: String) =
      DedupIndex.dedupIncremental(spark, base, probe,
        "text", "doc_id", "lang", threshold = 0.5)
        .as[(Long, Boolean, Option[String])].collect().toSet
    assert(verdicts("t_pcomp_a") == verdicts("t_pcomp_b"))
    // the three tombstoned ids are physically gone from exact AND sh
    val gone = corpus.select("doc_id").orderBy("doc_id").limit(3)
      .as[Long].collect().toSet
    Seq(DedupIndex.exactTable("t_pcomp_b"), DedupIndex.shTable("t_pcomp_b"))
      .foreach { t =>
        assert(spark.table(t).filter(col("id").isin(gone.toSeq: _*))
          .count() == 0L, s"$t still holds tombstoned rows")
      }
    assert(DedupIndex.pendingTombstones(spark, "t_pcomp_b") == 0L)
    // partiality is real: the pref table's new snapshot carries files
    // (several per bucket from the appends), not a one-file-per-bucket
    // full fold like the compact() twin
    def filesOf(table: String): Int = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(loc).count(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
    }
    assert(filesOf(DedupIndex.prefTable("t_pcomp_b")) >
      filesOf(DedupIndex.prefTable("t_pcomp_a")),
      "partial compact should carry pref bucket files, not fold them")
    // a second partial compact with no tombstones is carry-only and
    // leaves probes identical
    DedupIndex.compactPartial(spark, "t_pcomp_b")
    assert(verdicts("t_pcomp_a") == verdicts("t_pcomp_b"))
  }

  test("DedupIndex.compactAuto: full below the file-count crossover, " +
       "partial above; takedown folded and verdicts equal either way") {
    import graft.ext.DedupIndex
    val docs = Tables(spark, dir, "documents").select("doc_id", "lang", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    def build(base: String): Unit = {
      DedupIndex.write(corpus, "text", "doc_id", "lang", base,
        threshold = 0.5, buckets = 8)
      DedupIndex.delete(spark, base,
        corpus.select("doc_id").orderBy("doc_id").limit(3), "doc_id")
    }
    build("t_dauto_a"); build("t_dauto_b")
    val anchorFiles =
      spark.table(DedupIndex.exactTable("t_dauto_a")).inputFiles.length
    assert(DedupIndex.compactAuto(spark, "t_dauto_a",
      minFiles = anchorFiles + 1) == "full")
    assert(DedupIndex.compactAuto(spark, "t_dauto_b",
      minFiles = 1, maxDirtyShare = 1.0) == "partial")
    Seq("t_dauto_a", "t_dauto_b").foreach { b =>
      assert(DedupIndex.pendingTombstones(spark, b) == 0L)
      val gone = corpus.select("doc_id").orderBy("doc_id").limit(3)
        .as[Long].collect().toSet
      assert(spark.table(DedupIndex.exactTable(b))
        .filter(col("id").isin(gone.toSeq: _*)).count() == 0L)
    }
    val probe = docs.filter(col("doc_id") % 7 === 0)
    def verdicts(base: String) =
      DedupIndex.dedupIncremental(spark, base, probe,
        "text", "doc_id", "lang", threshold = 0.5)
        .as[(Long, Boolean, Option[String])].collect().toSet
    assert(verdicts("t_dauto_a") == verdicts("t_dauto_b"))
  }

  test("ClusterIndex.heal rolls an interrupted compaction forward/back") {
    import graft.ext.ClusterIndex
    val base = ccScratch()
    def edges(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    ClusterIndex.fold(spark, base, edges((1L, 2L)), Seq(1L, 2L).toDF("id"), 0L)
    ClusterIndex.fold(spark, base, edges((2L, 7L)), Seq(7L).toDF("id"), 1L)
    val before = ccState(base)
    // crash AFTER the start marker, before the consolidated write: heal
    // must roll BACK (drop the phantom batch, keep the chain)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val start = new org.apache.hadoop.fs.Path(s"$base/_compact_start")
    val out = fs.create(start, true)
    out.write("2".getBytes("UTF-8")); out.close()
    ClusterIndex.heal(spark, base)
    assert(!fs.exists(start) && ccState(base) == before)
    // a completed compact()'s own trailing heal already rolled forward;
    // state identical either way
    ClusterIndex.compact(spark, base)
    assert(ccState(base) == before)
  }

  test("appendKept expectEpoch: a foreign compaction between probe and " +
       "append refuses loudly instead of appending through stale caches") {
    import graft.ext.DedupIndex
    val docs = Tables(spark, dir, "documents").select("doc_id", "lang", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val keepAll = delta.select(col("doc_id"), lit(true).as("keep"),
      lit(null).cast("string").as("reason"))
    val base = "t_epoch_idx"
    DedupIndex.write(corpus, "text", "doc_id", "lang", base,
      threshold = 0.5, buckets = 8)
    // probe-time capture, then a compaction lands in between — what a
    // SECOND Spark session maintaining the same index would do; the
    // epoch protocol doesn't care which session swapped the snapshot
    val probed = DedupIndex.snapshotEpoch(spark, base)
    DedupIndex.compact(spark, base)
    val err = intercept[IllegalArgumentException](
      DedupIndex.appendKept(spark, base, delta, keepAll,
        "text", "doc_id", "lang", threshold = 0.5, batchId = 3L,
        healRefresh = false, expectEpoch = Some(probed)))
    assert(err.getMessage.contains("advanced between probe and append"),
      s"foreign swap must be named in the refusal: ${err.getMessage}")
    // the refused append left no rows behind
    assert(spark.table(DedupIndex.exactTable(base))
      .filter(col("bid") === 3L).count() == 0L)
    // the documented recovery — re-probe, then append with the fresh
    // epoch — goes through; the checked path costs one metadata read
    val fresh = DedupIndex.snapshotEpoch(spark, base)
    DedupIndex.appendKept(spark, base, delta, keepAll,
      "text", "doc_id", "lang", threshold = 0.5, batchId = 3L,
      healRefresh = false, expectEpoch = Some(fresh))
    assert(spark.table(DedupIndex.exactTable(base))
      .filter(col("bid") === 3L).count() > 0L)
  }
}
