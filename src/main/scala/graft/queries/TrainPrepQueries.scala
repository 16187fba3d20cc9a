package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Sharding, TextAnalysis}

/** Driver-checked queries for TRAINING-SET PREPARATION — the step that
  * turns a curated corpus into what a training job consumes:
  *
  *  - epoch order: reproducible shuffle + token-budget shards
  *    (q_epoch_shuffle, q_shard_manifest), multi-epoch plans
  *    (q_epoch_plan), budget sizing and resume lookups (q_token_budget,
  *    q_dataloader_resume);
  *  - composition control: stride-scheduled domain mixtures
  *    (q_mixture_schedule), low-resource upsampling (q_upsample),
  *    length-bucketed batching (q_length_batches);
  *  - scoring & selection: the fixed hashed-feature classifier
  *    (q_quality_classifier), DSIR-shaped importance (q_importance), the
  *    streaming curation lifecycle (q_curation_incr / q_curation_stats),
  *    distributed perceptron training the oracle replays epoch by epoch
  *    (q_train_* / q_langid_*), contrastive triplet mining
  *    (q_contrastive);
  *  - tokenizer: BPE training, encoding and vocabulary (q_bpe_*);
  *  - incremental retraining: content-defined chunking, diffs, the
  *    standing chunk index and its takedown (q_cdc_*, q_chunk_*);
  *  - SFT assembly: chat-template rendering and packing with loss masks
  *    (q_sft_*); release reporting (q_data_card); and the end-to-end
  *    composition proof (q_train_pipeline).
  *
  * Everything is integer/deterministic arithmetic wherever a DuckDB
  * oracle certifies it, and every scale-sensitive rank/prefix runs
  * through the two-phase utilities ([[graft.exec.Ranks]],
  * [[graft.ext.Sharding]]) — never a single-task window. */
object TrainPrepQueries {

  // ------------------------------------------------------ q_epoch_shuffle

  /** Deterministic epoch order + shard assignment over `documents`. The
    * Spark path runs the distributed two-phase prefix sum; the oracle is
    * the global-window twin — identical output proves the parallel
    * formulation exact. */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    Sharding.epochShuffle(d, "doc_id", "text", seed = 42L, budget = 4000L)
  }

  val qEpochShuffleSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT doc_id, h, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t)
       |SELECT doc_id, h, n_tokens, cum_before,
       |  (cum_before // 4000)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 4000 ORDER BY h, doc_id) AS pos
       |FROM c""".stripMargin

  // ------------------------------------------------------ q_dataloader_resume

  /** Trainer-resume lookup: for each consumed-token checkpoint T, the
    * document straddling T in the epoch order — shard, in-shard position
    * and how many tokens of that document to skip. One broadcast join of
    * the checkpoint list against the epoch assignment; a resuming loader
    * reads exactly one manifest row and seeks, never re-streaming the
    * corpus. */
  def qDataloaderResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Sharding.epochShuffle(Tables(s, dir, "documents"),
      "doc_id", "text", seed = 42L, budget = 4000L)
    val targets = Seq(0L, 1000L, 5000L, 12345L).toDF("t")
    e.join(broadcast(targets),
        col("cum_before") <= col("t") &&
          col("t") < col("cum_before") + col("n_tokens"))
      .select(col("t"), col("doc_id"), col("shard"), col("pos"),
        (col("t") - col("cum_before")).as("skip_tokens"))
  }

  val qDataloaderResumeSql: String =
    s"""WITH t0 AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT doc_id, h, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t0),
       |e AS (SELECT doc_id, n_tokens, cum_before,
       |  (cum_before // 4000)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 4000 ORDER BY h, doc_id) AS pos
       | FROM c),
       |tg AS (SELECT unnest([0, 1000, 5000, 12345])::BIGINT AS t)
       |SELECT t, doc_id, shard, pos, (t - cum_before)::BIGINT AS skip_tokens
       |FROM e JOIN tg ON cum_before <= t AND t < cum_before + n_tokens""".stripMargin

  // ---------------------------------------------------------- q_contrastive

  /** Contrastive-training triplet mining: (anchor, positive) from the
    * exact near-dup pairs (the lossless prefix-filtered Jaccard join, no
    * cartesian) and a DETERMINISTIC hard negative per pair — a hash of
    * the anchor mapped through the two-phase global rank to a real
    * document id, so any engine mines the identical triplets. Collision
    * rows (negative equals either side) are dropped symmetrically. */
  def qContrastive(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val n = docs.count()
    val pairs = graft.ext.Dedup.prefixJaccardPairs(docs,
      "text", "doc_id", "lang", threshold = 0.5)
    val ranked = graft.exec.Ranks.globalRowNumber(
      docs.select(col("doc_id")), Seq(col("doc_id")), "rn")
    pairs
      .withColumn("neg_rn",
        expr(s"(id_a * ${Sharding.HashMulB} % ${Sharding.HashMod}) % $n + 1"))
      .join(broadcast(ranked.select(col("doc_id").as("neg_id"), col("rn").as("neg_rn"))),
        "neg_rn")
      .filter(col("neg_id") =!= col("id_a") && col("neg_id") =!= col("id_b"))
      .select(col("id_a").as("anchor"), col("id_b").as("positive"),
        col("neg_id").as("negative"), col("jaccard"))
  }

  val qContrastiveSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS w FROM documents),
       |sh AS (SELECT doc_id, lang,
       |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
       |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM t),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  len(list_intersect(a.t, b.t))::DOUBLE
       |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jaccard
       | FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       | WHERE len(list_intersect(a.t, b.t))::DOUBLE
       |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.5),
       |r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM documents)
       |SELECT id_a AS anchor, id_b AS positive, r.doc_id AS negative, jaccard
       |FROM p JOIN r ON r.rn =
       |  (id_a * ${Sharding.HashMulB} % ${Sharding.HashMod}) % (SELECT count(*) FROM documents) + 1
       |WHERE r.doc_id <> id_a AND r.doc_id <> id_b""".stripMargin

  // ---------------------------------------------------------- q_epoch_plan

  /** Multi-epoch training plan: three epochs, each its own seeded
    * permutation (seed = 42 + epoch — the two-stage hash makes every
    * epoch a genuinely different order, ShardingSpec pins that), with
    * continuous global positions for the dataloader. The per-epoch rank
    * is the grouped two-phase row_number — an epoch is just a group. */
  def qEpochPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val crossed = docs.crossJoin(broadcast(Seq(0L, 1L, 2L).toDF("epoch")))
      .withColumn("h", expr(
        s"((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42 + epoch)" +
          s" % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod}"))
    graft.exec.Ranks.groupedRowNumber(crossed, Seq("epoch"),
        Seq(col("h"), col("doc_id")), "pos")
      .withColumn("global_pos", col("epoch") * lit(n) + col("pos"))
      .select("epoch", "doc_id", "h", "pos", "global_pos")
  }

  val qEpochPlanSql: String =
    s"""WITH e AS (SELECT doc_id, unnest([0, 1, 2])::BIGINT AS epoch FROM documents),
       |h AS (SELECT doc_id, epoch,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42 + epoch) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM e),
       |p AS (SELECT doc_id, epoch, h,
       |  row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos FROM h)
       |SELECT epoch, doc_id, h, pos,
       |  (epoch * (SELECT count(*) FROM documents) + pos)::BIGINT AS global_pos
       |FROM p""".stripMargin

  // ----------------------------------------------------- q_pack_boundaries

  /** Document-boundary spans per shard — what a pretraining loader needs
    * to reset attention across concatenated documents: each shard's docs
    * as shard-relative token intervals [start, end), in epoch order, as
    * JSON (nested arrays break the driver comparator). A straddling doc
    * belongs to the shard holding its FIRST token, so a span may extend
    * past the budget — by design, the loader masks within the sequence it
    * actually materializes. */
  def qPackBoundaries(s: SparkSession, dir: String): DataFrame =
    Sharding.epochShuffle(Tables(s, dir, "documents"),
        "doc_id", "text", seed = 42L, budget = 4000L)
      .withColumn("rel", col("cum_before") - col("shard") * lit(4000L))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        to_json(transform(
          array_sort(collect_list(struct(col("pos"), col("rel"), col("n_tokens")))),
          x => array(x.getField("rel"),
            x.getField("rel") + x.getField("n_tokens"))))
          .as("doc_spans"))

  val qPackBoundariesSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT doc_id, h, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t),
       |e AS (SELECT doc_id, h, n_tokens, cum_before,
       |  (cum_before // 4000)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 4000 ORDER BY h, doc_id) AS pos
       | FROM c),
       |r AS (SELECT shard, pos,
       |  (cum_before - shard * 4000)::BIGINT AS rel, n_tokens FROM e)
       |SELECT shard, count(*)::BIGINT AS n_docs,
       |  to_json(list([rel, rel + n_tokens] ORDER BY pos)) AS doc_spans
       |FROM r GROUP BY shard""".stripMargin

  // --------------------------------------------------------- q_shard_skew

  /** Shard-balance report: one row over the whole epoch — shard count and
    * min/max/total tokens per shard. The token-budget assignment bounds
    * every shard at budget + one straddling document, so max/min stay
    * tight regardless of document-length skew; this is the check a
    * capacity planner reads before provisioning trainers. */
  def qShardSkew(s: SparkSession, dir: String): DataFrame =
    Sharding.epochShuffle(Tables(s, dir, "documents"),
        "doc_id", "text", seed = 42L, budget = 4000L)
      .groupBy("shard").agg(sum("n_tokens").as("t"))
      .agg(count(lit(1)).as("n_shards"),
        min("t").as("min_tokens"), max("t").as("max_tokens"),
        sum("t").as("total_tokens"))

  val qShardSkewSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t),
       |g AS (SELECT (cum_before // 4000)::BIGINT AS shard, sum(n_tokens)::BIGINT AS t
       | FROM c GROUP BY 1)
       |SELECT count(*)::BIGINT AS n_shards, min(t) AS min_tokens,
       |  max(t) AS max_tokens, sum(t)::BIGINT AS total_tokens FROM g""".stripMargin

  // -------------------------------------------------------- q_token_budget

  /** Training-run sizing: the epoch prefix that fits a token budget (the
    * docs whose starting token falls under B) summarized per language —
    * what "train on the first 12k tokens" actually contains. Because the
    * epoch order is seeded-hash-uniform, every budget's prefix holds the
    * corpus language mix; the oracle certifies the exact composition. */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Sharding.epochShuffle(docs, "doc_id", "text", seed = 42L, budget = 4000L)
      .filter(col("cum_before") < 12000L)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        max(expr("cum_before + n_tokens")).as("max_end"))
  }

  val qTokenBudgetSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(c.n_tokens)::BIGINT AS n_tokens,
       |  max(cum_before + c.n_tokens)::BIGINT AS max_end
       |FROM c JOIN documents USING (doc_id)
       |WHERE cum_before < 12000 GROUP BY lang""".stripMargin

  // ------------------------------------------------- q_quality_classifier

  /** Hashed bag-of-words linear scorer: token → polynomial hash →
    * feature bucket (mod [[FeatDim]]) → fixed weight; margin = Σw/√n.
    * The weights are derived from the bucket index by a closed-form
    * recipe so the oracle can evaluate the identical model — in
    * production they'd arrive as a broadcast table from an offline
    * trainer; the Spark-side plumbing (hashing-trick featurization, one
    * codegen'd projection, no shuffle) is the real thing. */
  val FeatDim = 4096

  /** The fixed-model margin expression, shared with the end-to-end
    * pipeline query. */
  def qualityMargin(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = TextAnalysis.tokens(text)
    val tokHash = (t: org.apache.spark.sql.Column) =>
      aggregate(split(t, ""), lit(0L),
        (h, c) => (h * 31L + ascii(c)) % TextAnalysis.FingerprintMod)
    val weight = (t: org.apache.spark.sql.Column) =>
      ((tokHash(t) % FeatDim) * 37L + 11L) % 997L / lit(997.0) - lit(0.5)
    aggregate(toks, lit(0.0), (acc, t) => acc + weight(t)) /
      sqrt(greatest(size(toks), lit(1)).cast("double"))
  }

  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val margin = qualityMargin(col("text"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), margin.as("margin"),
        (margin > 0).as("keep"))
  }

  val qQualityClassifierSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM documents),
       |m AS (SELECT doc_id,
       |  list_reduce(list_prepend(0.0, list_transform(toks, t ->
       |    ((list_reduce(list_prepend(0::BIGINT,
       |        list_transform(range(1, length(t) + 1), i -> ascii(t[i])::BIGINT)),
       |      (h, c) -> (h * 31 + c) % ${TextAnalysis.FingerprintMod})
       |     % $FeatDim) * 37 + 11) % 997 / 997.0 - 0.5)),
       |    (a, w) -> a + w)
       |  / sqrt(greatest(len(toks), 1)::DOUBLE) AS margin
       | FROM t)
       |SELECT doc_id, margin, margin > 0 AS keep FROM m""".stripMargin

  // ----------------------------------------------------- q_mixture_schedule

  /** Stride-scheduled mixture interleave: order the corpus so EVERY
    * training prefix holds the target domain proportions (en:zh:rest =
    * 5:2:1), not just the whole epoch. Classic stride scheduling: the
    * k-th document of a domain with weight w lands at stride key
    * `k·S/w`; merging domains by key yields per-prefix proportionality.
    * Both ranks run through [[graft.exec.Ranks]] — range exchange +
    * two-phase counts — never a single-task window; the oracle IS the
    * window formulation, so the hash-match proves the distributed plan
    * bit-identical. */
  def qMixtureSchedule(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("h", Sharding.shuffleKey(col("doc_id"), 42L))
      .withColumn("w10",
        expr("CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END"))
    val ranked = graft.exec.Ranks.groupedRowNumber(
      docs, Seq("lang"), Seq(col("h"), col("doc_id")), "dom_rank")
      .withColumn("stride_key", expr("(dom_rank * 10000) div w10"))
    graft.exec.Ranks.globalRowNumber(
      ranked, Seq(col("stride_key"), col("lang"), col("dom_rank")), "pos")
      .select("doc_id", "lang", "dom_rank", "stride_key", "pos")
  }

  val qMixtureScheduleSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h,
       |  CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END AS w10
       | FROM documents),
       |r AS (SELECT doc_id, lang, w10,
       |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS dom_rank
       | FROM d),
       |k AS (SELECT doc_id, lang, dom_rank,
       |  (dom_rank * 10000) // w10 AS stride_key FROM r)
       |SELECT doc_id, lang, dom_rank, stride_key,
       |  row_number() OVER (ORDER BY stride_key, lang, dom_rank) AS pos
       |FROM k""".stripMargin

  // ----------------------------------------------------- q_mixture_tokens

  /** TOKEN-weighted stride mixture — the real-world semantics: domain
    * weights target token shares, so a domain's stride position is the
    * tokens before a document in its domain (the grouped two-phase
    * prefix sum), not its ordinal. Every training prefix then holds the
    * 5:2:1 TOKEN mixture even when domains have very different document
    * lengths. Oracle = the per-domain window twin + global row_number. */
  def qMixtureTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("h", Sharding.shuffleKey(col("doc_id"), 42L))
      .withColumn("w10",
        expr("CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END"))
    val pref = graft.exec.Ranks.groupedPrefixSum(docs, Seq("lang"),
        Seq(col("h"), col("doc_id")), "n_tokens", "tok_before")
      .withColumn("stride_key", expr("(tok_before * 10000) div w10"))
    graft.exec.Ranks.globalRowNumber(pref,
        Seq(col("stride_key"), col("lang"), col("tok_before")), "pos")
      .select("doc_id", "lang", "n_tokens", "tok_before", "stride_key", "pos")
  }

  val qMixtureTokensSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h,
       |  CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END AS w10
       | FROM documents),
       |p AS (SELECT doc_id, lang, n_tokens,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_before,
       |  w10 FROM d),
       |k AS (SELECT doc_id, lang, n_tokens, tok_before,
       |  (tok_before * 10000) // w10 AS stride_key FROM p)
       |SELECT doc_id, lang, n_tokens, tok_before, stride_key,
       |  row_number() OVER (ORDER BY stride_key, lang, tok_before) AS pos
       |FROM k""".stripMargin

  // ------------------------------------------------------- q_length_batches

  /** Length-bucketed batching: bucket documents by token count (width 32),
    * shuffle within the bucket, and cut deterministic 16-doc batches — the
    * padding-efficiency step before sequence assembly (similar lengths
    * share a batch, so per-batch padding-to-max waste stays small). The
    * in-bucket rank is the two-phase grouped row_number. */
  def qLengthBatches(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("n_tokens div 32"))
      .withColumn("h", Sharding.shuffleKey(col("doc_id"), 7L))
    graft.exec.Ranks.groupedRowNumber(
        docs, Seq("bucket"), Seq(col("h"), col("doc_id")), "bucket_rank")
      .withColumn("batch", expr("(bucket_rank - 1) div 16"))
      .select("doc_id", "n_tokens", "bucket", "bucket_rank", "batch")
  }

  val qLengthBatchesSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 7) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket, h FROM t),
       |r AS (SELECT doc_id, n_tokens, bucket,
       |  row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS bucket_rank
       | FROM b)
       |SELECT doc_id, n_tokens, bucket, bucket_rank,
       |  (bucket_rank - 1) // 16 AS batch FROM r""".stripMargin

  // ------------------------------------------------------------- q_upsample

  /** Low-resource upsampling: replicate scarce-language documents
    * (en×1, zh×2, rest×3) into per-epoch copies, each copy carrying its
    * own deterministic shuffle key so replicas spread through the epoch
    * instead of clustering. Pure map-side explode — rows grow by the
    * repeat factor, no shuffle at all. */
  def qUpsample(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("n_copies",
        expr("CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END")
          .cast("long"))
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
      .withColumn("h", Sharding.shuffleKey(
        col("doc_id") * lit(11L) + col("copy"), 42L))

  val qUpsampleSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  (CASE lang WHEN 'en' THEN 1 WHEN 'zh' THEN 2 ELSE 3 END)::BIGINT AS n_copies
       | FROM documents),
       |u AS (SELECT doc_id, lang, n_copies,
       |  unnest(generate_series(1, n_copies))::BIGINT AS copy FROM d)
       |SELECT doc_id, lang, n_copies, copy,
       |  (((doc_id * 11 + copy) % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       |FROM u""".stripMargin

  // ------------------------------------------------------- q_shard_manifest

  /** Trainer-facing shard manifest over the epoch shuffle: per shard, the
    * doc/token counts, the token interval [start_tok, end_tok), and an
    * order-sensitive checksum — what a loader needs to mmap shards and
    * verify them without re-reading the corpus. One groupBy over the
    * shuffle output. */
  def qShardManifest(s: SparkSession, dir: String): DataFrame =
    Sharding.epochShuffle(Tables(s, dir, "documents"),
        "doc_id", "text", seed = 42L, budget = 4000L)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("cum_before").as("start_tok"),
        max(expr("cum_before + n_tokens")).as("end_tok"),
        sum(expr(s"(doc_id * pos) % ${Sharding.HashMod}")).as("checksum"))

  val qShardManifestSql: String =
    s"""WITH t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |c AS (SELECT doc_id, h, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t),
       |e AS (SELECT doc_id, h, n_tokens, cum_before,
       |  (cum_before // 4000)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 4000 ORDER BY h, doc_id) AS pos
       | FROM c)
       |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       |  min(cum_before) AS start_tok, max(cum_before + n_tokens)::BIGINT AS end_tok,
       |  sum((doc_id * pos) % ${Sharding.HashMod})::BIGINT AS checksum
       |FROM e GROUP BY shard""".stripMargin

  // ---------------------------------------------- q_cdc_chunks / q_cdc_diff

  /** Content-defined chunk manifest ([[Sharding.contentChunks]]): chunk
    * identity is the cut document's hash, so corpus edits change only the
    * touched chunks — the incremental-retraining unit. */
  val CdcCutMod = 16L

  def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    Sharding.chunkManifest(Tables(s, dir, "documents"),
      "doc_id", "text", seed = 42L, cutMod = CdcCutMod)

  private[queries] val cdcManifestSql: String => String = (src: String) =>
    s"""SELECT chunk_key, count(*)::BIGINT AS n_docs,
       |  sum(n_tokens)::BIGINT AS n_tokens,
       |  sum((doc_id * 31 + fp) % ${Sharding.HashMod})::BIGINT AS checksum
       |FROM (SELECT doc_id, n_tokens, fp,
       |  coalesce(max(CASE WHEN h % $CdcCutMod = 0 THEN h END)
       |    OVER (ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS chunk_key
       | FROM (SELECT doc_id,
       |   len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |   list_reduce(list_prepend(0::BIGINT,
       |     list_transform(range(1, length(lower(trim(text))) + 1),
       |       i -> ascii(lower(trim(text))[i])::BIGINT)),
       |     (a, c) -> (a * 31 + c) % ${Sharding.HashMod}) AS fp,
       |   ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       |  FROM ($src)))
       |GROUP BY chunk_key""".stripMargin

  val qCdcChunksSql: String = cdcManifestSql("SELECT doc_id, text FROM documents")

  /** The incremental diff: corpus B drops every 23rd document and edits
    * every 17th; chunk manifests of A and B full-join on the stable chunk
    * key. Only chunks holding touched documents (or losing their cut doc)
    * may differ — the locality property CdcSpec asserts; the oracle
    * certifies the exact diff. */
  def qCdcDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val b = docs.filter(col("doc_id") % 23 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 17 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val ma = Sharding.chunkManifest(docs, "doc_id", "text", 42L, CdcCutMod)
      .withColumnsRenamed(Map("n_docs" -> "a_docs", "n_tokens" -> "a_tokens",
        "checksum" -> "a_sum"))
    val mb = Sharding.chunkManifest(b, "doc_id", "text", 42L, CdcCutMod)
      .withColumnsRenamed(Map("n_docs" -> "b_docs", "n_tokens" -> "b_tokens",
        "checksum" -> "b_sum"))
    ma.join(mb, Seq("chunk_key"), "full")
      .select(col("chunk_key"),
        coalesce(col("a_docs"), lit(0L)).as("a_docs"),
        coalesce(col("b_docs"), lit(0L)).as("b_docs"),
        when(col("a_sum").isNull, lit("added"))
          .when(col("b_sum").isNull, lit("removed"))
          .when(col("a_sum") === col("b_sum") && col("a_docs") === col("b_docs"),
            lit("same"))
          .otherwise(lit("changed")).as("status"))
  }

  val qCdcDiffSql: String = {
    val bSrc = "SELECT doc_id, CASE WHEN doc_id % 17 = 3 THEN text || ' v2' " +
      "ELSE text END AS text FROM documents WHERE doc_id % 23 <> 5"
    s"""WITH ma AS (${cdcManifestSql("SELECT doc_id, text FROM documents")}),
       |mb AS (${cdcManifestSql(bSrc)})
       |SELECT coalesce(ma.chunk_key, mb.chunk_key) AS chunk_key,
       |  coalesce(ma.n_docs, 0)::BIGINT AS a_docs,
       |  coalesce(mb.n_docs, 0)::BIGINT AS b_docs,
       |  CASE WHEN ma.checksum IS NULL THEN 'added'
       |       WHEN mb.checksum IS NULL THEN 'removed'
       |       WHEN ma.checksum = mb.checksum AND ma.n_docs = mb.n_docs THEN 'same'
       |       ELSE 'changed' END AS status
       |FROM ma FULL JOIN mb ON ma.chunk_key = mb.chunk_key""".stripMargin
  }

  // ------------------------------------------------------------- q_chunk_idx

  /** Driver-gate face of the STANDING chunk index: ingest the corpus in
    * two batches through the real delta-partition code (splits, empty-
    * chunk tombstones, latest-wins read) and emit the standing manifest.
    * The oracle is the DIRECT one-shot chunk manifest — a hash-match
    * proves incremental maintenance is semantically invisible. */
  def qChunkIdx(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "chunkidx", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    graft.ext.ChunkIndex.append(s, base, docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", seed = 42L, cutMod = CdcCutMod, batchId = 0L)
    graft.ext.ChunkIndex.append(s, base, docs.filter(col("doc_id") % 2 =!= 0),
      "text", "doc_id", seed = 42L, cutMod = CdcCutMod, batchId = 1L)
    graft.ext.ChunkIndex.readManifest(s, base)
  }

  val qChunkIdxSql: String = qCdcChunksSql

  // ---------------------------------------------------------- q_chunk_delete

  /** Takedown through the standing chunk index: ingest, tombstone every
    * 23rd document (the slice includes cut docs, forcing chunk merges),
    * read the manifest back. The oracle is a direct manifest of the
    * SURVIVORS — a hash-match proves the tombstone path equals a rebuild
    * without the victims. */
  def qChunkDelete(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "chunkdel", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    graft.ext.ChunkIndex.append(s, base, docs, "text", "doc_id",
      seed = 42L, cutMod = CdcCutMod, batchId = 0L)
    graft.ext.ChunkIndex.delete(s, base,
      docs.filter(col("doc_id") % 23 === 5).select("doc_id"),
      "doc_id", cutMod = CdcCutMod, batchId = 1L)
    graft.ext.ChunkIndex.readManifest(s, base)
  }

  val qChunkDeleteSql: String =
    cdcManifestSql("SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 5")

  // ------------------------------------------- q_stream_chunk_lifecycle

  /** The standing CHUNK index driven through a REAL Structured-Streaming
    * lifecycle with a MID-STREAM TAKEDOWN and a post-restart COMPACTION
    * — completing the stream-proven trilogy (q_stream_dedup_lifecycle,
    * q_stream_ann_lifecycle) for the third standing index:
    *
    *  1. land the even docs as a file, run `readStream →
    *     [[graft.ext.ChunkIndex.run]] → Trigger.AvailableNow` to
    *     termination against a checkpoint (micro-batch 0);
    *  2. MID-STREAM, tombstone every 23rd even doc
    *     ([[graft.ext.ChunkIndex.delete]] at batch 1 — between the two
    *     stream batches, exactly where a takedown lands in production);
    *  3. land the odd docs as a late file and run the stream AGAIN on
    *     the same checkpoint with `baseBatch = 1` (the documented
    *     resume contract: the restarted stream's batch 1 must version
    *     ABOVE the takedown) — the restart discovers only the new file
    *     and its cuts split/merge standing chunks;
    *  4. [[graft.ext.ChunkIndex.compact]] — fold delta partitions and
    *     retire tombstones — then read the manifest.
    *
    * The oracle is a direct manifest over the survivors, so a hash-pass
    * proves stream restart, batch-scoped tombstone masking, cross-batch
    * chunk splitting, and the compaction fold together equal a
    * from-scratch build without the victims. */
  def qStreamChunkLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "streamchunk", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    val stream = Scratch.stream(s, base, docs.schema) { (src, ckpt, leg) =>
      graft.ext.ChunkIndex.run(src, s"$base/idx", "text", "doc_id",
        seed = 42L, cutMod = CdcCutMod, checkpoint = ckpt,
        baseBatch = leg.toLong)
    }
    stream.feed(docs.filter(col("doc_id") % 2 === 0))
    // mid-stream takedown at batch 1: between the stream's batch 0 and
    // the restart's batch (1 + baseBatch 1 = 2). Safe against replay
    // collision because AvailableNow commits batch 0 before the first
    // awaitTermination returns — the restart can only see the NEW file
    // (micro-batch 1 → stamp 2), never re-stamp batch 0 as 0 + 1 = 1
    // (ChunkIndex.delete's stream-interleaving contract).
    graft.ext.ChunkIndex.delete(s, s"$base/idx",
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 23 === 5)
        .select("doc_id"),
      "doc_id", cutMod = CdcCutMod, batchId = 1L)
    stream.feed(docs.filter(col("doc_id") % 2 =!= 0))
    graft.ext.ChunkIndex.compact(s, s"$base/idx", cutMod = CdcCutMod)
    graft.ext.ChunkIndex.readManifest(s, s"$base/idx")
  }

  val qStreamChunkLifecycleSql: String = cdcManifestSql(
    "SELECT doc_id, text FROM documents " +
      "WHERE NOT (doc_id % 2 = 0 AND doc_id % 23 = 5)")

  // ------------------------------------------------- q_multimodal_shards

  /** BYTE-budget shard manifest for MULTIMODAL (text, image) training
    * pairs — the WebDataset-assembly step: media payloads skew by an
    * order of magnitude, so row-count sharding starves loaders; shards
    * must be cut by cumulative PAIR BYTES (media + text), and a loader
    * needs each shard's byte interval to mmap it. Pairs are real
    * synthesized BMPs joined to their documents, ordered by the
    * reproducible shuffle key, byte-prefix-summed with the two-phase
    * [[graft.exec.Ranks.groupedPrefixSum]] (never a single-task
    * window), and cut every 64 KiB. The BMP encoder's size is
    * closed-form in (w, h) — `54 + h·rowstride`, rowstride 4-byte
    * padded — so the oracle recomputes every payload size without an
    * encoder and the whole manifest hash-checks. */
  def qMultimodalShards(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Multimodal
    val docs = Tables(s, dir, "documents")
    val media = Multimodal.bmpTable(docs)
      .select(col("doc_id"), octet_length(col("media")).cast("long")
        .as("media_bytes"))
    val pairs = docs
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("text_bytes"))
      .join(media, "doc_id")
      .withColumn("pair_bytes", col("text_bytes") + col("media_bytes"))
      .withColumn("h", Sharding.shuffleKey(col("doc_id"), 42L))
    val cum = graft.exec.Ranks.groupedPrefixSum(pairs, Nil,
        Seq(col("h"), col("doc_id")), "pair_bytes", "cum_before")
      .withColumn("shard", expr("cum_before div 65536"))
    val pos = graft.exec.Ranks.groupedRowNumber(cum, Seq("shard"),
      Seq(col("h"), col("doc_id")), "pos")
    pos.groupBy("shard").agg(
      count(lit(1)).as("n_pairs"),
      sum("media_bytes").as("media_bytes"),
      sum("text_bytes").as("text_bytes"),
      min("cum_before").as("start_byte"),
      max(expr("cum_before + pair_bytes")).as("end_byte"),
      sum(expr(s"(doc_id * pos) % ${Sharding.HashMod}")).as("checksum"))
  }

  val qMultimodalShardsSql: String =
    s"""WITH d AS (SELECT doc_id,
       |  octet_length(encode(text))::BIGINT AS text_bytes,
       |  4 + doc_id % 12 AS w, 4 + doc_id % 7 AS hh,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM documents),
       |p AS (SELECT doc_id, text_bytes, h,
       |  (54 + hh * (((3 * w + 3) // 4) * 4))::BIGINT AS media_bytes
       | FROM d),
       |c AS (SELECT doc_id, h, text_bytes, media_bytes,
       |  text_bytes + media_bytes AS pair_bytes,
       |  coalesce(sum(text_bytes + media_bytes) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM p),
       |e AS (SELECT *, (cum_before // 65536)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 65536
       |    ORDER BY h, doc_id) AS pos
       | FROM c)
       |SELECT shard, count(*)::BIGINT AS n_pairs,
       |  sum(media_bytes)::BIGINT AS media_bytes,
       |  sum(text_bytes)::BIGINT AS text_bytes,
       |  min(cum_before) AS start_byte,
       |  max(cum_before + pair_bytes)::BIGINT AS end_byte,
       |  sum((doc_id * pos) % ${Sharding.HashMod})::BIGINT AS checksum
       |FROM e GROUP BY shard""".stripMargin

  // --------------------------------------------------- q_anneal_mixture

  /** TWO-PHASE CURRICULUM (annealed mixture) — the mid-training mixture
    * shift real pretraining runs do: the first `AnnealBudget` tokens
    * follow mix A (en 5 : zh 2 : rest 1, stride-scheduled), the
    * remainder re-schedules under mix B (uniform). Phase membership is
    * decided by the token prefix sum OVER THE MIX-A ORDER (the order
    * the trainer would actually consume), then phase-1 documents get
    * fresh per-domain ranks and a uniform stride key; the final
    * position is one global rank over (phase, within-phase schedule).
    * Every rank/prefix is a two-phase [[graft.exec.Ranks]] pass; the
    * oracle is the window formulation of all four, so the hash-match
    * proves the distributed curriculum bit-identical. */
  def qAnnealMixture(s: SparkSession, dir: String): DataFrame = {
    val AnnealBudget = 15000L
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("h", Sharding.shuffleKey(col("doc_id"), 42L))
      .withColumn("wa",
        expr("CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END"))
    val rankedA = graft.exec.Ranks.groupedRowNumber(
        docs, Seq("lang"), Seq(col("h"), col("doc_id")), "dom_rank_a")
      .withColumn("stride_a", expr("(dom_rank_a * 10000) div wa"))
    val posA = graft.exec.Ranks.globalRowNumber(
      rankedA, Seq(col("stride_a"), col("lang"), col("dom_rank_a")), "pos_a")
    val phased = graft.exec.Ranks.groupedPrefixSum(posA, Nil,
        Seq(col("pos_a")), "n_tokens", "tok_before")
      .withColumn("phase",
        when(col("tok_before") < AnnealBudget, 0).otherwise(1))
    // phase-1 re-rank under mix B (uniform): fresh per-domain ranks,
    // stride key = rank (w = 1)
    val rankedB = graft.exec.Ranks.groupedRowNumber(
      phased, Seq("phase", "lang"), Seq(col("h"), col("doc_id")), "dom_rank_b")
    val ordered = rankedB
      .withColumn("k1",
        when(col("phase") === 0, col("pos_a")).otherwise(col("dom_rank_b") * 10000))
      .withColumn("k2", when(col("phase") === 0, lit("")).otherwise(col("lang")))
      .withColumn("k3", when(col("phase") === 0, lit(0L)).otherwise(col("dom_rank_b")))
    graft.exec.Ranks.globalRowNumber(ordered,
        Seq(col("phase"), col("k1"), col("k2"), col("k3")), "pos")
      .select("doc_id", "lang", "n_tokens", "phase", "pos")
  }

  val qAnnealMixtureSql: String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h,
       |  CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END AS wa
       | FROM documents),
       |ra AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS dom_rank_a FROM d),
       |ka AS (SELECT *, (dom_rank_a * 10000) // wa AS stride_a FROM ra),
       |pa AS (SELECT *, row_number() OVER (ORDER BY stride_a, lang, dom_rank_a) AS pos_a FROM ka),
       |ph AS (SELECT *,
       |  CASE WHEN coalesce(sum(n_tokens) OVER (ORDER BY pos_a
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 15000
       |  THEN 0 ELSE 1 END AS phase FROM pa),
       |rb AS (SELECT *, row_number() OVER (PARTITION BY phase, lang
       |    ORDER BY h, doc_id) AS dom_rank_b FROM ph),
       |o AS (SELECT doc_id, lang, n_tokens, phase,
       |  CASE WHEN phase = 0 THEN pos_a ELSE dom_rank_b * 10000 END AS k1,
       |  CASE WHEN phase = 0 THEN '' ELSE lang END AS k2,
       |  CASE WHEN phase = 0 THEN 0 ELSE dom_rank_b END AS k3
       | FROM rb)
       |SELECT doc_id, lang, n_tokens, phase,
       |  row_number() OVER (ORDER BY phase, k1, k2, k3) AS pos
       |FROM o""".stripMargin

  // --------------------------------------------------------- q_train_pipeline

  /** End-to-end trainer prep in ONE declarative plan: exact dedup →
    * quality-classifier gate → reproducible epoch shuffle → shard
    * manifest. Every stage reuses the family's operators, so the oracle
    * is the composition of their (already individually certified) SQL
    * twins — the hash-match proves the stages compose without semantic
    * drift. */
  def qTrainPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val deduped = graft.ext.Dedup.exact(d, "text", "doc_id")
      .select(col("keep_id").as("doc_id"), col("text"))
    // the fixed pseudo-model scores this vocabulary mostly negative; gate
    // at its median so the pipeline keeps a realistic half (both engines
    // compute the identical doubles — q_quality_classifier hash-proves it)
    val kept = deduped.filter(qualityMargin(col("text")) > -0.45)
    Sharding.epochShuffle(kept, "doc_id", "text", seed = 42L, budget = 1000L)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("cum_before").as("start_tok"),
        max(expr("cum_before + n_tokens")).as("end_tok"),
        sum(expr(s"(doc_id * pos) % ${Sharding.HashMod}")).as("checksum"))
  }

  val qTrainPipelineSql: String =
    s"""WITH d1 AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
       |k AS (SELECT doc_id, text FROM (
       |  SELECT doc_id, text,
       |    list_reduce(list_prepend(0.0, list_transform(
       |      string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'), t ->
       |      ((list_reduce(list_prepend(0::BIGINT,
       |          list_transform(range(1, length(t) + 1), i -> ascii(t[i])::BIGINT)),
       |        (h, c) -> (h * 31 + c) % ${TextAnalysis.FingerprintMod})
       |       % $FeatDim) * 37 + 11) % 997 / 997.0 - 0.5)),
       |      (a, w) -> a + w)
       |    / sqrt(greatest(len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')), 1)::DOUBLE)
       |      AS margin
       |  FROM d1) WHERE margin > -0.45),
       |t AS (SELECT doc_id,
       |  len(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+'))::BIGINT AS n_tokens,
       |  ((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + 42) % ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod} AS h
       | FROM k),
       |c AS (SELECT doc_id, h, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
       | FROM t),
       |e AS (SELECT doc_id, h, n_tokens, cum_before,
       |  (cum_before // 1000)::BIGINT AS shard,
       |  row_number() OVER (PARTITION BY cum_before // 1000 ORDER BY h, doc_id) AS pos
       | FROM c)
       |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       |  min(cum_before) AS start_tok, max(cum_before + n_tokens)::BIGINT AS end_tok,
       |  sum((doc_id * pos) % ${Sharding.HashMod})::BIGINT AS checksum
       |FROM e GROUP BY shard""".stripMargin

  // ------------------------------------------------------------- q_data_card

  /** Dataset-card report: one pass over the corpus, GROUPING SETS over
    * (language × length band), each cell carrying doc/token counts, char
    * totals and a quality-keep rate — the summary table a dataset release
    * ships. Catalyst expands the sets from a single aggregate; no second
    * scan. */
  def qDataCard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("band", expr("CASE WHEN n_tokens < 32 THEN 'short' " +
        "WHEN n_tokens < 96 THEN 'medium' ELSE 'long' END"))
      .withColumn("keep", (length(col("text")) >= 64).cast("long"))
    d.cube("lang", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum("keep").as("n_keep"))
  }

  val qDataCardSql: String =
    """WITH d AS (SELECT lang, text,
      |  len(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+'))::BIGINT AS n_tokens
      | FROM documents),
      |e AS (SELECT lang,
      |  CASE WHEN n_tokens < 32 THEN 'short'
      |       WHEN n_tokens < 96 THEN 'medium' ELSE 'long' END AS band,
      |  n_tokens, length(text)::BIGINT AS n_chars,
      |  CASE WHEN length(text) >= 64 THEN 1 ELSE 0 END::BIGINT AS keep FROM d)
      |SELECT lang, band, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
      |  sum(n_chars)::BIGINT AS n_chars, sum(keep)::BIGINT AS n_keep
      |FROM e GROUP BY CUBE (lang, band)""".stripMargin

  // ------------------------------------------------------------- q_cdc_incr

  /** The incremental pipeline itself: corpus B's chunk manifest assembled
    * from A's manifest plus a recompute of ONLY the dirty chunks — the
    * chunks holding touched documents, each deleted cut doc's own chunk,
    * and that chunk's predecessor (where its orphaned members land).
    * Chunking the dirty-docs subset alone yields exactly their B
    * assignment, because dirty regions are unions of whole chunks and
    * every non-prefix chunk carries its own cut doc. The predecessor
    * lookup runs through [[graft.exec.Ranks]] (ranked chunk keys,
    * rank−1 self-join) — no single-task window over the chunk list. The
    * ORACLE is the direct full manifest of B: a hash-match proves
    * incremental == recompute-everything. */
  def qCdcIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val edited = col("doc_id") % 17 === 3
    val deleted = col("doc_id") % 23 === 5
    val b = docs.filter(!deleted)
      .withColumn("text",
        when(edited, concat(col("text"), lit(" v2"))).otherwise(col("text")))
    val a = Sharding.contentChunks(docs, "doc_id", "text", 42L, CdcCutMod)
      .localCheckpoint()
    val touched = a.filter(edited || deleted).select("chunk_key")
    val delCut = a.filter(deleted && col("h") % CdcCutMod === 0L)
      .select(col("chunk_key").as("dk"))
    val keys = graft.exec.Ranks.globalRowNumber(
      a.select("chunk_key").distinct(), Seq(col("chunk_key")), "rk")
    val prevKeys = keys.select(col("chunk_key").as("pk"), (col("rk") + 1).as("rk"))
    val pred = delCut.join(keys, col("dk") === col("chunk_key"))
      .join(prevKeys, Seq("rk"), "left")
      .select(coalesce(col("pk"), lit(-1L)).as("chunk_key"))
    val dirty = touched
      .union(delCut.select(col("dk").as("chunk_key")))
      .union(pred).distinct().localCheckpoint()
    val maClean = Sharding.chunkManifest(docs, "doc_id", "text", 42L, CdcCutMod)
      .join(dirty, Seq("chunk_key"), "left_anti")
    val bDirtyDocs = b
      .join(a.select(col("doc_id"), col("chunk_key")), "doc_id")
      .join(dirty, "chunk_key")
      .select("doc_id", "text")
    val recomputed = Sharding.chunkManifest(bDirtyDocs, "doc_id", "text",
      42L, CdcCutMod)
    maClean.unionByName(recomputed)
  }

  val qCdcIncrSql: String = cdcManifestSql(
    "SELECT doc_id, CASE WHEN doc_id % 17 = 3 THEN text || ' v2' " +
      "ELSE text END AS text FROM documents WHERE doc_id % 23 <> 5")

  // ------------------------------------------------------------- q_bpe_pairs

  /** First BPE iteration: adjacent character-pair counts over the
    * distinct-word table, weighted by word frequency — the corpus is read
    * once, every later iteration is vocabulary-bounded. Top 50 by (count,
    * pair) with rank, fully oracle-checked. */
  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.ext.Bpe.pairCounts(Tables(s, dir, "documents"), "text")
      .orderBy(col("n").desc, col("left"), col("right")).limit(50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("left"), col("right"))).cast("long"))
  }

  val qBpePairsSql: String =
    """WITH w AS (SELECT token AS word, count(*)::BIGINT AS freq FROM
      |  (SELECT unnest(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS token
      |   FROM documents) WHERE length(token) > 0 GROUP BY 1),
      |p AS (SELECT substring(word, i::INT, 1) AS "left",
      |             substring(word, i::INT + 1, 1) AS "right", freq
      |      FROM w, unnest(range(1, length(word))) AS t(i)
      |      WHERE length(word) > 1),
      |c AS (SELECT "left", "right", sum(freq)::BIGINT AS n FROM p GROUP BY 1, 2),
      |top AS (SELECT * FROM c ORDER BY n DESC, "left", "right" LIMIT 50)
      |SELECT "left", "right", n,
      |  row_number() OVER (ORDER BY n DESC, "left", "right") AS rank
      |FROM top""".stripMargin

  // ------------------------------------------------------------ q_bpe_merges

  /** The learned merge table (first 12 merges). The argmax loop is not
    * SQL-expressible without recursion, so the driver records rows-only;
    * the `_verified` companion replays the identical algorithm
    * sequentially on the collected word table and emits mismatches. */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bpe.merges(Tables(s, dir, "documents"), "text", k = 12)

  /** Contract-breach companion: distributed merges vs the driver-side
    * reference replay — any rank where (left, right, n) disagree is a
    * row; the oracle is the empty set. */
  def qBpeMergesVerified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the distributed trainer and the word-count collect (the reference
    // replay's input) are independent pipelines — overlapped (§2.6)
    @volatile var dist: Seq[(Int, String, String, Long)] = null
    @volatile var words: Map[String, Long] = null
    graft.exec.Concurrent.labeled[Unit](Seq(
      "bpe: distributed merges" -> (() =>
        dist = graft.ext.Bpe.merges(Tables(s, dir, "documents"), "text",
            k = 12)
          .as[(Int, String, String, Long)].collect().toSeq),
      "bpe: word counts" -> (() =>
        words = graft.ext.Bpe.wordCounts(Tables(s, dir, "documents"), "text")
          .as[(String, Long)].collect().toMap)))
    val ref = graft.ext.Bpe.referenceMerges(words, k = 12)
    val problems = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (dist.length != ref.length)
      problems += (("merge_count", s"dist=${dist.length} ref=${ref.length}"))
    dist.zip(ref).foreach { case (d, r) =>
      if (d != r) problems += ((s"rank_${r._1}", s"dist=$d ref=$r"))
    }
    problems.toSeq.toDF("rank_key", "problem")
  }

  val qBpeMergesVerifiedSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS rank_key,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  // ------------------------------------------------------------ q_bpe_encode

  /** Tokenizer fertility report: encode the corpus with the learned
    * 12-merge table and count whitespace tokens vs BPE symbols vs chars
    * per document. Encoding is a chain of codegen'd `replace` expressions
    * over the vocabulary-bounded distinct-word table (see
    * [[graft.ext.Bpe.encodedLen]]) — no per-row code, corpus joined back
    * by broadcast. Rows-only at the driver (the merge table comes from the
    * iterative trainer); the `_verified` companion replays the encode
    * imperatively. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bpe.encodeCounts(Tables(s, dir, "documents"), "text", "doc_id", k = 12)

  /** Contract-breach companion: per-word imperative replay (mergePair
    * fold) of the expression-chain encode, per document. Oracle = empty.
    *
    * Scale gate: the replay is a driver-side fold over every word of
    * every checked doc, so it runs on a bounded deterministic slice —
    * the FULL corpus at the correctness sf (≤ cap docs), a fixed-size
    * hash slice above it. The merge table is still the production one
    * trained on the whole corpus, and encode correctness is per-doc, so
    * the sliced check refutes the same contract. */
  def qBpeEncodeVerified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val allDocs = Tables(s, dir, "documents")
    val docs = graft.exec.Sampling.boundedSlice(allDocs, "doc_id",
      cap = ExtQueries.CompanionCap)
    // three independent Spark pipelines feed the driver-side replay: the
    // trainer (merge table), the production expression-chain encode
    // (which trains its own table internally), and the token collect —
    // overlapped (§2.6); the imperative fold below stays serial driver
    // work on the collected inputs
    @volatile var table: Seq[(String, String)] = null
    @volatile var dist: Map[Long, Long] = null
    @volatile var toks: Array[(Long, Seq[String])] = null
    graft.exec.Concurrent.labeled[Unit](Seq(
      "bpe: merge table" -> (() =>
        table = graft.ext.Bpe.merges(allDocs, "text", k = 12)
          .as[(Int, String, String, Long)].collect().sortBy(_._1)
          .map(m => (m._2, m._3)).toSeq),
      "bpe: production encode" -> (() =>
        dist = qBpeEncode(s, dir)
          .join(docs.select("doc_id"), Seq("doc_id"), "left_semi")
          .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap),
      "bpe: token collect" -> (() =>
        toks = docs.select(col("doc_id"),
            graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
          .as[(Long, Seq[String])].collect())))
    val ref = toks.map { case (id, ts) =>
        id -> ts.filter(_.nonEmpty).map { w =>
          table.foldLeft(w.map(_.toString).toIndexedSeq: IndexedSeq[String]) {
            case (syms, (l, r)) => graft.ext.Bpe.mergePair(syms, l, r)
          }.length.toLong
        }.sum
      }.toMap
    val problems = ref.toSeq.flatMap { case (id, n) =>
      val d = dist.getOrElse(id, -1L)
      if (d != n) Some((id.toString, s"dist=$d ref=$n")) else None
    } ++ dist.keys.filterNot(ref.contains).map(id => (id.toString, "extra doc"))
    problems.toDF("doc_key", "problem")
  }

  val qBpeEncodeVerifiedSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS doc_key,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  // -------------------------------------------------------------- q_bpe_vocab

  /** The trained tokenizer's vocabulary (symbols after 12 merges with
    * corpus counts). Rows-only at the driver (iterative trainer);
    * verified by replaying the encode imperatively per word — a path
    * independent of the expression chain the query runs. */
  def qBpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.ext.Bpe.vocab(Tables(s, dir, "documents"), "text", k = 12)

  def qBpeVocabVerified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    // trainer ∥ production vocab (trains its own table) ∥ word counts —
    // three independent pipelines feeding the driver replay (§2.6)
    @volatile var table: Seq[(String, String)] = null
    @volatile var dist: Map[String, (Long, Long)] = null
    @volatile var words: Array[(String, Long)] = null
    graft.exec.Concurrent.labeled[Unit](Seq(
      "bpe: merge table" -> (() =>
        table = graft.ext.Bpe.merges(docs, "text", k = 12)
          .as[(Int, String, String, Long)].collect().sortBy(_._1)
          .map(m => (m._2, m._3)).toSeq),
      "bpe: production vocab" -> (() =>
        dist = qBpeVocab(s, dir)
          .as[(String, Long, Long)].collect()
          .map(x => x._1 -> ((x._2, x._3))).toMap),
      "bpe: word counts" -> (() =>
        words = graft.ext.Bpe.wordCounts(docs, "text")
          .as[(String, Long)].collect())))
    val ref = scala.collection.mutable.Map.empty[String, (Long, Long)]
    words.foreach { case (w, f) =>
      val syms = table.foldLeft(w.map(_.toString).toIndexedSeq: IndexedSeq[String]) {
        case (acc, (l, r)) => graft.ext.Bpe.mergePair(acc, l, r)
      }
      syms.groupBy(identity).foreach { case (sym, occ) =>
        val (u, nw) = ref.getOrElse(sym, (0L, 0L))
        ref(sym) = (u + occ.length * f, nw + 1L)
      }
    }
    val problems =
      (ref.keySet ++ dist.keySet).toSeq.sorted.flatMap { sym =>
        val d = dist.get(sym); val r = ref.get(sym)
        if (d != r) Some((sym, s"dist=$d ref=$r")) else None
      }
    problems.toDF("symbol_key", "problem")
  }

  val qBpeVocabVerifiedSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS symbol_key,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  // ------------------------------------------------------------ q_importance

  /** DSIR-shaped importance scoring (Xie et al. 2023, public): score each
    * document by how much its hashed-unigram distribution looks like a
    * TARGET domain (here: the English slice) versus the raw corpus. All
    * arithmetic is integer (counts and a scaled ratio), so any engine
    * reproduces it bit-exactly — no cross-engine float drift. Shape: the
    * 1024-bucket feature table is two conditional sums over one exploded
    * pass, then a BROADCAST join back to doc tokens — at 100 TB the
    * feature table is still 1024 rows. */
  val ImpBuckets = 1024

  def qImportance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // ONE tokenization pass: collapse straight to per-(doc, bucket) counts
    // (≤ ImpBuckets rows per doc — far smaller than the exploded tokens),
    // then derive both the 1024-row feature table and the per-doc scores
    // from that intermediate. A naive formulation that aggregates the
    // exploded tokens once for features and again for scores tokenizes
    // the corpus TWICE — the dominant cost at 100 TB.
    val docBuckets = docs.select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .withColumn("b", TextAnalysis.tokenBucket(col("token"), ImpBuckets))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val feat = docBuckets.groupBy("b").agg(
      sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("n_target"),
      sum("n").as("n_raw"))
    docBuckets.join(broadcast(feat), "b")
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sum(expr("n * ((n_target * 10000) div n_raw)")).as("score"))
      .withColumn("avg_ratio", expr("score div n_tokens"))
  }

  val qImportanceSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')) AS token
       | FROM documents),
       |h AS (SELECT doc_id, lang,
       |  list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, length(token) + 1), i -> ascii(token[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % ${TextAnalysis.FingerprintMod}) % $ImpBuckets AS b
       | FROM t),
       |f AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_target,
       |  count(*)::BIGINT AS n_raw FROM h GROUP BY 1)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum((n_target * 10000) // n_raw)::BIGINT AS score,
       |  (sum((n_target * 10000) // n_raw) // count(*))::BIGINT AS avg_ratio
       |FROM h JOIN f USING (b) GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------- q_curation_incr

  /** Driver-gate face of the STREAMING curation path
    * ([[graft.streaming.IngestCuration]]): batch 0 (even doc_ids) builds
    * the standing feature table through the real micro-batch code —
    * delta partitions, stamps and all — and batch 1 (odd doc_ids) is
    * scored against it. Because every step is integer arithmetic, the
    * whole two-batch lifecycle is reproducible in plain SQL: the oracle
    * recomputes features from the even half and scores the odd half,
    * and a hash-match proves the streaming plumbing changes nothing. */
  def qCurationIncr(s: SparkSession, dir: String): DataFrame =
    curationLifecycle(s, dir, Scratch.fresh(s, "curation", dir))

  /** `base` must start empty ([[Scratch.fresh]]): stale deltas from an
    * aborted prior invocation would otherwise join the feature aggregate. */
  private def curationLifecycle(s: SparkSession, dir: String,
                                base: String): DataFrame = {
    import graft.streaming.IngestCuration
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    IngestCuration.processBatch(docs.filter(col("doc_id") % 2 === 0),
      batchId = 0L, featPath = s"$base/feat", textCol = "text",
      idCol = "doc_id", targetExpr = "lang = 'en'", minRatio = 4000L,
      verdictPath = s"$base/verdicts", updateFeatures = true, runTag = "q")
    IngestCuration.processBatch(docs.filter(col("doc_id") % 2 =!= 0),
      batchId = 1L, featPath = s"$base/feat", textCol = "text",
      idCol = "doc_id", targetExpr = "lang = 'en'", minRatio = 4000L,
      verdictPath = s"$base/verdicts", updateFeatures = true, runTag = "q")
    s.read.parquet(s"$base/verdicts").filter(col("batch_id") === 1)
      .select("doc_id", "n_tokens", "score", "avg_ratio", "keep", "reason")
  }

  val qCurationIncrSql: String = {
    val bucket = (src: String) =>
      s"""SELECT doc_id, lang,
         |  list_reduce(list_prepend(0::BIGINT,
         |      list_transform(range(1, length(token) + 1), i -> ascii(token[i])::BIGINT)),
         |    (a, c) -> (a * 31 + c) % ${TextAnalysis.FingerprintMod})
         |    % ${graft.streaming.IngestCuration.Buckets} AS b
         | FROM (SELECT doc_id, lang,
         |   unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')) AS token
         |  FROM documents WHERE $src) WHERE length(token) > 0""".stripMargin
    s"""WITH ta AS (${bucket("doc_id % 2 = 0")}),
       |f AS (SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_target,
       |  count(*)::BIGINT AS n_raw FROM ta GROUP BY 1),
       |tb AS (${bucket("doc_id % 2 <> 0")}),
       |sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |  sum((coalesce(n_target, 0) * 10000) // greatest(coalesce(n_raw, 0), 1))::BIGINT AS score
       | FROM tb LEFT JOIN f USING (b) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
       |  coalesce(sc.score, 0)::BIGINT AS score,
       |  coalesce(sc.score // sc.n_tokens, 0)::BIGINT AS avg_ratio,
       |  CASE WHEN sc.n_tokens IS NULL THEN false
       |       ELSE (sc.score // sc.n_tokens) >= 4000 END AS keep,
       |  CASE WHEN sc.n_tokens IS NULL THEN 'no_tokens'
       |       WHEN (sc.score // sc.n_tokens) >= 4000 THEN NULL
       |       ELSE 'low_importance' END AS reason
       |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 <> 0) d
       |LEFT JOIN sc USING (doc_id)""".stripMargin
  }

  // ----------------------------------------------------------------- q_fim

  /** Fill-in-the-middle document rewrite ([[graft.ext.Packing
    * .fimTransform]], Bavarian et al. 2022): 90% of documents split at
    * two hash-derived character offsets and reassemble in PSM or SPM
    * sentinel order; the rest pass through. Selection, split points,
    * mode and assembly are all the engine's two-stage modular hash plus
    * string arithmetic, so the oracle replays the transform
    * byte-for-byte in SQL. */
  def qFim(s: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.fimTransform(
      Tables(s, dir, "documents"), "text", "doc_id", seed = 42L)

  private def skSql(seed: Long): String =
    s"((doc_id % ${Sharding.HashMod}) * ${Sharding.HashMulA} + $seed) " +
      s"% ${Sharding.HashMod} * ${Sharding.HashMulB} % ${Sharding.HashMod}"

  val qFimSql: String =
    s"""WITH b AS (SELECT doc_id, text, length(text) AS len,
       |  coalesce((${skSql(42)}) % 100 < 90 AND length(text) >= 2, false) AS sel,
       |  1 + (${skSql(43)}) % greatest(length(text) - 1, 1) AS p1
       |  FROM documents),
       |c AS (SELECT doc_id, text, len, sel, p1,
       |  p1 + (${skSql(44)}) % greatest(len - p1 + 1, 1) AS p2,
       |  (${skSql(45)}) % 2 = 0 AS spm FROM b),
       |d AS (SELECT doc_id, sel, spm,
       |  substr(text, 1, p1::INT) AS p,
       |  substr(text, (p1 + 1)::INT, (p2 - p1)::INT) AS m,
       |  substr(text, (p2 + 1)::INT, (len - p2)::INT) AS s,
       |  text FROM c)
       |SELECT doc_id,
       |  CASE WHEN NOT sel THEN 'raw' WHEN spm THEN 'spm' ELSE 'psm' END AS mode,
       |  CASE WHEN NOT sel THEN text
       |       WHEN spm THEN '<fim_prefix><fim_suffix>' || s || '<fim_middle>' || p || m
       |       ELSE '<fim_prefix>' || p || '<fim_suffix>' || s || '<fim_middle>' || m
       |  END AS text_fim,
       |  length(CASE WHEN NOT sel THEN text
       |       WHEN spm THEN '<fim_prefix><fim_suffix>' || s || '<fim_middle>' || p || m
       |       ELSE '<fim_prefix>' || p || '<fim_suffix>' || s || '<fim_middle>' || m
       |  END)::BIGINT AS n_chars
       |FROM d""".stripMargin

  // ------------------------------------------------------ q_stream_lifecycle

  /** The REAL Structured-Streaming lifecycle under the oracle gate — the
    * same two-batch curation semantics as [[qCurationIncr]], but driven
    * through an actual micro-batch stream instead of direct processBatch
    * calls: stage batch 0 (even doc_ids) as a file in a stream input
    * dir, run `readStream → IngestCuration.run → Trigger.AvailableNow`
    * to termination against a checkpoint, then LAND LATE ROWS (the odd
    * doc_ids) as a second file and run the stream AGAIN on the same
    * checkpoint — the restarted stream discovers only the new file and
    * scores it as batch 1 against the feature state batch 0 built.
    * Output = batch 1's verdicts; the oracle is [[qCurationIncrSql]]
    * unchanged, so a hash-pass proves checkpointed restart + file-source
    * discovery + foreachBatch delta plumbing change NOTHING relative to
    * the batch formulation ("same plans under streaming", certified at
    * the driver gate rather than only in StreamSpec). */
  def qStreamLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Scratch.fresh(s, "streamlife", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val stream = Scratch.stream(s, base, docsSchema) { (src, ckpt, _) =>
      graft.streaming.IngestCuration.run(src,
        featPath = s"$base/feat", textCol = "text", idCol = "doc_id",
        targetExpr = "lang = 'en'", minRatio = 4000L,
        verdictPath = s"$base/verdicts", checkpoint = ckpt,
        updateFeatures = true)
    }
    stream.feed(docs.filter(col("doc_id") % 2 === 0))
    // late arrivals: a NEW file in the watched dir, same checkpoint
    stream.feed(docs.filter(col("doc_id") % 2 =!= 0))
    s.read.parquet(s"$base/verdicts").filter(col("batch_id") === 1)
      .select("doc_id", "n_tokens", "score", "avg_ratio", "keep", "reason")
  }

  // -------------------------------------------------------- q_curation_stats

  /** Observability face of the standing feature table: after the
    * two-batch lifecycle, the aggregated per-bucket counts read through
    * [[graft.streaming.IngestCuration.readFeatures]] must equal a direct
    * recomputation from the whole corpus — delta partitions, stamps and
    * replay plumbing must be invisible in the aggregate. */
  def qCurationStats(s: SparkSession, dir: String): DataFrame = {
    // own scratch base: this query drives its own lifecycle, so a
    // concurrently-running q_curation_incr can't clobber its state
    val base = Scratch.fresh(s, "curationstats", dir)
    curationLifecycle(s, dir, base).count() // verdicts unused here
    graft.streaming.IngestCuration.readFeatures(s, s"$base/feat")
  }

  val qCurationStatsSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |  list_reduce(list_prepend(0::BIGINT,
       |      list_transform(range(1, length(token) + 1), i -> ascii(token[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % ${TextAnalysis.FingerprintMod})
       |    % ${graft.streaming.IngestCuration.Buckets} AS b
       | FROM (SELECT doc_id, lang,
       |   unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')) AS token
       |  FROM documents) WHERE length(token) > 0)
       |SELECT b, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_target,
       |  count(*)::BIGINT AS n_raw
       |FROM t GROUP BY 1""".stripMargin

  // ---------------------------------------------- q_train_weights / predict

  /** Distributed perceptron training ([[graft.ext.Perceptron]]): 3
    * full-batch epochs learning lang='en' from hashed unigram counts,
    * all integer arithmetic. The ORACLE REPLAYS TRAINING ITSELF — each
    * epoch is one unrolled CTE block (margins → mislabeled → update →
    * accumulated weights) — so the hash-match certifies the distributed
    * trainer epoch by epoch, not just the final scores. */
  val TrainIters = 3

  def qTrainWeights(s: SparkSession, dir: String): DataFrame =
    graft.ext.Perceptron.train(Tables(s, dir, "documents"),
      "text", "doc_id", "lang = 'en'", iters = TrainIters)

  def qTrainPredict(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val w = graft.ext.Perceptron.train(docs, "text", "doc_id",
      "lang = 'en'", iters = TrainIters)
    graft.ext.Perceptron.predict(docs, "text", "doc_id", "lang = 'en'", w)
  }

  /** Shared CTE chain: features + `TrainIters` unrolled epochs. */
  private def trainCtes: String = {
    val feat =
      s"""feat AS (SELECT doc_id, y, b, count(*)::BIGINT AS n FROM (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END::BIGINT AS y,
         |    list_reduce(list_prepend(0::BIGINT,
         |        list_transform(range(1, length(token) + 1), i -> ascii(token[i])::BIGINT)),
         |      (a, c) -> (a * 31 + c) % ${TextAnalysis.FingerprintMod})
         |      % ${graft.ext.Perceptron.Dim} AS b
         |  FROM (SELECT doc_id, lang,
         |     unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')) AS token
         |    FROM documents) WHERE length(token) > 0) GROUP BY 1, 2, 3),
         |w0 AS (SELECT NULL::BIGINT AS b, NULL::BIGINT AS w WHERE false)""".stripMargin
    val iters = (1 to TrainIters).map { i =>
      s"""m$i AS (SELECT f.doc_id, f.y, sum(f.n * coalesce(p.w, 0))::BIGINT AS m
         |  FROM feat f LEFT JOIN w${i - 1} p USING (b) GROUP BY 1, 2),
         |u$i AS (SELECT b, sum(y * n)::BIGINT AS d FROM feat WHERE doc_id IN
         |  (SELECT doc_id FROM m$i WHERE (y > 0 AND m <= 0) OR (y < 0 AND m > 0))
         |  GROUP BY 1),
         |w$i AS (SELECT coalesce(a.b, c.b) AS b,
         |  (coalesce(a.w, 0) + coalesce(c.d, 0))::BIGINT AS w
         |  FROM w${i - 1} a FULL JOIN u$i c ON a.b = c.b)""".stripMargin
    }
    (feat +: iters).mkString(",\n")
  }

  val qTrainWeightsSql: String =
    s"""WITH $trainCtes
       |SELECT DISTINCT f.b, coalesce(z.w, 0)::BIGINT AS w
       |FROM feat f LEFT JOIN w$TrainIters z ON f.b = z.b""".stripMargin

  val qTrainPredictSql: String =
    s"""WITH $trainCtes,
       |wt AS (SELECT DISTINCT f.b, coalesce(z.w, 0)::BIGINT AS w
       |  FROM feat f LEFT JOIN w$TrainIters z ON f.b = z.b)
       |SELECT f.doc_id, f.y, sum(f.n * coalesce(wt.w, 0))::BIGINT AS m,
       |  sum(f.n * coalesce(wt.w, 0)) > 0 AS pred_pos,
       |  NOT ((f.y > 0 AND sum(f.n * coalesce(wt.w, 0)) <= 0) OR
       |       (f.y < 0 AND sum(f.n * coalesce(wt.w, 0)) > 0)) AS correct
       |FROM feat f LEFT JOIN wt USING (b) GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ q_sft_render

  /** SFT-data assembly: each user's event stream becomes one chat-template
    * conversation — alternating `<|user|>`/`<|assistant|>` turns in (ts,
    * event_id) order — plus the LOSS-MASK character spans covering the
    * assistant turns (what a supervised-finetuning loader masks the loss
    * to). Offsets are cumulative segment lengths (integers), reassembly is
    * array_sort/array_join over collected turn structs — deterministic,
    * expression-only, and per-group state is one conversation, never the
    * corpus. Spans are emitted as JSON (nested arrays break the driver's
    * comparator). */
  /** (user_id, n_turns, rendered, spans: array<array<bigint>>) — shared by
    * the render and pack queries. */
  private def conversations(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("props"))
      .withColumn("rn", row_number().over(w))
      .withColumn("seg", concat(
        when(col("rn") % 2 === 1, lit("<|user|>")).otherwise(lit("<|assistant|>")),
        col("event_type"), lit(" "), col("props"), lit("<|end|>")))
      .withColumn("cum", coalesce(
        sum(length(col("seg")).cast("long")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    e.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_turns"),
        array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("seg")))),
          s => s.getField("seg")), "").as("rendered"),
        transform(
          filter(array_sort(collect_list(struct(col("rn"), col("cum"), col("seg")))),
            s => s.getField("rn") % 2 === 0),
          s => array(s.getField("cum"),
            s.getField("cum") + length(s.getField("seg")).cast("long")))
          .as("spans"))
  }

  def qSftRender(s: SparkSession, dir: String): DataFrame =
    conversations(s, dir).select(col("user_id"), col("n_turns"),
      col("rendered"), to_json(col("spans")).as("mask_spans"))

  val qSftRenderSql: String =
    """WITH e AS (SELECT user_id, event_type, props,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      | FROM events),
      |t AS (SELECT user_id, rn,
      |  (CASE WHEN rn % 2 = 1 THEN '<|user|>' ELSE '<|assistant|>' END
      |   || event_type || ' ' || props || '<|end|>') AS seg FROM e),
      |c AS (SELECT user_id, rn, seg,
      |  coalesce(sum(length(seg)) OVER (PARTITION BY user_id ORDER BY rn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
      | FROM t)
      |SELECT user_id, count(*)::BIGINT AS n_turns,
      |  string_agg(seg, '' ORDER BY rn) AS rendered,
      |  to_json(coalesce(list([cum, cum + length(seg)::BIGINT] ORDER BY rn)
      |    FILTER (WHERE rn % 2 = 0), [])) AS mask_spans
      |FROM c GROUP BY user_id""".stripMargin

  // -------------------------------------------------------------- q_sft_pack

  /** Conversation packing for SFT: whole conversations (never split)
    * concatenate into ~2000-char bins, and every conversation's loss-mask
    * spans are REBASED by its offset inside the bin — the packed sample's
    * mask is exactly the union of its members' masks. Same scale shape as
    * sequence packing: hash-sharded, per-shard cumulative window, per-bin
    * offset window (bounded by a bin, never the corpus). */
  def qSftPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2000L
    val conv = conversations(s, dir)
      .withColumn("len", length(col("rendered")).cast("long"))
      .withColumn("shard", pmod(col("user_id"), lit(4L)))
    val ws = Window.partitionBy("shard").orderBy("user_id")
    val assigned = conv
      .withColumn("start", coalesce(sum(col("len")).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq", expr(s"start div $budget"))
      .withColumn("off", col("start") - min(col("start")).over(
        Window.partitionBy("shard", "seq")))
    assigned.groupBy("shard", "seq")
      .agg(
        count(lit(1)).as("n_convs"),
        sum("len").as("n_chars"),
        array_join(transform(
          array_sort(collect_list(struct(col("user_id"), col("rendered")))),
          s => s.getField("rendered")), "").as("text"),
        to_json(flatten(transform(
          array_sort(collect_list(struct(col("user_id"), col("off"), col("spans")))),
          s => transform(s.getField("spans"),
            sp => array(element_at(sp, 1) + s.getField("off"),
              element_at(sp, 2) + s.getField("off"))))))
          .as("mask_spans"))
  }

  val qSftPackSql: String =
    """WITH e AS (SELECT user_id, event_type, props,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      | FROM events),
      |t AS (SELECT user_id, rn,
      |  (CASE WHEN rn % 2 = 1 THEN '<|user|>' ELSE '<|assistant|>' END
      |   || event_type || ' ' || props || '<|end|>') AS seg FROM e),
      |c AS (SELECT user_id, rn, seg,
      |  coalesce(sum(length(seg)) OVER (PARTITION BY user_id ORDER BY rn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
      | FROM t),
      |conv AS (SELECT user_id,
      |  string_agg(seg, '' ORDER BY rn) AS rendered,
      |  list([cum, cum + length(seg)::BIGINT] ORDER BY rn)
      |    FILTER (WHERE rn % 2 = 0) AS spans
      | FROM c GROUP BY user_id),
      |sh AS (SELECT user_id, rendered, coalesce(spans, []) AS spans,
      |  length(rendered)::BIGINT AS len, user_id % 4 AS shard FROM conv),
      |a AS (SELECT *, coalesce(sum(len) OVER (PARTITION BY shard ORDER BY user_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
      | FROM sh),
      |b AS (SELECT *, (start // 2000)::BIGINT AS seq FROM a),
      |o AS (SELECT *, (start - min(start) OVER (PARTITION BY shard, seq))::BIGINT AS off
      | FROM b)
      |SELECT shard, seq, count(*)::BIGINT AS n_convs, sum(len)::BIGINT AS n_chars,
      |  string_agg(rendered, '' ORDER BY user_id) AS text,
      |  to_json(flatten(list(list_transform(spans, sp -> [sp[1] + off, sp[2] + off])
      |    ORDER BY user_id))) AS mask_spans
      |FROM o GROUP BY shard, seq""".stripMargin

  // ------------------------------------------------ q_pref_pairs / q_bestof_n

  /** DPO preference-pair prep over the events stream: a prompt is the
    * (user_id, event_type) group, its events are the scored candidate
    * responses, chosen/rejected are the score extremes, and only pairs
    * whose margin clears 200 survive (≈20% of groups at the gate sf —
    * weak preferences make noisy DPO labels). One hash aggregate; see
    * graft.ext.Preference for the 100 TB argument. */
  def qPrefPairs(s: SparkSession, dir: String): DataFrame =
    graft.ext.Preference.pairs(Tables.events(s, dir),
      Seq("user_id", "event_type"), "event_id", "value", minMargin = 200.0)
      .select(col("user_id"), col("event_type"), col("n_candidates"),
        col("chosen_id"), col("chosen_score"),
        col("rejected_id"), col("rejected_score"), col("margin"))

  val qPrefPairsSql: String =
    """WITH r AS (SELECT user_id, event_type, event_id, value,
      |  row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY value DESC, event_id ASC) AS rb,
      |  row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY value ASC, event_id ASC) AS rw,
      |  count(*) OVER (PARTITION BY user_id, event_type) AS nc
      | FROM events WHERE value IS NOT NULL)
      |SELECT b.user_id, b.event_type, b.nc::BIGINT AS n_candidates,
      |  b.event_id AS chosen_id, b.value AS chosen_score,
      |  w.event_id AS rejected_id, w.value AS rejected_score,
      |  b.value - w.value AS margin
      |FROM (SELECT * FROM r WHERE rb = 1) b
      |JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id, event_type)
      |WHERE b.nc >= 2 AND b.value - w.value >= 200.0
      |  AND b.event_id <> w.event_id""".stripMargin

  /** Best-of-4 rejection sampling: each user's events in event_id order
    * bucket into consecutive batches of 4 (one sampling round each); the
    * batch winner, the batch's exact mean score, and the winner's uplift
    * over it are what a rejection-sampling curriculum selects and
    * monitors on. Bounded window + one hash aggregate. */
  def qBestofN(s: SparkSession, dir: String): DataFrame =
    graft.ext.Preference.bestOfN(Tables.events(s, dir),
      Seq("user_id"), "event_id", "value", n = 4)
      .select(col("user_id"), col("batch"), col("n_in_batch"),
        col("best_id"), col("best_score"), col("pool_avg"), col("uplift"))

  val qBestofNSql: String =
    s"""WITH r AS (SELECT user_id, event_id, value,
       |  ((row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1)
       |    // 4)::BIGINT AS batch
       | FROM events WHERE value IS NOT NULL),
       |b AS (SELECT user_id, batch, count(*)::BIGINT AS n_in_batch,
       |  max(value) AS best_score,
       |  ${Oracle.sqlAvg("value")} AS pool_avg
       | FROM r GROUP BY 1, 2),
       |wn AS (SELECT user_id, batch, event_id AS best_id,
       |  row_number() OVER (PARTITION BY user_id, batch
       |    ORDER BY value DESC, event_id ASC) AS rn FROM r)
       |SELECT b.user_id, b.batch, b.n_in_batch, wn.best_id, b.best_score,
       |  b.pool_avg, b.best_score - b.pool_avg AS uplift
       |FROM b JOIN wn ON b.user_id = wn.user_id AND b.batch = wn.batch
       |  AND wn.rn = 1""".stripMargin

  // ------------------------------------------------------------ q_bt_ratings

  /** Bradley–Terry ratings over the preference graph: each user group's
    * strongest preference (best vs worst event, margin ≥ 100, distinct
    * types) is one pairwise outcome between event TYPES; three MM
    * iterations rate the types. The oracle replays the entire fit —
    * comparison extraction, symmetric edge list, and all three unrolled
    * MM updates with the quantized exact sum — so the ratings themselves
    * are hash-certified. Rank is the scale-safe two-phase row_number
    * (`exec/Ranks.scala`), bit-identical to the oracle's window. */
  /** One pairwise outcome per user group — best vs worst event (margin
    * ≥ 100, distinct types) — aggregated to the directed outcome table
    * (winner, loser, n). Shared by the BT rating / calibration / cycle
    * queries. */
  private def prefOutcomes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("nc"),
        expr("max_by(event_type, struct(value, -event_id))").as("winner"),
        max(col("value")).as("bv"),
        expr("min_by(event_type, struct(value, event_id))").as("loser"),
        min(col("value")).as("wv"))
      .filter(col("nc") >= 2 && col("bv") - col("wv") >= 100.0 &&
        col("winner") =!= col("loser"))
      .select("user_id", "winner", "loser")

  private def prefComparisons(s: SparkSession, dir: String): DataFrame =
    prefOutcomes(s, dir)
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))

  def qBtRatings(s: SparkSession, dir: String): DataFrame = {
    val comp = prefComparisons(s, dir)
    val rated = graft.ext.Preference.btRatings(comp, iters = 3)
      .withColumn("rating_q6", Oracle.q6(col("gamma")))
    graft.exec.Ranks.globalRowNumber(rated,
        Seq(col("gamma").desc, col("item").asc), out = "rank")
      .select(col("item"), col("n_wins"), col("n_comparisons"),
        col("rating_q6"), col("rank"))
  }

  private def btMmIter(prev: String): String =
    s"""SELECT s.i AS item, wi.w / (CAST(sum(CAST(floor(
       |    s.n / (gi.gamma + gj.gamma) * 10000000.0 + 0.5)
       |    AS DECIMAL(27,0))) AS DOUBLE) / 10000000.0) AS gamma
       |  FROM sym s JOIN $prev gi ON s.i = gi.item
       |  JOIN $prev gj ON s.j = gj.item
       |  JOIN wins wi ON wi.item = s.i GROUP BY s.i, wi.w""".stripMargin

  /** Shared oracle CTEs: comparison extraction + symmetric edge list.
    * `extraPred` masks outcomes after extraction — the item-withdrawal
    * read path of the standing matrix (edges touching a tombstoned item
    * die as whole (winner, loser) groups, so filtering the per-user rows
    * before GROUP BY is identical to masking the aggregated edges). */
  private def btCompCteWhere(extraPred: String): String =
    s"""r AS (SELECT user_id, event_type, event_id, value,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY value DESC, event_id ASC) AS rb,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY value ASC, event_id ASC) AS rw,
       |  count(*) OVER (PARTITION BY user_id) AS nc
       | FROM events WHERE value IS NOT NULL),
       |comp AS (SELECT b.event_type AS winner, w.event_type AS loser,
       |  count(*)::BIGINT AS n
       | FROM (SELECT * FROM r WHERE rb = 1) b
       | JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id)
       | WHERE b.nc >= 2 AND b.value - w.value >= 100.0
       |   AND b.event_type <> w.event_type$extraPred
       | GROUP BY 1, 2),
       |sym AS (SELECT i, j, sum(n)::BIGINT AS n FROM (
       |  SELECT winner AS i, loser AS j, n FROM comp
       |  UNION ALL SELECT loser AS i, winner AS j, n FROM comp)
       | GROUP BY 1, 2)""".stripMargin

  private val btCompCte: String = btCompCteWhere("")

  /** Shared oracle CTEs: the unrolled three-iteration MM fit. */
  private lazy val btFitCtes: String =
    s"""items AS (SELECT DISTINCT i AS item FROM sym),
       |wins AS (SELECT it.item, coalesce(sum(c.n), 0)::BIGINT AS w
       | FROM items it LEFT JOIN comp c ON c.winner = it.item GROUP BY 1),
       |tot AS (SELECT i AS item, sum(n)::BIGINT AS n_comparisons
       | FROM sym GROUP BY 1),
       |g0 AS (SELECT item, 1.0::DOUBLE AS gamma FROM items),
       |g1 AS (${btMmIter("g0")}),
       |g2 AS (${btMmIter("g1")}),
       |g3 AS (${btMmIter("g2")})""".stripMargin

  /** Shared oracle CTEs: per unordered pair, each direction's win count. */
  private val btPairsCte: String =
    """up AS (SELECT DISTINCT i AS a, j AS b FROM sym WHERE i < j),
      |pairs AS (SELECT up.a, up.b, coalesce(cf.n, 0)::BIGINT AS naw,
      |  coalesce(cb.n, 0)::BIGINT AS nbw
      | FROM up LEFT JOIN comp cf ON cf.winner = up.a AND cf.loser = up.b
      | LEFT JOIN comp cb ON cb.winner = up.b AND cb.loser = up.a)""".stripMargin

  val qBtRatingsSql: String =
    s"""WITH $btCompCte,
       |$btFitCtes
       |SELECT g3.item, wi.w AS n_wins, tot.n_comparisons,
       |  ${Oracle.sqlQ6("g3.gamma")} AS rating_q6,
       |  row_number() OVER (ORDER BY g3.gamma DESC, g3.item ASC)::BIGINT
       |    AS rank
       |FROM g3 JOIN wins wi USING (item) JOIN tot USING (item)""".stripMargin

  // ---------------------------------------------------------------- q_bt_ci

  /** Bootstrap 95% confidence intervals for the Bradley–Terry
    * leaderboard — the number an Arena-style ranking is dishonest
    * without: point strengths from sparse pairwise data mislead exactly
    * when the interval is wide. 100 deterministic replicates resample
    * each directed edge count as round(N(n, n)) clipped at 0 (the
    * large-count limit of the Poisson count bootstrap), refit the full
    * 3-iteration MM per replicate, and take the 3rd/98th order
    * statistics per item. Every draw is a pure hash of (winner, loser,
    * replicate) against a literal z-quantile table (the NDCG
    * discount-table discipline — no engine-side transcendentals), so
    * the oracle replays all 100 refits bit-identically.
    *
    * Scale shape: the replicate table is K² × 100 rows (K = rated
    * items) — independent of judgment volume, which enters only through
    * the aggregated counts. See [[graft.ext.Preference.btBootstrapCi]].
    */
  def qBtCi(s: SparkSession, dir: String): DataFrame = {
    val comp = prefComparisons(s, dir).localCheckpoint()
    val point = graft.ext.Preference.btRatings(comp, iters = 3)
    val ci = graft.ext.Preference.btBootstrapCi(comp, iters = 3,
      reps = 100, loRank = 3, hiRank = 98)
    point.join(ci, Seq("item"))
      .select(col("item"), col("n_wins"), col("n_comparisons"),
        Oracle.q6(col("gamma")).as("rating_q6"),
        Oracle.q6(col("lo")).as("lo_q6"),
        Oracle.q6(col("hi")).as("hi_q6"),
        Oracle.q6(col("hi") - col("lo")).as("width_q6"))
  }

  /** The z-quantile literal table, rendered from the SAME Scala constant
    * the engine uses — identical literals on both sides by construction. */
  private lazy val ztValuesSql: String =
    graft.ext.Preference.ZTable.zipWithIndex
      .map { case (z, i) => s"($i, CAST($z AS DOUBLE))" }.mkString(",\n  ")

  /** One unrolled grouped BT MM iteration over caller-named edge/wins
    * CTEs — the same arithmetic serves replicate grids (symb/winsb),
    * window grids, and composite window×replicate grids. */
  private def btMmIterGroupedOn(prev: String, sym: String,
                                wins: String): String =
    s"""SELECT s.i AS item, s.b, wi.w / (CAST(sum(CAST(floor(
       |    s.n / (gi.gamma + gj.gamma) * 10000000.0 + 0.5)
       |    AS DECIMAL(27,0))) AS DOUBLE) / 10000000.0) AS gamma
       |  FROM $sym s JOIN $prev gi ON s.i = gi.item AND s.b = gi.b
       |  JOIN $prev gj ON s.j = gj.item AND s.b = gj.b
       |  JOIN $wins wi ON wi.item = s.i AND wi.b = s.b
       |  GROUP BY s.i, s.b, wi.w""".stripMargin

  private def btMmIterGrouped(prev: String): String =
    btMmIterGroupedOn(prev, "symb", "winsb")

  val qBtCiSql: String =
    s"""WITH $btCompCte,
       |$btFitCtes,
       |zt AS (SELECT * FROM (VALUES $ztValuesSql) t(zb, z)),
       |reps AS (SELECT unnest(range(0, 100))::BIGINT AS b),
       |sh AS (SELECT item, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(1, length(lower(trim(item))) + 1),
       |      i -> ascii(lower(trim(item))[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % 1000000007) AS h FROM items),
       |draws AS (SELECT r.b, c.winner, c.loser,
       |  greatest(0, CAST(floor(CAST(c.n AS DOUBLE)
       |    + sqrt(CAST(c.n AS DOUBLE)) * zt.z + CAST(0.5 AS DOUBLE))
       |    AS BIGINT)) AS n
       | FROM comp c
       | JOIN sh hw ON hw.item = c.winner
       | JOIN sh hl ON hl.item = c.loser
       | CROSS JOIN reps r
       | JOIN zt ON zt.zb = (((((hw.h * 31 + hl.h) % 1000000007) * 131071
       |    + r.b) % 1000000007) * 2654435761) % 250),
       |dcomp AS (SELECT * FROM draws WHERE n > 0),
       |symb AS (SELECT b, i, j, sum(n)::BIGINT AS n FROM (
       |  SELECT b, winner AS i, loser AS j, n FROM dcomp
       |  UNION ALL SELECT b, loser AS i, winner AS j, n FROM dcomp)
       | GROUP BY 1, 2, 3),
       |itemsb AS (SELECT it.item, r.b FROM items it CROSS JOIN reps r),
       |winsb AS (SELECT ib.item, ib.b, coalesce(sum(d.n), 0)::BIGINT AS w
       | FROM itemsb ib LEFT JOIN dcomp d ON d.winner = ib.item AND d.b = ib.b
       | GROUP BY 1, 2),
       |bg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM itemsb),
       |bg1 AS (${btMmIterGrouped("bg0")}),
       |bg2 AS (${btMmIterGrouped("bg1")}),
       |bg3 AS (${btMmIterGrouped("bg2")}),
       |bfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM itemsb ib LEFT JOIN bg3 g ON g.item = ib.item AND g.b = ib.b),
       |ranked AS (SELECT item, b, gamma,
       |  row_number() OVER (PARTITION BY item ORDER BY gamma ASC, b ASC) AS rn
       | FROM bfin),
       |ci AS (SELECT item, max(CASE WHEN rn = 3 THEN gamma END) AS lo,
       |  max(CASE WHEN rn = 98 THEN gamma END) AS hi FROM ranked GROUP BY 1)
       |SELECT g3.item, wi.w AS n_wins, tot.n_comparisons,
       |  ${Oracle.sqlQ6("g3.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("ci.lo")} AS lo_q6,
       |  ${Oracle.sqlQ6("ci.hi")} AS hi_q6,
       |  ${Oracle.sqlQ6("ci.hi - ci.lo")} AS width_q6
       |FROM g3 JOIN wins wi USING (item) JOIN tot USING (item)
       |JOIN ci USING (item)""".stripMargin

  // ------------------------------------------------------ q_bt_ratings_ties

  /** Per user group: the best-vs-worst outcome with its decision flag —
    * margin >= 200 is a decided win, a smaller margin between DISTINCT
    * types is a DRAW (the judgment saw no meaningful difference). The
    * tie-aware twin of [[prefOutcomes]]. */
  private def prefOutcomesTies(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("nc"),
        expr("max_by(event_type, struct(value, -event_id))").as("winner"),
        max(col("value")).as("bv"),
        expr("min_by(event_type, struct(value, event_id))").as("loser"),
        min(col("value")).as("wv"))
      .filter(col("nc") >= 2 && col("winner") =!= col("loser"))
      .select(col("user_id"), col("winner"), col("loser"),
        (col("bv") - col("wv") >= 200.0).as("decided"))

  /** Tie-aware Bradley–Terry leaderboard (Rao–Kupper model): draws —
    * user groups whose best/worst margin is under the decision
    * threshold — are first-class observations instead of being thrown
    * away, and the fitted tie parameter theta quantifies how much draw
    * mass the tournament carries. Three MM iterations
    * ([[graft.ext.Preference.rkRatings]]); the oracle replays the FULL
    * fit — augmented edge list, both per-item sums, and the closed-form
    * theta update with its IEEE-exact sqrt — so ratings AND theta are
    * hash-certified. */
  def qBtRatingsTies(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
    val tie = o.filter(!col("decided"))
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val rated = graft.ext.Preference.rkRatings(comp, tie, iters = 3)
      .withColumn("rating_q6", Oracle.q6(col("gamma")))
      .withColumn("theta_q6", Oracle.q6(col("theta")))
    graft.exec.Ranks.globalRowNumber(rated,
        Seq(col("gamma").desc, col("item").asc), out = "rank")
      .select(col("item"), col("n_wins"), col("n_ties"),
        col("n_comparisons"), col("rating_q6"), col("theta_q6"), col("rank"))
  }

  private def rkQsum(v: String): String =
    s"CAST(sum(CAST(floor(($v) * 10000000.0 + 0.5) AS DECIMAL(27,0))) " +
      "AS DOUBLE) / 10000000.0"

  /** One unrolled Rao–Kupper MM iteration: the per-item sum over both
    * directed roles, the gamma update, then C and the closed-form theta
    * root — every accumulation through the quantized exact sum. */
  private def rkIterCtes(k: Int): String = {
    val gp = s"rg${k - 1}"; val tp = s"rt${k - 1}"
    s"""rs$k AS MATERIALIZED (SELECT item, ${rkQsum("v")} AS s FROM (
       |  SELECT d.i AS item, d.a / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM adir d JOIN $gp gi ON d.i = gi.item
       |   JOIN $gp gj ON d.j = gj.item CROSS JOIN $tp th
       |  UNION ALL
       |  SELECT d.j AS item, d.a * th.t / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM adir d JOIN $gp gi ON d.i = gi.item
       |   JOIN $gp gj ON d.j = gj.item CROSS JOIN $tp th)
       | GROUP BY item),
       |rg$k AS MATERIALIZED (SELECT a.item, a.A / s.s AS gamma
       |  FROM bigA a JOIN rs$k s USING (item)),
       |rc$k AS MATERIALIZED (SELECT ${rkQsum("v")} AS c FROM (
       |  SELECT (d.a * gj.gamma) / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM adir d JOIN rg$k gi ON d.i = gi.item
       |   JOIN rg$k gj ON d.j = gj.item CROSS JOIN $tp th)),
       |rt$k AS MATERIALIZED (SELECT CASE WHEN c.c > 0 THEN (CAST(tt.T AS DOUBLE)
       |    + sqrt(CAST(tt.T AS DOUBLE) * CAST(tt.T AS DOUBLE) + c.c * c.c))
       |    / c.c ELSE CAST(1.0 AS DOUBLE) END AS t
       |  FROM rc$k c CROSS JOIN tt)""".stripMargin
  }

  /** Shared oracle CTEs: tie-aware outcome extraction only (per-user
    * rows, decided/draw split, win + tie count matrices) — the front
    * half of [[rkFitCtesWhere]], also used by pair-level reports that
    * need the matrices without the fit. `extraPred` masks per-user
    * outcomes exactly like [[btCompCteWhere]]. */
  private def rkCompCtesWhere(extraPred: String): String =
    s"""r AS MATERIALIZED (SELECT user_id, event_type, event_id, value,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY value DESC, event_id ASC) AS rb,
       |  row_number() OVER (PARTITION BY user_id
       |    ORDER BY value ASC, event_id ASC) AS rw,
       |  count(*) OVER (PARTITION BY user_id) AS nc
       | FROM events WHERE value IS NOT NULL),
       |o AS MATERIALIZED (SELECT b.user_id, b.event_type AS winner, w.event_type AS loser,
       |  (b.value - w.value >= 200.0) AS decided
       | FROM (SELECT * FROM r WHERE rb = 1) b
       | JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id)
       | WHERE b.nc >= 2 AND b.event_type <> w.event_type$extraPred),
       |comp AS MATERIALIZED (SELECT winner, loser, count(*)::BIGINT AS n FROM o
       | WHERE decided GROUP BY 1, 2),
       |tcomp AS MATERIALIZED (SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
       |  count(*)::BIGINT AS n FROM o WHERE NOT decided GROUP BY 1, 2)""".stripMargin

  /** Shared oracle CTEs: tie-aware outcome extraction + augmented edge
    * list + the 3-iteration unrolled Rao–Kupper fit. `extraPred` masks
    * per-user outcomes exactly like [[btCompCteWhere]]. */
  private def rkFitCtesWhere(extraPred: String): String =
    s"""${rkCompCtesWhere(extraPred)},
       |adir AS MATERIALIZED (SELECT i, j, sum(n)::BIGINT AS a FROM (
       |  SELECT winner AS i, loser AS j, n FROM comp
       |  UNION ALL SELECT a AS i, b AS j, n FROM tcomp
       |  UNION ALL SELECT b AS i, a AS j, n FROM tcomp) GROUP BY 1, 2),
       |items AS MATERIALIZED (SELECT DISTINCT item FROM (
       |  SELECT i AS item FROM adir UNION ALL SELECT j AS item FROM adir)),
       |bigA AS MATERIALIZED (SELECT it.item, coalesce(sum(d.a), 0)::BIGINT AS A
       | FROM items it LEFT JOIN adir d ON d.i = it.item GROUP BY 1),
       |tt AS (SELECT coalesce(sum(n), 0)::BIGINT AS T FROM tcomp),
       |wins AS (SELECT winner AS item, sum(n)::BIGINT AS w FROM comp GROUP BY 1),
       |losses AS (SELECT loser AS item, sum(n)::BIGINT AS l FROM comp GROUP BY 1),
       |tby AS (SELECT item, sum(n)::BIGINT AS t FROM (
       |  SELECT a AS item, n FROM tcomp UNION ALL SELECT b AS item, n FROM tcomp)
       | GROUP BY 1),
       |rg0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS gamma FROM items),
       |rt0 AS (SELECT CAST(1.0 AS DOUBLE) AS t),
       |${rkIterCtes(1)},
       |${rkIterCtes(2)},
       |${rkIterCtes(3)}""".stripMargin

  private val rkFinalSelect: String =
    s"""SELECT g.item, coalesce(wi.w, 0)::BIGINT AS n_wins,
       |  coalesce(tb.t, 0)::BIGINT AS n_ties,
       |  (coalesce(wi.w, 0) + coalesce(tb.t, 0) + coalesce(lo.l, 0))::BIGINT
       |    AS n_comparisons,
       |  ${Oracle.sqlQ6("g.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("th.t")} AS theta_q6,
       |  row_number() OVER (ORDER BY g.gamma DESC, g.item ASC)::BIGINT AS rank
       |FROM rg3 g CROSS JOIN rt3 th
       |LEFT JOIN wins wi ON wi.item = g.item
       |LEFT JOIN tby tb ON tb.item = g.item
       |LEFT JOIN losses lo ON lo.item = g.item""".stripMargin

  val qBtRatingsTiesSql: String =
    s"""WITH ${rkFitCtesWhere("")}
       |$rkFinalSelect""".stripMargin

  // -------------------------------------------------------- q_bt_ci_ties

  /** Bootstrap 95% CIs for the TIE-AWARE leaderboard — the round's two
    * honesty pieces composed: both the win matrix and the tie matrix
    * resample under the deterministic count draw (different mix primes
    * decorrelate them), the full Rao–Kupper MM refits per replicate
    * with theta carried as a per-replicate COLUMN, and order statistics
    * return intervals for every item's strength AND for theta — the
    * draw-mass parameter's uncertainty is part of an honest arena
    * report. Fully oracle-replayed ([[graft.ext.Preference.rkBootstrapCi]]). */
  def qBtCiTies(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tie = o.filter(!col("decided"))
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val point = graft.ext.Preference.rkRatings(comp, tie, iters = 3)
    val ci = graft.ext.Preference.rkBootstrapCi(comp, tie, iters = 3,
      reps = 100, loRank = 3, hiRank = 98)
    point.join(ci, Seq("item"))
      .select(col("item"), col("n_wins"), col("n_ties"), col("n_comparisons"),
        Oracle.q6(col("gamma")).as("rating_q6"),
        Oracle.q6(col("lo")).as("lo_q6"),
        Oracle.q6(col("hi")).as("hi_q6"),
        Oracle.q6(col("theta")).as("theta_q6"),
        Oracle.q6(col("theta_lo")).as("theta_lo_q6"),
        Oracle.q6(col("theta_hi")).as("theta_hi_q6"))
  }

  /** One unrolled GROUPED Rao–Kupper iteration for the bootstrap: the
    * per-(replicate, item) sum over both roles, the gamma update, the
    * per-replicate C, and the closed-form theta root — replicate id in
    * every key, theta a per-replicate row. */
  private def rkBootIterCtes(k: Int): String =
    rkIterCtesOn(k, "b", "badir", "bA", "btt", "reps")

  /** One grouped Rao-Kupper MM iteration as CTEs, parameterized on the
    * CTE name prefix and the source tables, so one query can run TWO
    * independent grouped fits (q_rk_drift_ci: the per-window point fit
    * AND the windows×replicates bootstrap fit) without name
    * collisions. Emits `<p>s<k> / <p>g<k> / <p>c<k> / <p>th<k>` from
    * `<p>g<k-1> / <p>th<k-1>`. */
  private def rkIterCtesOn(k: Int, p: String, adir: String, bigA: String,
                           tt: String, groups: String): String = {
    val gp = s"${p}g${k - 1}"; val tp = s"${p}th${k - 1}"
    s"""${p}s$k AS MATERIALIZED (SELECT b, item, ${rkQsum("v")} AS s FROM (
       |  SELECT d.b, d.i AS item, d.a / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM $adir d JOIN $gp gi ON d.i = gi.item AND d.b = gi.b
       |   JOIN $gp gj ON d.j = gj.item AND d.b = gj.b
       |   JOIN $tp th ON th.b = d.b
       |  UNION ALL
       |  SELECT d.b, d.j AS item, d.a * th.t / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM $adir d JOIN $gp gi ON d.i = gi.item AND d.b = gi.b
       |   JOIN $gp gj ON d.j = gj.item AND d.b = gj.b
       |   JOIN $tp th ON th.b = d.b)
       | GROUP BY b, item),
       |${p}g$k AS MATERIALIZED (SELECT a.item, a.b, a.A / s.s AS gamma
       |  FROM $bigA a JOIN ${p}s$k s ON s.item = a.item AND s.b = a.b),
       |${p}c$k AS MATERIALIZED (SELECT d.b, ${rkQsum("v")} AS c FROM (
       |  SELECT d.b, (d.a * gj.gamma) / (gi.gamma + th.t * gj.gamma) AS v
       |   FROM $adir d JOIN ${p}g$k gi ON d.i = gi.item AND d.b = gi.b
       |   JOIN ${p}g$k gj ON d.j = gj.item AND d.b = gj.b
       |   JOIN $tp th ON th.b = d.b) d
       | GROUP BY d.b),
       |${p}th$k AS MATERIALIZED (SELECT r.b,
       |  CASE WHEN c.c > 0 THEN (CAST(tt.T AS DOUBLE)
       |    + sqrt(CAST(tt.T AS DOUBLE) * CAST(tt.T AS DOUBLE) + c.c * c.c))
       |    / c.c ELSE CAST(1.0 AS DOUBLE) END AS t
       |  FROM $groups r LEFT JOIN ${p}c$k c ON c.b = r.b
       |  JOIN $tt tt ON tt.b = r.b)""".stripMargin
  }

  private def bootDrawCte(name: String, src: String, xCol: String,
                          yCol: String, mix: Long): String =
    s"""$name AS MATERIALIZED (SELECT r.b, c.$xCol AS x, c.$yCol AS y,
       |  greatest(0, CAST(floor(CAST(c.n AS DOUBLE)
       |    + sqrt(CAST(c.n AS DOUBLE)) * zt.z + CAST(0.5 AS DOUBLE))
       |    AS BIGINT)) AS n
       | FROM $src c
       | JOIN shx hx ON hx.item = c.$xCol
       | JOIN shx hy ON hy.item = c.$yCol
       | CROSS JOIN reps r
       | JOIN zt ON zt.zb = (((((hx.h * 31 + hy.h) % 1000000007) * $mix
       |    + r.b) % 1000000007) * 2654435761) % 250)""".stripMargin

  val qBtCiTiesSql: String =
    s"""WITH ${rkFitCtesWhere("")},
       |zt AS (SELECT * FROM (VALUES $ztValuesSql) t(zb, z)),
       |reps AS (SELECT unnest(range(0, 100))::BIGINT AS b),
       |shx AS MATERIALIZED (SELECT item, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(1, length(lower(trim(item))) + 1),
       |      i -> ascii(lower(trim(item))[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % 1000000007) AS h FROM items),
       |${bootDrawCte("wdraw0", "comp", "winner", "loser", 131071L)},
       |${bootDrawCte("tdraw0", "tcomp", "a", "b", 524287L)},
       |wdraw AS (SELECT * FROM wdraw0 WHERE n > 0),
       |tdraw AS (SELECT * FROM tdraw0 WHERE n > 0),
       |badir AS MATERIALIZED (SELECT b, i, j, sum(n)::BIGINT AS a FROM (
       |  SELECT b, x AS i, y AS j, n FROM wdraw
       |  UNION ALL SELECT b, x AS i, y AS j, n FROM tdraw
       |  UNION ALL SELECT b, y AS i, x AS j, n FROM tdraw)
       | GROUP BY 1, 2, 3),
       |bitems AS (SELECT it.item, r.b FROM items it CROSS JOIN reps r),
       |bA AS MATERIALIZED (SELECT ib.item, ib.b,
       |  coalesce(sum(d.a), 0)::BIGINT AS A
       | FROM bitems ib LEFT JOIN badir d ON d.i = ib.item AND d.b = ib.b
       | GROUP BY 1, 2),
       |btt AS MATERIALIZED (SELECT r.b, coalesce(sum(t.n), 0)::BIGINT AS T
       | FROM reps r LEFT JOIN tdraw t ON t.b = r.b GROUP BY 1),
       |bg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM bitems),
       |bth0 AS (SELECT b, CAST(1.0 AS DOUBLE) AS t FROM reps),
       |${rkBootIterCtes(1)},
       |${rkBootIterCtes(2)},
       |${rkBootIterCtes(3)},
       |bfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM bitems ib LEFT JOIN bg3 g ON g.item = ib.item AND g.b = ib.b),
       |branked AS (SELECT item, b, gamma,
       |  row_number() OVER (PARTITION BY item ORDER BY gamma ASC, b ASC) AS rn
       | FROM bfin),
       |bci AS (SELECT item, max(CASE WHEN rn = 3 THEN gamma END) AS lo,
       |  max(CASE WHEN rn = 98 THEN gamma END) AS hi FROM branked GROUP BY 1),
       |thr AS (SELECT t, row_number() OVER (ORDER BY t ASC, b ASC) AS rn
       | FROM bth3),
       |thci AS (SELECT max(CASE WHEN rn = 3 THEN t END) AS tlo,
       |  max(CASE WHEN rn = 98 THEN t END) AS thi FROM thr)
       |SELECT g.item, coalesce(wi.w, 0)::BIGINT AS n_wins,
       |  coalesce(tb.t, 0)::BIGINT AS n_ties,
       |  (coalesce(wi.w, 0) + coalesce(tb.t, 0) + coalesce(lo.l, 0))::BIGINT
       |    AS n_comparisons,
       |  ${Oracle.sqlQ6("g.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("bci.lo")} AS lo_q6,
       |  ${Oracle.sqlQ6("bci.hi")} AS hi_q6,
       |  ${Oracle.sqlQ6("th.t")} AS theta_q6,
       |  ${Oracle.sqlQ6("thci.tlo")} AS theta_lo_q6,
       |  ${Oracle.sqlQ6("thci.thi")} AS theta_hi_q6
       |FROM rg3 g CROSS JOIN rt3 th CROSS JOIN thci
       |JOIN bci ON bci.item = g.item
       |LEFT JOIN wins wi ON wi.item = g.item
       |LEFT JOIN tby tb ON tb.item = g.item
       |LEFT JOIN losses lo ON lo.item = g.item""".stripMargin

  // ----------------------------------------------------- q_rk_calibration

  /** Calibration of the RAO-KUPPER fit — the tie-aware twin of
    * q_bt_calibration: per unordered pair, the model's predicted WIN
    * probability γ_a/(γ_a + θγ_b) and predicted TIE probability
    * (θ²−1)γ_aγ_b / ((γ_a + θγ_b)(γ_b + θγ_a)) against the empirical
    * rates, with absolute errors for both — a tie model that predicts
    * the right winners but the wrong draw mass fails here. Every number
    * hash-certified: the oracle replays the full fit and the pair
    * bookkeeping. K²-bounded pair table, K-row fit — broadcast joins. */
  def qRkCalibration(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tie = o.filter(!col("decided"))
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val fit = graft.ext.Preference.rkRatings(comp, tie, iters = 3)
      .localCheckpoint()
    // coalesce to the plain-BT limit: an empty fit must yield an empty
    // calibration table downstream, not an NPE on the null aggregate
    val theta = fit.agg(coalesce(max(col("theta")), lit(1.0)))
      .head.getDouble(0)
    val up = comp.select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .unionAll(tie.select(col("a"), col("b")))
      .distinct()
    val pcnt = up
      .join(comp.select(col("winner").as("a"), col("loser").as("b"),
        col("n").as("naw0")), Seq("a", "b"), "left")
      .join(comp.select(col("loser").as("a"), col("winner").as("b"),
        col("n").as("nbw0")), Seq("a", "b"), "left")
      .join(tie.select(col("a"), col("b"), col("n").as("nt0")),
        Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("naw0"), lit(0L)).as("naw"),
        coalesce(col("nbw0"), lit(0L)).as("nbw"),
        coalesce(col("nt0"), lit(0L)).as("nt"))
    val th = lit(theta)
    val ga = col("ga"); val gb = col("gb")
    val pw = ga / (ga + th * gb)
    val pt = (th * th - lit(1.0)) * ga * gb /
      ((ga + th * gb) * (gb + th * ga))
    val ntot = col("naw") + col("nbw") + col("nt")
    val ew = col("naw") / ntot
    val et = col("nt") / ntot
    pcnt
      .join(fit.select(col("item").as("a"), col("gamma").as("ga")), Seq("a"))
      .join(fit.select(col("item").as("b"), col("gamma").as("gb")), Seq("b"))
      .select(col("a").as("item_a"), col("b").as("item_b"),
        ntot.as("n_total"),
        Oracle.q6(pw).as("pred_win_q6"),
        Oracle.q6(pt).as("pred_tie_q6"),
        Oracle.q6(ew).as("emp_win_q6"),
        Oracle.q6(et).as("emp_tie_q6"),
        Oracle.q6(abs(pw - ew)).as("err_win_q6"),
        Oracle.q6(abs(pt - et)).as("err_tie_q6"))
  }

  val qRkCalibrationSql: String =
    s"""WITH ${rkFitCtesWhere("")},
       |up AS (SELECT DISTINCT a, b FROM (
       |  SELECT least(winner, loser) AS a, greatest(winner, loser) AS b
       |  FROM comp UNION ALL SELECT a, b FROM tcomp)),
       |pcnt AS (SELECT up.a, up.b, coalesce(cf.n, 0)::BIGINT AS naw,
       |  coalesce(cb.n, 0)::BIGINT AS nbw, coalesce(t.n, 0)::BIGINT AS nt
       | FROM up LEFT JOIN comp cf ON cf.winner = up.a AND cf.loser = up.b
       | LEFT JOIN comp cb ON cb.winner = up.b AND cb.loser = up.a
       | LEFT JOIN tcomp t ON t.a = up.a AND t.b = up.b)
       |SELECT p.a AS item_a, p.b AS item_b,
       |  (p.naw + p.nbw + p.nt)::BIGINT AS n_total,
       |  ${Oracle.sqlQ6("ga.gamma / (ga.gamma + th.t * gb.gamma)")}
       |    AS pred_win_q6,
       |  ${Oracle.sqlQ6(
            "(th.t * th.t - CAST(1.0 AS DOUBLE)) * ga.gamma * gb.gamma / " +
            "((ga.gamma + th.t * gb.gamma) * (gb.gamma + th.t * ga.gamma))")}
       |    AS pred_tie_q6,
       |  ${Oracle.sqlQ6("p.naw / (p.naw + p.nbw + p.nt)")} AS emp_win_q6,
       |  ${Oracle.sqlQ6("p.nt / (p.naw + p.nbw + p.nt)")} AS emp_tie_q6,
       |  ${Oracle.sqlQ6(
            "abs(ga.gamma / (ga.gamma + th.t * gb.gamma) - " +
            "p.naw / (p.naw + p.nbw + p.nt))")} AS err_win_q6,
       |  ${Oracle.sqlQ6(
            "abs((th.t * th.t - CAST(1.0 AS DOUBLE)) * ga.gamma * gb.gamma / " +
            "((ga.gamma + th.t * gb.gamma) * (gb.gamma + th.t * ga.gamma)) - " +
            "p.nt / (p.naw + p.nbw + p.nt))")} AS err_tie_q6
       |FROM pcnt p JOIN rg3 ga ON ga.item = p.a
       |JOIN rg3 gb ON gb.item = p.b CROSS JOIN rt3 th""".stripMargin

  // ---------------------------------------------------------- q_winrate_ci

  /** Pairwise win rates with Wilson 95% intervals — the model-vs-model
    * cell of an honest arena report ([[graft.ext.Preference.pairWinRates]];
    * Wilson 1927): per unordered pair, a's tie-inclusive win rate
    * (w_a + t/2)/n with its interval and a decisiveness flag (the
    * interval clears 0.5). Sparse per-pair counts are exactly where the
    * naive normal interval lies; the Wilson score doesn't. Every number
    * is per-row IEEE on identical literals (one exact sqrt), so the
    * oracle replays each interval bit-identically. K²-bounded output. */
  def qWinrateCi(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
    val tie = o.filter(!col("decided"))
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    graft.ext.Preference.pairWinRates(comp, tie, z = 1.96)
      .select(col("a"), col("b"), col("n_a_wins"), col("n_b_wins"),
        col("n_ties"), col("n"),
        Oracle.q6(col("p")).as("winrate_q6"),
        Oracle.q6(col("lo")).as("lo_q6"),
        Oracle.q6(col("hi")).as("hi_q6"),
        (col("lo") > lit(0.5) || col("hi") < lit(0.5)).as("decisive"))
  }

  val qWinrateCiSql: String =
    s"""WITH ${rkCompCtesWhere("")},
       |fwd AS (SELECT winner AS a, loser AS b, n AS naw FROM comp
       | WHERE winner < loser),
       |bwd AS (SELECT loser AS a, winner AS b, n AS nbw FROM comp
       | WHERE winner > loser),
       |cells AS (SELECT a, b, coalesce(naw, 0)::BIGINT AS n_a_wins,
       |  coalesce(nbw, 0)::BIGINT AS n_b_wins,
       |  coalesce(t.n, 0)::BIGINT AS n_ties
       | FROM fwd FULL JOIN bwd USING (a, b)
       | FULL JOIN (SELECT a, b, n FROM tcomp) t USING (a, b)),
       |pr AS (SELECT a, b, n_a_wins, n_b_wins, n_ties,
       |  (n_a_wins + n_b_wins + n_ties)::BIGINT AS n,
       |  (CAST(n_a_wins AS DOUBLE) + CAST(n_ties AS DOUBLE)
       |    * CAST(0.5 AS DOUBLE))
       |    / CAST(n_a_wins + n_b_wins + n_ties AS DOUBLE) AS p FROM cells),
       |wil AS (SELECT *,
       |  CAST(1.0 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |    / CAST(n AS DOUBLE) AS denom,
       |  (p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |    / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) AS ctr_num,
       |  CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p)
       |      / CAST(n AS DOUBLE)
       |    + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |      / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |    AS hw_num FROM pr)
       |SELECT a, b, n_a_wins, n_b_wins, n_ties, n,
       |  ${Oracle.sqlQ6("p")} AS winrate_q6,
       |  ${Oracle.sqlQ6("ctr_num / denom - hw_num / denom")} AS lo_q6,
       |  ${Oracle.sqlQ6("ctr_num / denom + hw_num / denom")} AS hi_q6,
       |  (ctr_num / denom - hw_num / denom > CAST(0.5 AS DOUBLE)
       |    OR ctr_num / denom + hw_num / denom < CAST(0.5 AS DOUBLE))
       |    AS decisive
       |FROM wil""".stripMargin

  // -------------------------------------------------------- q_judgment_plan

  /** Judgment BUDGET ALLOCATION — where the next judgments should go:
    * per pair, the current Wilson width, the sample size the normal-
    * approximation planning formula asks for at a ±0.05 target
    * (n_req = ceil(z² p̂(1−p̂) / 0.05²)), the shortfall, and a priority
    * rank by widest interval first. An arena operator routing traffic
    * reads this table top-down. Boundary p̂ (0 or 1) plans 0 more —
    * the formula's known limit; the decisive flag in q_winrate_ci is
    * the honest signal for those cells. Per-row IEEE on identical
    * literals; rank via the scale-safe two-phase row_number. */
  def qJudgmentPlan(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
    val tie = o.filter(!col("decided"))
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val zz = lit(1.96) * lit(1.96)
    val w = graft.ext.Preference.pairWinRates(comp, tie, z = 1.96)
      .withColumn("width", col("hi") - col("lo"))
      .withColumn("n_req",
        ceil(zz * (col("p") * (lit(1.0) - col("p"))) / lit(0.0025)))
      .withColumn("n_more", greatest(lit(0L), col("n_req") - col("n")))
    graft.exec.Ranks.globalRowNumber(w,
        Seq(col("width").desc, col("a").asc, col("b").asc), out = "priority")
      .select(col("a"), col("b"), col("n"),
        Oracle.q6(col("p")).as("winrate_q6"),
        Oracle.q6(col("width")).as("width_q6"),
        col("n_req"), col("n_more"), col("priority"))
  }

  val qJudgmentPlanSql: String =
    s"""WITH ${rkCompCtesWhere("")},
       |fwd AS (SELECT winner AS a, loser AS b, n AS naw FROM comp
       | WHERE winner < loser),
       |bwd AS (SELECT loser AS a, winner AS b, n AS nbw FROM comp
       | WHERE winner > loser),
       |cells AS (SELECT a, b, coalesce(naw, 0)::BIGINT AS n_a_wins,
       |  coalesce(nbw, 0)::BIGINT AS n_b_wins,
       |  coalesce(t.n, 0)::BIGINT AS n_ties
       | FROM fwd FULL JOIN bwd USING (a, b)
       | FULL JOIN (SELECT a, b, n FROM tcomp) t USING (a, b)),
       |pr AS (SELECT a, b,
       |  (n_a_wins + n_b_wins + n_ties)::BIGINT AS n,
       |  (CAST(n_a_wins AS DOUBLE) + CAST(n_ties AS DOUBLE)
       |    * CAST(0.5 AS DOUBLE))
       |    / CAST(n_a_wins + n_b_wins + n_ties AS DOUBLE) AS p FROM cells),
       |wil AS (SELECT *,
       |  CAST(1.0 AS DOUBLE) + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |    / CAST(n AS DOUBLE) AS denom,
       |  (p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |    / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE))) AS ctr_num,
       |  CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1.0 AS DOUBLE) - p)
       |      / CAST(n AS DOUBLE)
       |    + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |      / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |    AS hw_num FROM pr),
       |pl AS (SELECT a, b, n, p,
       |  (ctr_num / denom + hw_num / denom)
       |    - (ctr_num / denom - hw_num / denom) AS width,
       |  CAST(ceil(CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
       |    * (p * (CAST(1.0 AS DOUBLE) - p)) / CAST(0.0025 AS DOUBLE))
       |    AS BIGINT) AS n_req FROM wil)
       |SELECT a, b, n, ${Oracle.sqlQ6("p")} AS winrate_q6,
       |  ${Oracle.sqlQ6("width")} AS width_q6, n_req,
       |  greatest(0, n_req - n)::BIGINT AS n_more,
       |  row_number() OVER (ORDER BY width DESC, a ASC, b ASC)::BIGINT
       |    AS priority
       |FROM pl""".stripMargin

  // ------------------------------------------------------------- q_bt_drift

  /** Rating DRIFT: the Bradley–Terry leaderboard fitted independently
    * per event-time window (7-day buckets of each user group's last
    * event) — an all-history rating hides an item that got better or
    * worse, and rank churn between windows is the nonstationarity
    * signal an arena operator watches. Reuses the grouped MM fit
    * ([[graft.ext.Preference.btRatingsGrouped]] — the same machinery
    * as the bootstrap, with window id in place of replicate id); the
    * oracle replays every window's 3-iteration fit plus the rank-shift
    * window functions. Windows × K² bounded; judgment volume enters
    * only through the aggregated counts. */
  def qBtDrift(s: SparkSession, dir: String): DataFrame = {
    val comp = prefOutcomesWindowed(s, dir)
      .groupBy("b", "winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val g = graft.ext.Preference.btRatingsGrouped(comp, iters = 3)
    val tot = comp.select(col("b"), col("winner").as("item"), col("n"))
      .unionAll(comp.select(col("b"), col("loser").as("item"), col("n")))
      .groupBy("b", "item").agg(sum("n").as("n_comparisons"))
    val wins = comp.groupBy(col("b"), col("winner").as("item"))
      .agg(sum("n").as("w0"))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
      .orderBy(col("gamma").desc, col("item").asc)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("b").asc)
    g.join(tot, Seq("b", "item"))
      .join(wins, Seq("b", "item"), "left")
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wLag))
      .select(col("b").as("window_id"), col("item"),
        coalesce(col("w0"), lit(0L)).as("n_wins"), col("n_comparisons"),
        Oracle.q6(col("gamma")).as("rating_q6"), col("rank"),
        col("prev_rank"),
        (col("prev_rank") - col("rank")).as("rank_delta"))
  }

  /** One judgment per (user, 7-day window): best-vs-worst outcome among
    * the user's events INSIDE the window — the windowed twin of
    * [[prefOutcomes]]. Windowing the events (not the user) is what
    * makes drift observable: a user active all month contributes an
    * independent judgment to every week it acted in. */
  private def prefOutcomesWindowed(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("b",
        floor(datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
          / lit(7.0)).cast("long"))
      .groupBy("user_id", "b")
      .agg(
        count(lit(1)).as("nc"),
        expr("max_by(event_type, struct(value, -event_id))").as("winner"),
        max(col("value")).as("bv"),
        expr("min_by(event_type, struct(value, event_id))").as("loser"),
        min(col("value")).as("wv"))
      .filter(col("nc") >= 2 && col("bv") - col("wv") >= 100.0 &&
        col("winner") =!= col("loser"))
      .select(col("winner"), col("loser"), col("b"))

  /** The per-(user, week) windowed comparison extraction alone —
    * `r` + `comp` — so q_bt_drift_idx can interpose its index lifecycle
    * (withdrawal mask + re-admission batch) between the extraction and
    * the shared fit CTEs. */
  private lazy val btDriftCompCte: String =
    """r AS (SELECT user_id, event_type, event_id, value,
      |  CAST(floor(datediff('day', DATE '2024-01-01',
      |    CAST(ts AS DATE)) / 7.0) AS BIGINT) AS b,
      |  row_number() OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)
      |    ORDER BY value DESC, event_id ASC) AS rb,
      |  row_number() OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)
      |    ORDER BY value ASC, event_id ASC) AS rw,
      |  count(*) OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)) AS nc
      | FROM events WHERE value IS NOT NULL),
      |comp0 AS (SELECT b.b, b.event_type AS winner, w.event_type AS loser,
      |  count(*)::BIGINT AS n
      | FROM (SELECT * FROM r WHERE rb = 1) b
      | JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id, b)
      | WHERE b.nc >= 2 AND b.value - w.value >= 100.0
      |   AND b.event_type <> w.event_type
      | GROUP BY 1, 2, 3)""".stripMargin

  /** The grouped-fit half (symb → ranked) over whatever `comp` the
    * caller defined — shared by q_bt_drift, q_bt_drift_ci, and
    * q_bt_drift_idx so the three replays cannot drift apart. */
  private lazy val btDriftFitOnCompCtes: String =
    s"""symb AS (SELECT b, i, j, sum(n)::BIGINT AS n FROM (
       |  SELECT b, winner AS i, loser AS j, n FROM comp
       |  UNION ALL SELECT b, loser AS i, winner AS j, n FROM comp)
       | GROUP BY 1, 2, 3),
       |itemsb AS (SELECT DISTINCT b, i AS item FROM symb),
       |winsb AS (SELECT ib.item, ib.b, coalesce(sum(c.n), 0)::BIGINT AS w
       | FROM itemsb ib LEFT JOIN comp c ON c.winner = ib.item AND c.b = ib.b
       | GROUP BY 1, 2),
       |totb AS (SELECT b, i AS item, sum(n)::BIGINT AS n_comparisons
       | FROM symb GROUP BY 1, 2),
       |bg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM itemsb),
       |bg1 AS (${btMmIterGrouped("bg0")}),
       |bg2 AS (${btMmIterGrouped("bg1")}),
       |bg3 AS (${btMmIterGrouped("bg2")}),
       |bfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM itemsb ib LEFT JOIN bg3 g ON g.item = ib.item AND g.b = ib.b),
       |ranked AS (SELECT f.b, f.item, f.gamma,
       |  row_number() OVER (PARTITION BY f.b
       |    ORDER BY f.gamma DESC, f.item ASC)::BIGINT AS rank
       | FROM bfin f)""".stripMargin

  /** The original shared block: extraction + `comp` = `comp0` verbatim
    * + the fit — what q_bt_drift and q_bt_drift_ci replay. */
  private lazy val btDriftFitCtes: String =
    s"""$btDriftCompCte,
       |comp AS (SELECT * FROM comp0),
       |$btDriftFitOnCompCtes""".stripMargin

  val qBtDriftSql: String =
    s"""WITH $btDriftFitCtes
       |SELECT rk.b AS window_id, rk.item, wi.w AS n_wins,
       |  tot.n_comparisons, ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    AS prev_rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    - rk.rank AS rank_delta
       |FROM ranked rk
       |JOIN winsb wi ON wi.item = rk.item AND wi.b = rk.b
       |JOIN totb tot ON tot.item = rk.item AND tot.b = rk.b""".stripMargin

  // --------------------------------------------------------- q_bt_drift_idx

  /** Leaderboard drift AS A STANDING-INDEX PROBE — the windowed BT fit
    * reads [[graft.ext.PreferenceIndex.matrixByBatch]] instead of
    * recomputing from the judgment log, after a full index lifecycle:
    *
    *  1. each event-time window's outcome counts append as their OWN
    *     batch ([[graft.ext.PreferenceIndex.appendCounts]] — batch id
    *     ≡ window id, the time axis the index already has);
    *  2. the lexicographically-smallest item is WITHDRAWN mid-stream —
    *     delete-wins masks its edges in every window;
    *  3. [[graft.ext.PreferenceIndex.compactBatched]] retires the
    *     tombstone while PRESERVING per-batch history (the plain
    *     compact would fold the windows away);
    *  4. the item RE-ENTERS: its last-window judgments append as a
    *     fresh late batch — the arena re-admission story.
    *
    * Output is the q_bt_drift report over the index state: the
    * withdrawn item vanishes from every original window and reappears
    * (alone with its partners) in the late batch. The oracle replays
    * extraction → masking → re-admission → every window's grouped MM
    * fit in closed form. */
  def qBtDriftIdx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = s"${Scratch.fresh(s, "btdriftidx", dir)}/pref"
    val comp = prefOutcomesWindowed(s, dir)
      .groupBy("b", "winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val windows = comp.select("b").distinct().as[Long].collect().sorted
    windows.foreach { w =>
      graft.ext.PreferenceIndex.appendCounts(s, base,
        comp.filter(col("b") === w), batchId = w)
    }
    val m = comp
      .agg(least(min(col("winner")), min(col("loser")))).head.getString(0)
    graft.ext.PreferenceIndex.withdraw(s, base, Seq(m).toDF("item"),
      "item", batchId = windows.max + 1)
    graft.ext.PreferenceIndex.compactBatched(s, base)
    graft.ext.PreferenceIndex.appendCounts(s, base,
      comp.filter(col("b") === windows.max &&
        (col("winner") === m || col("loser") === m)),
      batchId = windows.max + 1)
    val mb = graft.ext.PreferenceIndex.matrixByBatch(s, base)
      .withColumnRenamed("batch_id", "b").localCheckpoint()
    val g = graft.ext.Preference.btRatingsGrouped(mb, iters = 3)
    val tot = mb.select(col("b"), col("winner").as("item"), col("n"))
      .unionAll(mb.select(col("b"), col("loser").as("item"), col("n")))
      .groupBy("b", "item").agg(sum("n").as("n_comparisons"))
    val wins = mb.groupBy(col("b"), col("winner").as("item"))
      .agg(sum("n").as("w0"))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
      .orderBy(col("gamma").desc, col("item").asc)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("b").asc)
    g.join(tot, Seq("b", "item"))
      .join(wins, Seq("b", "item"), "left")
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wLag))
      .select(col("b").as("window_id"), col("item"),
        coalesce(col("w0"), lit(0L)).as("n_wins"), col("n_comparisons"),
        Oracle.q6(col("gamma")).as("rating_q6"), col("rank"),
        col("prev_rank"),
        (col("prev_rank") - col("rank")).as("rank_delta"))
  }

  /** Replays the lifecycle in closed form: the withdrawn item (min
    * item) masked out of every window, its last-window judgments
    * re-entering as window max+1, then the shared grouped fit. */
  val qBtDriftIdxSql: String =
    s"""WITH $btDriftCompCte,
       |m AS (SELECT least(min(winner), min(loser)) AS item FROM comp0),
       |comp AS (
       |  SELECT b, winner, loser, n FROM comp0
       |  WHERE winner <> (SELECT item FROM m)
       |    AND loser <> (SELECT item FROM m)
       |  UNION ALL
       |  SELECT (SELECT max(b) FROM comp0) + 1 AS b, winner, loser, n
       |  FROM comp0
       |  WHERE b = (SELECT max(b) FROM comp0)
       |    AND (winner = (SELECT item FROM m)
       |      OR loser = (SELECT item FROM m))),
       |$btDriftFitOnCompCtes
       |SELECT rk.b AS window_id, rk.item, wi.w AS n_wins,
       |  tot.n_comparisons, ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    AS prev_rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    - rk.rank AS rank_delta
       |FROM ranked rk
       |JOIN winsb wi ON wi.item = rk.item AND wi.b = rk.b
       |JOIN totb tot ON tot.item = rk.item AND tot.b = rk.b""".stripMargin

  // ---------------------------------------------------------- q_bt_drift_ci

  /** Drift WITH uncertainty — rank churn between windows is noise
    * unless the intervals separate, so every (window, item) cell gets a
    * bootstrap 95% CI fitted from that window's judgments alone
    * ([[graft.ext.Preference.btBootstrapCiGrouped]]: replicates nest
    * inside windows through a composite window·100+replicate fit key,
    * riding the same grouped MM), and `sig_move` flags a rank change
    * whose interval does NOT overlap the same item's previous-window
    * interval — the honest version of "the leaderboard moved". The
    * oracle replays all windows × 100 refits plus the overlap test. */
  def qBtDriftCi(s: SparkSession, dir: String): DataFrame = {
    val comp = prefOutcomesWindowed(s, dir)
      .groupBy("b", "winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val g = graft.ext.Preference.btRatingsGrouped(comp, iters = 3)
    val ci = graft.ext.Preference.btBootstrapCiGrouped(comp, iters = 3,
      reps = 100, loRank = 3, hiRank = 98)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("gamma").desc, col("item").asc)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("b").asc)
    g.join(ci, Seq("b", "item"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wLag))
      .withColumn("prev_lo", lag(col("lo"), 1).over(wLag))
      .withColumn("prev_hi", lag(col("hi"), 1).over(wLag))
      .select(col("b").as("window_id"), col("item"),
        Oracle.q6(col("gamma")).as("rating_q6"),
        Oracle.q6(col("lo")).as("lo_q6"),
        Oracle.q6(col("hi")).as("hi_q6"),
        col("rank"), col("prev_rank"),
        (col("prev_rank") - col("rank")).as("rank_delta"),
        coalesce(col("lo") > col("prev_hi") || col("hi") < col("prev_lo"),
          lit(false)).as("sig_move"))
  }

  val qBtDriftCiSql: String =
    s"""WITH $btDriftFitCtes,
       |zt AS (SELECT * FROM (VALUES $ztValuesSql) t(zb, z)),
       |reps AS (SELECT unnest(range(0, 100))::BIGINT AS rb),
       |ditems AS (SELECT DISTINCT item FROM itemsb),
       |sh AS (SELECT item, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(1, length(lower(trim(item))) + 1),
       |      i -> ascii(lower(trim(item))[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % 1000000007) AS h FROM ditems),
       |cdraws AS (SELECT c.b * 100 + r.rb AS b, c.winner, c.loser,
       |  greatest(0, CAST(floor(CAST(c.n AS DOUBLE)
       |    + sqrt(CAST(c.n AS DOUBLE)) * zt.z + CAST(0.5 AS DOUBLE))
       |    AS BIGINT)) AS n
       | FROM comp c
       | JOIN sh hw ON hw.item = c.winner
       | JOIN sh hl ON hl.item = c.loser
       | CROSS JOIN reps r
       | JOIN zt ON zt.zb = ((((((hw.h * 31 + hl.h) % 1000000007) * 131071
       |    + (c.b * 100 + r.rb)) % 1000000007 + 1000000007) % 1000000007
       |    * 2654435761) % 250)),
       |cdcomp AS MATERIALIZED (SELECT * FROM cdraws WHERE n > 0),
       |csymb AS MATERIALIZED (SELECT b, i, j, sum(n)::BIGINT AS n FROM (
       |  SELECT b, winner AS i, loser AS j, n FROM cdcomp
       |  UNION ALL SELECT b, loser AS i, winner AS j, n FROM cdcomp)
       | GROUP BY 1, 2, 3),
       |citemsb AS MATERIALIZED (SELECT it.item, it.b * 100 + r.rb AS b
       | FROM itemsb it CROSS JOIN reps r),
       |cwinsb AS MATERIALIZED (SELECT ib.item, ib.b,
       |  coalesce(sum(d.n), 0)::BIGINT AS w
       | FROM citemsb ib LEFT JOIN cdcomp d
       |   ON d.winner = ib.item AND d.b = ib.b
       | GROUP BY 1, 2),
       |cg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM citemsb),
       |cg1 AS MATERIALIZED (${btMmIterGroupedOn("cg0", "csymb", "cwinsb")}),
       |cg2 AS MATERIALIZED (${btMmIterGroupedOn("cg1", "csymb", "cwinsb")}),
       |cg3 AS MATERIALIZED (${btMmIterGroupedOn("cg2", "csymb", "cwinsb")}),
       |cfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM citemsb ib LEFT JOIN cg3 g ON g.item = ib.item AND g.b = ib.b),
       |cw AS (SELECT item, CAST(floor(b / 100.0) AS BIGINT) AS w, b, gamma
       | FROM cfin),
       |cranked AS (SELECT item, w, b, gamma,
       |  row_number() OVER (PARTITION BY item, w
       |    ORDER BY gamma ASC, b ASC) AS rn FROM cw),
       |ci AS (SELECT item, w AS b,
       |  max(CASE WHEN rn = 3 THEN gamma END) AS lo,
       |  max(CASE WHEN rn = 98 THEN gamma END) AS hi
       | FROM cranked GROUP BY 1, 2)
       |SELECT rk.b AS window_id, rk.item,
       |  ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("ci.lo")} AS lo_q6,
       |  ${Oracle.sqlQ6("ci.hi")} AS hi_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER wl AS prev_rank,
       |  lag(rk.rank) OVER wl - rk.rank AS rank_delta,
       |  coalesce(ci.lo > lag(ci.hi) OVER wl
       |    OR ci.hi < lag(ci.lo) OVER wl, false) AS sig_move
       |FROM ranked rk
       |JOIN ci ON ci.item = rk.item AND ci.b = rk.b
       |WINDOW wl AS (PARTITION BY rk.item ORDER BY rk.b ASC)""".stripMargin

  // ------------------------------------------------------------- q_rk_drift

  /** Tie-aware rating drift: the Rao–Kupper fit run independently per
    * 7-day window ([[graft.ext.Preference.rkRatingsGrouped]]) — draws
    * are first-class per window AND each window gets its own theta, so
    * the DRAW MASS drifts visibly too (a judge pool getting more
    * decisive shows up as theta falling week over week). Same rank /
    * prev-rank / churn report as q_bt_drift; the oracle replays every
    * window's 3-iteration fit including the per-window closed-form
    * theta roots. Windows × K² bounded. */
  def qRkDrift(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesWindowedTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("b", "winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tie = o.filter(!col("decided"))
      .select(col("b"), least(col("winner"), col("loser")).as("i"),
        greatest(col("winner"), col("loser")).as("j"))
      .groupBy("b", "i", "j").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    rkDriftReport(comp, tie)
  }

  /** The per-window Rao–Kupper drift report over (b, winner, loser, n)
    * wins and (b, i, j, n) draws — shared by the batch q_rk_drift and
    * the standing-index q_rk_drift_idx so the two surfaces cannot
    * diverge. */
  private def rkDriftReport(comp: DataFrame, tie: DataFrame): DataFrame = {
    val g = graft.ext.Preference.rkRatingsGrouped(comp, tie, iters = 3)
    val wins = comp.groupBy(col("b"), col("winner").as("item"))
      .agg(sum("n").as("w0"))
    val tcnt = tie.select(col("b"), col("i").as("item"), col("n"))
      .unionAll(tie.select(col("b"), col("j").as("item"), col("n")))
      .groupBy("b", "item").agg(sum("n").as("t0"))
    val losses = comp.groupBy(col("b"), col("loser").as("item"))
      .agg(sum("n").as("l0"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("gamma").desc, col("item").asc)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("b").asc)
    g.join(wins, Seq("b", "item"), "left")
      .join(tcnt, Seq("b", "item"), "left")
      .join(losses, Seq("b", "item"), "left")
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wLag))
      .select(col("b").as("window_id"), col("item"),
        coalesce(col("w0"), lit(0L)).as("n_wins"),
        coalesce(col("t0"), lit(0L)).as("n_ties"),
        (coalesce(col("w0"), lit(0L)) + coalesce(col("t0"), lit(0L)) +
          coalesce(col("l0"), lit(0L))).as("n_comparisons"),
        Oracle.q6(col("gamma")).as("rating_q6"),
        Oracle.q6(col("theta")).as("theta_q6"),
        col("rank"), col("prev_rank"),
        (col("prev_rank") - col("rank")).as("rank_delta"))
  }

  // --------------------------------------------------------- q_rk_drift_idx

  /** Tie-aware leaderboard drift AS A STANDING-INDEX PROBE — the
    * [[qBtDriftIdx]] lifecycle with DRAWS as first-class state,
    * completing the {BT, RK} × {batch recompute, standing index}
    * matrix:
    *
    *  1. each window's judgments (wins AND draws) append as their own
    *     batch ([[graft.ext.PreferenceIndex.appendJudgments]] — one
    *     batch id stamps the window's edges delta and ties delta
    *     together);
    *  2. the lexicographically-smallest item is WITHDRAWN — delete-wins
    *     masks its wins and its draws in every window;
    *  3. [[graft.ext.PreferenceIndex.compactBatched]] retires the
    *     tombstone PARTIALLY (only delta partitions holding the item's
    *     rows rewrite) while preserving per-batch history;
    *  4. the item re-enters: its last-window judgments (including
    *     draws) append as a fresh late batch.
    *
    * Output is the q_rk_drift report read off
    * [[graft.ext.PreferenceIndex.matrixByBatch]] +
    * [[graft.ext.PreferenceIndex.tiesByBatch]]: the withdrawn item
    * vanishes from every original window — and its departure moves the
    * per-window THETA too, since its draws leave the tie mass — then
    * reappears in the late window. The oracle replays extraction →
    * masking of wins AND draws → re-admission → every window's
    * tie-aware fit with closed-form theta roots. */
  def qRkDriftIdx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = s"${Scratch.fresh(s, "rkdriftidx", dir)}/pref"
    val o = prefOutcomesWindowedTies(s, dir).localCheckpoint()
    val judg = o.select(col("b"), col("winner").as("ia"),
      col("loser").as("ib"),
      when(col("decided"), lit("a")).otherwise(lit("tie")).as("oc"))
    val windows = o.select("b").distinct().as[Long].collect().sorted
    windows.foreach { w =>
      graft.ext.PreferenceIndex.appendJudgments(s, base,
        judg.filter(col("b") === w), "ia", "ib", "oc", batchId = w)
    }
    val m = o
      .agg(least(min(col("winner")), min(col("loser")))).head.getString(0)
    graft.ext.PreferenceIndex.withdraw(s, base, Seq(m).toDF("item"),
      "item", batchId = windows.max + 1)
    graft.ext.PreferenceIndex.compactBatched(s, base)
    graft.ext.PreferenceIndex.appendJudgments(s, base,
      judg.filter(col("b") === windows.max &&
        (col("ia") === m || col("ib") === m)),
      "ia", "ib", "oc", batchId = windows.max + 1)
    val comp = graft.ext.PreferenceIndex.matrixByBatch(s, base)
      .withColumnRenamed("batch_id", "b").localCheckpoint()
    val tie = graft.ext.PreferenceIndex.tiesByBatch(s, base)
      .select(col("batch_id"), col("a").as("i"), col("b").as("j"), col("n"))
      .withColumnRenamed("batch_id", "b").localCheckpoint()
    rkDriftReport(comp, tie)
  }

  /** Replays the lifecycle in closed form: the min item masked out of
    * every window's wins AND draws, its last-window judgments
    * re-entering as window max+1, then the shared per-window tie-aware
    * fit. */
  lazy val qRkDriftIdxSql: String =
    s"""WITH $rkWindowedOCtes,
       |comp0 AS MATERIALIZED (SELECT b, winner, loser, count(*)::BIGINT AS n
       | FROM o WHERE decided GROUP BY 1, 2, 3),
       |tcomp0 AS MATERIALIZED (SELECT b, least(winner, loser) AS i,
       |  greatest(winner, loser) AS j, count(*)::BIGINT AS n
       | FROM o WHERE NOT decided GROUP BY 1, 2, 3),
       |m AS (SELECT least(min(winner), min(loser)) AS item FROM o),
       |maxb AS (SELECT max(b) AS b FROM o),
       |comp AS MATERIALIZED (
       |  SELECT b, winner, loser, n FROM comp0
       |  WHERE winner <> (SELECT item FROM m)
       |    AND loser <> (SELECT item FROM m)
       |  UNION ALL
       |  SELECT (SELECT b FROM maxb) + 1 AS b, winner, loser, n FROM comp0
       |  WHERE b = (SELECT b FROM maxb)
       |    AND (winner = (SELECT item FROM m)
       |      OR loser = (SELECT item FROM m))),
       |tcomp AS MATERIALIZED (
       |  SELECT b, i, j, n FROM tcomp0
       |  WHERE i <> (SELECT item FROM m) AND j <> (SELECT item FROM m)
       |  UNION ALL
       |  SELECT (SELECT b FROM maxb) + 1 AS b, i, j, n FROM tcomp0
       |  WHERE b = (SELECT b FROM maxb)
       |    AND (i = (SELECT item FROM m) OR j = (SELECT item FROM m))),
       |$rkWindowedFitCtes,
       |winsw AS (SELECT b, winner AS item, sum(n)::BIGINT AS w FROM comp
       | GROUP BY 1, 2),
       |tiesw AS (SELECT b, item, sum(n)::BIGINT AS t FROM (
       |  SELECT b, i AS item, n FROM tcomp
       |  UNION ALL SELECT b, j AS item, n FROM tcomp) GROUP BY 1, 2),
       |lossw AS (SELECT b, loser AS item, sum(n)::BIGINT AS l FROM comp
       | GROUP BY 1, 2)
       |SELECT rk.b AS window_id, rk.item,
       |  coalesce(wi.w, 0)::BIGINT AS n_wins,
       |  coalesce(tb.t, 0)::BIGINT AS n_ties,
       |  (coalesce(wi.w, 0) + coalesce(tb.t, 0) + coalesce(lo.l, 0))::BIGINT
       |    AS n_comparisons,
       |  ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("th.t")} AS theta_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    AS prev_rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    - rk.rank AS rank_delta
       |FROM ranked rk
       |JOIN bth3 th ON th.b = rk.b
       |LEFT JOIN winsw wi ON wi.item = rk.item AND wi.b = rk.b
       |LEFT JOIN tiesw tb ON tb.item = rk.item AND tb.b = rk.b
       |LEFT JOIN lossw lo ON lo.item = rk.item AND lo.b = rk.b""".stripMargin

  /** One tie-aware judgment per (user, 7-day window): best-vs-worst
    * among the user's events INSIDE the window with the decided flag at
    * margin 200 — the windowed twin of [[prefOutcomesTies]]. */
  private def prefOutcomesWindowedTies(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .withColumn("b",
        floor(datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
          / lit(7.0)).cast("long"))
      .groupBy("user_id", "b")
      .agg(
        count(lit(1)).as("nc"),
        expr("max_by(event_type, struct(value, -event_id))").as("winner"),
        max(col("value")).as("bv"),
        expr("min_by(event_type, struct(value, event_id))").as("loser"),
        min(col("value")).as("wv"))
      .filter(col("nc") >= 2 && col("winner") =!= col("loser"))
      .select(col("b"), col("winner"), col("loser"),
        (col("bv") - col("wv") >= 200.0).as("decided"))

  /** The windowed tie-aware judgment extraction (r/o) shared by
    * q_rk_drift, q_rk_drift_ci AND the index-lifecycle twin
    * q_rk_drift_idx (whose comp/tcomp add masking + re-admission). */
  private val rkWindowedOCtes: String =
    """r AS MATERIALIZED (SELECT user_id, event_type, event_id, value,
      |  CAST(floor(datediff('day', DATE '2024-01-01',
      |    CAST(ts AS DATE)) / 7.0) AS BIGINT) AS b,
      |  row_number() OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)
      |    ORDER BY value DESC, event_id ASC) AS rb,
      |  row_number() OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)
      |    ORDER BY value ASC, event_id ASC) AS rw,
      |  count(*) OVER (PARTITION BY user_id,
      |    CAST(floor(datediff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT)) AS nc
      | FROM events WHERE value IS NOT NULL),
      |o AS MATERIALIZED (SELECT b.b, b.event_type AS winner,
      |  w.event_type AS loser, (b.value - w.value >= 200.0) AS decided
      | FROM (SELECT * FROM r WHERE rb = 1) b
      | JOIN (SELECT * FROM r WHERE rw = 1) w USING (user_id, b)
      | WHERE b.nc >= 2 AND b.event_type <> w.event_type)""".stripMargin

  /** The windowed tie-aware outcome CTEs (r/o/comp/tcomp) shared by
    * q_rk_drift and q_rk_drift_ci, so their replays cannot drift. */
  private val rkWindowedBaseCtes: String =
    s"""$rkWindowedOCtes,
       |comp AS MATERIALIZED (SELECT b, winner, loser, count(*)::BIGINT AS n
       | FROM o WHERE decided GROUP BY 1, 2, 3),
       |tcomp AS MATERIALIZED (SELECT b, least(winner, loser) AS i,
       |  greatest(winner, loser) AS j, count(*)::BIGINT AS n
       | FROM o WHERE NOT decided GROUP BY 1, 2, 3)""".stripMargin

  /** The per-window (point-fit) Rao–Kupper CTEs shared by q_rk_drift
    * and q_rk_drift_ci: augmented edges, grids, three MM iterations
    * (bg3/bth3), and the per-window ranking. */
  private val rkWindowedFitCtes: String =
    s"""badir AS MATERIALIZED (SELECT b, i, j, sum(n)::BIGINT AS a FROM (
       |  SELECT b, winner AS i, loser AS j, n FROM comp
       |  UNION ALL SELECT b, i, j, n FROM tcomp
       |  UNION ALL SELECT b, j AS i, i AS j, n FROM tcomp)
       | GROUP BY 1, 2, 3),
       |reps AS (SELECT DISTINCT b FROM badir),
       |bitems AS MATERIALIZED (SELECT DISTINCT b, item FROM (
       |  SELECT b, i AS item FROM badir
       |  UNION ALL SELECT b, j AS item FROM badir)),
       |bA AS MATERIALIZED (SELECT it.item, it.b,
       |  coalesce(sum(d.a), 0)::BIGINT AS A
       | FROM bitems it LEFT JOIN badir d ON d.i = it.item AND d.b = it.b
       | GROUP BY 1, 2),
       |btt AS (SELECT r.b, coalesce(t.t0, 0)::BIGINT AS T FROM reps r
       | LEFT JOIN (SELECT b, sum(n)::BIGINT AS t0 FROM tcomp GROUP BY 1) t
       |   ON t.b = r.b),
       |bg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM bitems),
       |bth0 AS (SELECT b, CAST(1.0 AS DOUBLE) AS t FROM reps),
       |${rkBootIterCtes(1)},
       |${rkBootIterCtes(2)},
       |${rkBootIterCtes(3)},
       |bfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM bitems ib LEFT JOIN bg3 g ON g.item = ib.item AND g.b = ib.b),
       |ranked AS (SELECT f.b, f.item, f.gamma,
       |  row_number() OVER (PARTITION BY f.b
       |    ORDER BY f.gamma DESC, f.item ASC)::BIGINT AS rank
       | FROM bfin f)""".stripMargin

  val qRkDriftSql: String =
    s"""WITH $rkWindowedBaseCtes,
       |$rkWindowedFitCtes,
       |winsw AS (SELECT b, winner AS item, sum(n)::BIGINT AS w FROM comp
       | GROUP BY 1, 2),
       |tiesw AS (SELECT b, item, sum(n)::BIGINT AS t FROM (
       |  SELECT b, i AS item, n FROM tcomp
       |  UNION ALL SELECT b, j AS item, n FROM tcomp) GROUP BY 1, 2),
       |lossw AS (SELECT b, loser AS item, sum(n)::BIGINT AS l FROM comp
       | GROUP BY 1, 2)
       |SELECT rk.b AS window_id, rk.item,
       |  coalesce(wi.w, 0)::BIGINT AS n_wins,
       |  coalesce(tb.t, 0)::BIGINT AS n_ties,
       |  (coalesce(wi.w, 0) + coalesce(tb.t, 0) + coalesce(lo.l, 0))::BIGINT
       |    AS n_comparisons,
       |  ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("th.t")} AS theta_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    AS prev_rank,
       |  lag(rk.rank) OVER (PARTITION BY rk.item ORDER BY rk.b ASC)
       |    - rk.rank AS rank_delta
       |FROM ranked rk
       |JOIN bth3 th ON th.b = rk.b
       |LEFT JOIN winsw wi ON wi.item = rk.item AND wi.b = rk.b
       |LEFT JOIN tiesw tb ON tb.item = rk.item AND tb.b = rk.b
       |LEFT JOIN lossw lo ON lo.item = rk.item AND lo.b = rk.b""".stripMargin

  // ----------------------------------------------------- q_rk_drift_ci

  /** Tie-aware drift WITH uncertainty — the q_bt_drift_ci treatment
    * composed with the Rao–Kupper grouped fit
    * ([[graft.ext.Preference.rkBootstrapCiGrouped]]): every (window,
    * item) cell gets a bootstrap 95% interval from that window's
    * judgments (wins AND draws resampled under their own mix primes,
    * replicates nested in windows through the composite window·100 +
    * replicate key), theta gets a per-window interval too (the
    * draw-mass parameter is exactly where small windows mislead), and
    * `sig_move` flags a rank change only when the item's interval
    * clears its previous-window interval. The oracle replays all
    * windows × 100 tie-aware refits — including every per-replicate
    * closed-form theta root — plus the overlap test. */
  def qRkDriftCi(s: SparkSession, dir: String): DataFrame = {
    val o = prefOutcomesWindowedTies(s, dir).localCheckpoint()
    val comp = o.filter(col("decided"))
      .groupBy("b", "winner", "loser").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tie = o.filter(!col("decided"))
      .select(col("b"), least(col("winner"), col("loser")).as("i"),
        greatest(col("winner"), col("loser")).as("j"))
      .groupBy("b", "i", "j").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val g = graft.ext.Preference.rkRatingsGrouped(comp, tie, iters = 3)
    val ci = graft.ext.Preference.rkBootstrapCiGrouped(comp, tie,
      iters = 3, reps = 100, loRank = 3, hiRank = 98)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b")).orderBy(col("gamma").desc, col("item").asc)
    val wLag = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("b").asc)
    g.join(ci, Seq("b", "item"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("prev_rank", lag(col("rank"), 1).over(wLag))
      .withColumn("prev_lo", lag(col("lo"), 1).over(wLag))
      .withColumn("prev_hi", lag(col("hi"), 1).over(wLag))
      .select(col("b").as("window_id"), col("item"),
        Oracle.q6(col("gamma")).as("rating_q6"),
        Oracle.q6(col("lo")).as("lo_q6"),
        Oracle.q6(col("hi")).as("hi_q6"),
        Oracle.q6(col("theta")).as("theta_q6"),
        Oracle.q6(col("theta_lo")).as("theta_lo_q6"),
        Oracle.q6(col("theta_hi")).as("theta_hi_q6"),
        col("rank"), col("prev_rank"),
        (col("prev_rank") - col("rank")).as("rank_delta"),
        coalesce(col("lo") > col("prev_hi") || col("hi") < col("prev_lo"),
          lit(false)).as("sig_move"))
  }

  /** Replays the point fit (the shared windowed RK CTEs) AND the full
    * windows × replicates tie-aware bootstrap: composite-key draws
    * (non-negative modulus — window ids go negative for pre-2024
    * events), the second grouped RK fit under the `c` CTE prefix, and
    * per-window order-statistic intervals for gamma and theta. */
  val qRkDriftCiSql: String =
    s"""WITH $rkWindowedBaseCtes,
       |$rkWindowedFitCtes,
       |zt AS (SELECT * FROM (VALUES $ztValuesSql) t(zb, z)),
       |brep AS (SELECT unnest(range(0, 100))::BIGINT AS rb),
       |ditems AS (SELECT DISTINCT item FROM bitems),
       |shx AS (SELECT item, list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(1, length(lower(trim(item))) + 1),
       |      i -> ascii(lower(trim(item))[i])::BIGINT)),
       |    (a, c) -> (a * 31 + c) % 1000000007) AS h FROM ditems),
       |cdraw0 AS MATERIALIZED (SELECT c.b * 100 + r.rb AS b,
       |  c.winner AS i, c.loser AS j,
       |  greatest(0, CAST(floor(CAST(c.n AS DOUBLE)
       |    + sqrt(CAST(c.n AS DOUBLE)) * zt.z + CAST(0.5 AS DOUBLE))
       |    AS BIGINT)) AS n
       | FROM comp c
       | JOIN shx hw ON hw.item = c.winner
       | JOIN shx hl ON hl.item = c.loser
       | CROSS JOIN brep r
       | JOIN zt ON zt.zb = ((((((hw.h * 31 + hl.h) % 1000000007) * 131071
       |    + (c.b * 100 + r.rb)) % 1000000007 + 1000000007) % 1000000007
       |    * 2654435761) % 250)),
       |ctdraw0 AS MATERIALIZED (SELECT c.b * 100 + r.rb AS b,
       |  c.i, c.j,
       |  greatest(0, CAST(floor(CAST(c.n AS DOUBLE)
       |    + sqrt(CAST(c.n AS DOUBLE)) * zt.z + CAST(0.5 AS DOUBLE))
       |    AS BIGINT)) AS n
       | FROM tcomp c
       | JOIN shx hi ON hi.item = c.i
       | JOIN shx hj ON hj.item = c.j
       | CROSS JOIN brep r
       | JOIN zt ON zt.zb = ((((((hi.h * 31 + hj.h) % 1000000007) * 524287
       |    + (c.b * 100 + r.rb)) % 1000000007 + 1000000007) % 1000000007
       |    * 2654435761) % 250)),
       |cdraw AS (SELECT * FROM cdraw0 WHERE n > 0),
       |ctdraw AS (SELECT * FROM ctdraw0 WHERE n > 0),
       |cbadir AS MATERIALIZED (SELECT b, i, j, sum(n)::BIGINT AS a FROM (
       |  SELECT b, i, j, n FROM cdraw
       |  UNION ALL SELECT b, i, j, n FROM ctdraw
       |  UNION ALL SELECT b, j AS i, i AS j, n FROM ctdraw)
       | GROUP BY 1, 2, 3),
       |cgroups AS (SELECT w.b * 100 + r.rb AS b
       | FROM reps w CROSS JOIN brep r),
       |citems AS MATERIALIZED (SELECT it.item, it.b * 100 + r.rb AS b
       | FROM bitems it CROSS JOIN brep r),
       |cbA AS MATERIALIZED (SELECT it.item, it.b,
       |  coalesce(sum(d.a), 0)::BIGINT AS A
       | FROM citems it LEFT JOIN cbadir d ON d.i = it.item AND d.b = it.b
       | GROUP BY 1, 2),
       |cbtt AS (SELECT g.b, coalesce(t.t0, 0)::BIGINT AS T FROM cgroups g
       | LEFT JOIN (SELECT b, sum(n)::BIGINT AS t0 FROM ctdraw GROUP BY 1) t
       |   ON t.b = g.b),
       |cg0 AS (SELECT item, b, CAST(1.0 AS DOUBLE) AS gamma FROM citems),
       |cth0 AS (SELECT b, CAST(1.0 AS DOUBLE) AS t FROM cgroups),
       |${rkIterCtesOn(1, "c", "cbadir", "cbA", "cbtt", "cgroups")},
       |${rkIterCtesOn(2, "c", "cbadir", "cbA", "cbtt", "cgroups")},
       |${rkIterCtesOn(3, "c", "cbadir", "cbA", "cbtt", "cgroups")},
       |cfin AS (SELECT ib.item, ib.b,
       |  coalesce(g.gamma, CAST(0.0 AS DOUBLE)) AS gamma
       | FROM citems ib LEFT JOIN cg3 g ON g.item = ib.item AND g.b = ib.b),
       |cw AS (SELECT item, CAST(floor(b / 100.0) AS BIGINT) AS w, b, gamma
       | FROM cfin),
       |cranked AS (SELECT item, w, b, gamma,
       |  row_number() OVER (PARTITION BY item, w
       |    ORDER BY gamma ASC, b ASC) AS rn FROM cw),
       |ci AS (SELECT item, w AS b,
       |  max(CASE WHEN rn = 3 THEN gamma END) AS lo,
       |  max(CASE WHEN rn = 98 THEN gamma END) AS hi
       | FROM cranked GROUP BY 1, 2),
       |cthw AS (SELECT CAST(floor(b / 100.0) AS BIGINT) AS w, b, t
       | FROM cth3),
       |cthr AS (SELECT w, b, t,
       |  row_number() OVER (PARTITION BY w ORDER BY t ASC, b ASC) AS rn
       | FROM cthw),
       |thci AS (SELECT w AS b,
       |  max(CASE WHEN rn = 3 THEN t END) AS theta_lo,
       |  max(CASE WHEN rn = 98 THEN t END) AS theta_hi
       | FROM cthr GROUP BY 1)
       |SELECT rk.b AS window_id, rk.item,
       |  ${Oracle.sqlQ6("rk.gamma")} AS rating_q6,
       |  ${Oracle.sqlQ6("ci.lo")} AS lo_q6,
       |  ${Oracle.sqlQ6("ci.hi")} AS hi_q6,
       |  ${Oracle.sqlQ6("th.t")} AS theta_q6,
       |  ${Oracle.sqlQ6("tc.theta_lo")} AS theta_lo_q6,
       |  ${Oracle.sqlQ6("tc.theta_hi")} AS theta_hi_q6,
       |  rk.rank,
       |  lag(rk.rank) OVER wl AS prev_rank,
       |  lag(rk.rank) OVER wl - rk.rank AS rank_delta,
       |  coalesce(ci.lo > lag(ci.hi) OVER wl
       |    OR ci.hi < lag(ci.lo) OVER wl, false) AS sig_move
       |FROM ranked rk
       |JOIN bth3 th ON th.b = rk.b
       |JOIN ci ON ci.item = rk.item AND ci.b = rk.b
       |JOIN thci tc ON tc.b = rk.b
       |WINDOW wl AS (PARTITION BY rk.item ORDER BY rk.b ASC)""".stripMargin

  // -------------------------------------- q_bt_calibration / q_pref_cycles

  /** Calibration of the Bradley–Terry fit: per unordered item pair, the
    * model's predicted win probability g_a/(g_a+g_b) against the
    * empirical rate n_a/(n_a+n_b), with the absolute error — the
    * standard check that fitted strengths actually explain the observed
    * tournament. Every number is hash-certified: the oracle replays the
    * full fit AND the pair bookkeeping. Shape: the K²-bounded pair table
    * joins the K-row rating table twice — broadcast under AQE. */
  def qBtCalibration(s: SparkSession, dir: String): DataFrame = {
    val comp = prefComparisons(s, dir).localCheckpoint()
    val g = graft.ext.Preference.btRatings(comp, iters = 3)
    val sym = comp.select(col("winner").as("i"), col("loser").as("j"), col("n"))
      .unionAll(comp.select(col("loser").as("i"), col("winner").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("n"))
    val up = sym.filter(col("i") < col("j"))
      .select(col("i").as("a"), col("j").as("b")).distinct()
    val pairs = up
      .join(comp.select(col("winner").as("a"), col("loser").as("b"),
        col("n").as("naw0")), Seq("a", "b"), "left")
      .join(comp.select(col("loser").as("a"), col("winner").as("b"),
        col("n").as("nbw0")), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("naw0"), lit(0L)).as("naw"),
        coalesce(col("nbw0"), lit(0L)).as("nbw"))
    val pred = col("ga") / (col("ga") + col("gb"))
    val emp = col("naw") / (col("naw") + col("nbw"))
    pairs
      .join(g.select(col("item").as("a"), col("gamma").as("ga")), Seq("a"))
      .join(g.select(col("item").as("b"), col("gamma").as("gb")), Seq("b"))
      .select(col("a").as("item_a"), col("b").as("item_b"),
        (col("naw") + col("nbw")).as("n_total"),
        Oracle.q6(pred).as("pred_q6"),
        Oracle.q6(emp).as("emp_q6"),
        Oracle.q6(abs(pred - emp)).as("abs_err_q6"))
  }

  val qBtCalibrationSql: String =
    s"""WITH $btCompCte,
       |$btFitCtes,
       |$btPairsCte
       |SELECT p.a AS item_a, p.b AS item_b,
       |  (p.naw + p.nbw)::BIGINT AS n_total,
       |  ${Oracle.sqlQ6("ga.gamma / (ga.gamma + gb.gamma)")} AS pred_q6,
       |  ${Oracle.sqlQ6("p.naw / (p.naw + p.nbw)")} AS emp_q6,
       |  ${Oracle.sqlQ6(
            "abs(ga.gamma / (ga.gamma + gb.gamma) - p.naw / (p.naw + p.nbw))")}
       |    AS abs_err_q6
       |FROM pairs p JOIN g3 ga ON ga.item = p.a
       |JOIN g3 gb ON gb.item = p.b""".stripMargin

  /** Intransitive preference triangles (A beats B beats C beats A on
    * net wins) — the standard QA signal that pairwise preference data
    * cannot be explained by ANY single ranking. Each cycle is emitted
    * once, rotated so item_a is the lexicographically smallest. Shape:
    * the net-direction edge list is K²-bounded; two self-equi-joins
    * enumerate triangles (cost K³ worst case over ITEM count, not the
    * corpus — items are model variants, not documents). */
  def qPrefCycles(s: SparkSession, dir: String): DataFrame = {
    val comp = prefComparisons(s, dir).localCheckpoint()
    val sym = comp.select(col("winner").as("i"), col("loser").as("j"), col("n"))
      .unionAll(comp.select(col("loser").as("i"), col("winner").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("n"))
    val up = sym.filter(col("i") < col("j"))
      .select(col("i").as("a"), col("j").as("b")).distinct()
    val pairs = up
      .join(comp.select(col("winner").as("a"), col("loser").as("b"),
        col("n").as("naw0")), Seq("a", "b"), "left")
      .join(comp.select(col("loser").as("a"), col("winner").as("b"),
        col("n").as("nbw0")), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("naw0"), lit(0L)).as("naw"),
        coalesce(col("nbw0"), lit(0L)).as("nbw"))
    val dirEdges = pairs.filter(col("naw") =!= col("nbw"))
      .select(
        when(col("naw") > col("nbw"), col("a")).otherwise(col("b")).as("w"),
        when(col("naw") > col("nbw"), col("b")).otherwise(col("a")).as("l"))
    val d1 = dirEdges.select(col("w").as("w1"), col("l").as("l1"))
    val d2 = dirEdges.select(col("w").as("w2"), col("l").as("l2"))
    val d3 = dirEdges.select(col("w").as("w3"), col("l").as("l3"))
    d1.join(d2, col("l1") === col("w2"))
      .join(d3, col("l2") === col("w3") && col("l3") === col("w1"))
      .filter(col("w1") < col("w2") && col("w1") < col("w3"))
      .select(col("w1").as("item_a"), col("w2").as("item_b"),
        col("w3").as("item_c"))
  }

  val qPrefCyclesSql: String =
    s"""WITH $btCompCte,
       |$btPairsCte,
       |dir AS (SELECT CASE WHEN naw > nbw THEN a ELSE b END AS w,
       |  CASE WHEN naw > nbw THEN b ELSE a END AS l
       | FROM pairs WHERE naw <> nbw)
       |SELECT d1.w AS item_a, d2.w AS item_b, d3.w AS item_c
       |FROM dir d1 JOIN dir d2 ON d1.l = d2.w
       |JOIN dir d3 ON d2.l = d3.w AND d3.l = d1.w
       |WHERE d1.w < d2.w AND d1.w < d3.w""".stripMargin

  // -------------------------------------------- q_stream_pref_lifecycle

  /** The standing PREFERENCE MATRIX driven through a REAL
    * Structured-Streaming lifecycle with a mid-stream item WITHDRAWAL —
    * the Chatbot-Arena operating mode (judgments stream in forever;
    * model variants leave the arena), and the FIFTH standing index
    * proven under checkpointed restarts (after dedup, ANN, chunk,
    * span):
    *
    *  1. land the even users' pairwise outcomes as a file, run
    *     `readStream → [[graft.ext.PreferenceIndex.run]] →
    *     Trigger.AvailableNow` to termination (micro-batch 0 lands its
    *     pre-aggregated count delta);
    *  2. MID-STREAM, withdraw the 'error' item
    *     ([[graft.ext.PreferenceIndex.withdraw]]) — including from
    *     judgments NOT YET INGESTED, exercising the permanent
    *     delete-wins contract (a withdrawn variant must not re-enter
    *     the leaderboard via late-arriving judgments);
    *  3. land the odd users' outcomes as a late file and rerun on the
    *     SAME checkpoint — the restart discovers only the new file; its
    *     'error' edges arrive masked;
    *  4. [[graft.ext.PreferenceIndex.compact]] — fold count deltas
    *     minus withdrawn edges, retire tombstones — then fit
    *     Bradley–Terry ratings ([[graft.ext.Preference.btRatings]], 3
    *     MM iterations) FROM the standing matrix.
    *
    * The oracle replays comparison extraction over ALL users minus the
    * withdrawn item's outcomes plus the full unrolled MM fit, so a
    * hash-pass proves the streamed count deltas, the delete-wins
    * masking, the compaction fold, and the downstream fit together
    * equal a from-scratch leaderboard without the withdrawn item. At
    * 100 TB the matrix stays K²-bounded regardless of judgment volume —
    * ingestion cost is one pre-aggregated delta per micro-batch. */
  def qStreamPrefLifecycle(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "streampref", dir)
    val idx = s"$base/idx"
    val outs = prefOutcomes(s, dir).localCheckpoint()
    val stream = Scratch.stream(s, base, outs.schema) { (src, ckpt, leg) =>
      graft.ext.PreferenceIndex.run(src, idx, "winner", "loser",
        checkpoint = ckpt, baseBatch = leg.toLong)
    }
    stream.feed(outs.filter(col("user_id") % 2 === 0))
    // mid-stream withdrawal between the two checkpointed legs; tombstones
    // live in their own table, so no replay can collide with this id
    graft.ext.PreferenceIndex.withdraw(s, idx,
      s.createDataFrame(Seq(Tuple1("error"))).toDF("item"), "item",
      batchId = 1L)
    stream.feed(outs.filter(col("user_id") % 2 =!= 0))
    graft.ext.PreferenceIndex.compact(s, idx)
    val rated = graft.ext.Preference.btRatings(
        graft.ext.PreferenceIndex.matrix(s, idx), iters = 3)
      .withColumn("rating_q6", Oracle.q6(col("gamma")))
    graft.exec.Ranks.globalRowNumber(rated,
        Seq(col("gamma").desc, col("item").asc), out = "rank")
      .select(col("item"), col("n_wins"), col("n_comparisons"),
        col("rating_q6"), col("rank"))
  }

  val qStreamPrefLifecycleSql: String =
    s"""WITH ${btCompCteWhere(
          " AND b.event_type <> 'error' AND w.event_type <> 'error'")},
       |$btFitCtes
       |SELECT g3.item, wi.w AS n_wins, tot.n_comparisons,
       |  ${Oracle.sqlQ6("g3.gamma")} AS rating_q6,
       |  row_number() OVER (ORDER BY g3.gamma DESC, g3.item ASC)::BIGINT
       |    AS rank
       |FROM g3 JOIN wins wi USING (item) JOIN tot USING (item)""".stripMargin

  // ---------------------------------------------- q_stream_pref_readmit

  /** The preference index driven through the RE-ADMISSION lifecycle the
    * layout contract documents ("compact first, which retires the
    * tombstone, then ingest" — [[graft.ext.PreferenceIndex]]) — with
    * DRAWS as first-class judgments end to end:
    *
    *  1. even users' tie-aware outcomes (decided → 'a', small-margin →
    *     'tie') stream through [[graft.ext.PreferenceIndex.runJudgments]]
    *     (edges + ties deltas, Trigger.AvailableNow);
    *  2. MID-STREAM, 'error' is withdrawn — its decided AND drawn
    *     judgments die on both endpoints, including from the not-yet-
    *     ingested odd leg (permanent delete-wins);
    *  3. the odd users' outcomes land late and rerun on the SAME
    *     checkpoint — 'error' edges and ties arrive masked;
    *  4. [[graft.ext.PreferenceIndex.compact]] folds both tables and
    *     RETIRES the tombstone;
    *  5. RE-ADMISSION: the odd users' 'error'-involving judgments are
    *     re-ingested through the same checkpointed stream above the
    *     folded batch — the item re-enters the arena with exactly that
    *     fresh record;
    *  6. the tie-aware Rao–Kupper fit runs FROM the standing matrix +
    *     tie table ([[graft.ext.Preference.rkRatings]], 3 iterations).
    *
    * The oracle replays outcomes where either no endpoint is 'error'
    * (all users) or an endpoint is 'error' and the user is odd (the
    * re-admitted record), then the full unrolled RK fit — a hash-pass
    * proves streamed tie deltas, double-endpoint masking, compaction
    * folding of BOTH tables, tombstone retirement, and post-compaction
    * re-entry compose to a from-scratch leaderboard over exactly the
    * surviving judgments. */
  def qStreamPrefReadmit(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "streamprefre", dir)
    val idx = s"$base/idx"
    val js = prefOutcomesTies(s, dir)
      .select(col("user_id"), col("winner").as("x"), col("loser").as("y"),
        when(col("decided"), lit("a")).otherwise(lit("tie")).as("oc"))
      .localCheckpoint()
    // legs 0 and 1 resume at baseBatch = leg; the re-admission leg
    // resumes above the compaction's folded batch
    var folded = 0L
    val stream = Scratch.stream(s, base, js.schema) { (src, ckpt, leg) =>
      graft.ext.PreferenceIndex.runJudgments(src, idx, "x", "y", "oc",
        checkpoint = ckpt,
        baseBatch = if (leg < 2) leg.toLong else folded + 1L)
    }
    stream.feed(js.filter(col("user_id") % 2 === 0))
    graft.ext.PreferenceIndex.withdraw(s, idx,
      s.createDataFrame(Seq(Tuple1("error"))).toDF("item"), "item",
      batchId = 1L)
    stream.feed(js.filter(col("user_id") % 2 =!= 0))
    folded = graft.ext.PreferenceIndex.compact(s, idx)
    // tombstone retired — the withdrawn item's odd-leg judgments
    // re-enter through the same checkpointed stream, above the fold
    stream.feed(js.filter(col("user_id") % 2 =!= 0 &&
      (col("x") === "error" || col("y") === "error")))
    val rated = graft.ext.Preference.rkRatings(
        graft.ext.PreferenceIndex.matrix(s, idx),
        graft.ext.PreferenceIndex.ties(s, idx), iters = 3)
      .withColumn("rating_q6", Oracle.q6(col("gamma")))
      .withColumn("theta_q6", Oracle.q6(col("theta")))
    graft.exec.Ranks.globalRowNumber(rated,
        Seq(col("gamma").desc, col("item").asc), out = "rank")
      .select(col("item"), col("n_wins"), col("n_ties"),
        col("n_comparisons"), col("rating_q6"), col("theta_q6"), col("rank"))
  }

  val qStreamPrefReadmitSql: String =
    s"""WITH ${rkFitCtesWhere(
          " AND ((b.event_type <> 'error' AND w.event_type <> 'error')" +
          " OR user_id % 2 = 1)")}
       |$rkFinalSelect""".stripMargin

  // ------------------------------------------------------ q_preftrain_e2e

  /** The END-TO-END POST-TRAINING PREP CAPSTONE — the preference twin of
    * q_curation_e2e: one driver entry whose COMPOSITION the oracle
    * certifies, stage contracts flowing end to end:
    *
    *  1. candidate pool: documents grouped 10-per-prompt (doc_id div
    *     10), scored by [[TextAnalysis.qualityScore]] as the reward
    *     proxy; doc_id % 10 == 0 is the BENCHMARK split (the
    *     q_decontaminate split), never a candidate;
    *  2. within-prompt response dedup — duplicate generations (same
    *     text, same prompt) keep the smallest id;
    *  3. decontamination gate: a candidate sharing ANY verbatim 6-token
    *     window with the benchmark is DROPPED (a contaminated response
    *     can't be span-trimmed and keep its reward honest);
    *  4. DPO pair construction per prompt
    *     ([[graft.ext.Preference.pairs]], margin ≥ 0.1);
    *  5. BT QA gate: the pairs' own (chosen_lang, rejected_lang)
    *     outcomes fit a 3-iteration Bradley–Terry leaderboard
    *     ([[graft.ext.Preference.btRatings]]), and each pair is flagged
    *     `consistent` iff its direction agrees with the fitted global
    *     ranking (or is intra-language) — the standard contradiction
    *     screen over preference data;
    *  6. shard manifest: pairs shard 5-prompts-wide with counts, token
    *     sums and an ORDER-SENSITIVE position-weighted checksum — one
    *     wrong row in any stage moves a checksum.
    *
    * Scale shape: dedup is a group-bounded window; the decontamination
    * gate is one gram semi-join; pairs are one hash aggregate; the BT
    * fit is K²-bounded; the manifest window is shard-bounded. No
    * corpus-wide window, no driver loop. */
  def qPreftrainE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        expr("doc_id div 10").as("prompt_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val cand0 = scored.filter(col("doc_id") % 10 =!= 0)
    // plant duplicate generations (every 7th candidate re-emitted under a
    // shifted id, SAME prompt) so the dedup stage provably removes them —
    // the fixture has no natural within-prompt exact duplicates
    val cand = cand0.unionByName(cand0.filter(col("doc_id") % 7 === 3)
      .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val bench = scored.filter(col("doc_id") % 10 === 0)
    val wDup = Window.partitionBy(col("prompt_id"), col("text"))
      .orderBy(col("doc_id"))
    val c1 = cand.withColumn("__rn", row_number().over(wDup))
      .filter(col("__rn") === 1).drop("__rn")
    def wins(c: org.apache.spark.sql.Column) = {
      val toks = TextAnalysis.tokens(c)
      transform(sequence(lit(1), greatest(size(toks) - lit(5), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(6))))
    }
    val benchWins = bench.select(explode(wins(col("text"))).as("win")).distinct()
    val contaminated = c1
      .select(col("doc_id"), explode(wins(col("text"))).as("win"))
      .join(benchWins, Seq("win")).select("doc_id").distinct()
    val c2 = c1.join(contaminated, Seq("doc_id"), "left_anti").localCheckpoint()
    val pairs = graft.ext.Preference.pairs(c2, Seq("prompt_id"), "doc_id",
        "quality", minMargin = 0.1)
      .join(c2.select(col("doc_id").as("chosen_id"),
        col("lang").as("chosen_lang"), col("n_tokens").as("chosen_tokens")),
        Seq("chosen_id"))
      .join(c2.select(col("doc_id").as("rejected_id"),
        col("lang").as("rejected_lang"), col("n_tokens").as("rejected_tokens")),
        Seq("rejected_id"))
      .localCheckpoint()
    val comp = pairs.filter(col("chosen_lang") =!= col("rejected_lang"))
      .groupBy(col("chosen_lang").as("winner"),
        col("rejected_lang").as("loser"))
      .agg(count(lit(1)).as("n"))
    val g = graft.ext.Preference.btRatings(comp, iters = 3)
      .select(col("item"), col("gamma"))
    val gated = pairs
      .join(g.select(col("item").as("chosen_lang"), col("gamma").as("__gc")),
        Seq("chosen_lang"), "left")
      .join(g.select(col("item").as("rejected_lang"), col("gamma").as("__gr")),
        Seq("rejected_lang"), "left")
      .withColumn("consistent",
        col("chosen_lang") === col("rejected_lang") ||
          col("__gc") >= col("__gr"))
      .withColumn("__shard", expr("prompt_id div 5"))
    val wPos = Window.partitionBy(col("__shard"))
      .orderBy(col("prompt_id"), col("chosen_id"))
    gated.withColumn("__pos", row_number().over(wPos))
      .groupBy(col("__shard").as("shard"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("consistent"), lit(1L)).otherwise(lit(0L)))
          .as("n_consistent"),
        sum(col("chosen_tokens") + col("rejected_tokens")).as("n_tokens"),
        sum(pmod(col("chosen_id") * col("__pos") + col("rejected_id"),
          lit(Sharding.HashMod))).as("checksum"))
  }

  private val ptSwList: String =
    TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")

  val qPreftrainE2eSql: String =
    s"""WITH t0 AS (SELECT doc_id, lang, text,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks
       | FROM documents),
       |m AS (SELECT doc_id, lang, text, toks, len(toks)::BIGINT AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9 \\t\\n\\f\\r]'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  len(list_filter(toks, x -> x IN ($ptSwList)))::DOUBLE
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |    / greatest(len(toks), 1) AS mean_token_len
       | FROM t0),
       |sc AS (SELECT doc_id, lang, text, toks, n_tokens,
       |  0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |  + 0.3 * (CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)) AS quality
       | FROM m),
       |cand0 AS (SELECT doc_id, doc_id // 10 AS prompt, lang, text, toks,
       |  n_tokens, quality FROM sc WHERE doc_id % 10 <> 0),
       |pool AS (SELECT * FROM cand0
       | UNION ALL SELECT doc_id + 1000000 AS doc_id, prompt, lang, text,
       |  toks, n_tokens, quality FROM cand0 WHERE doc_id % 7 = 3),
       |dd AS (SELECT *, row_number() OVER (PARTITION BY prompt, text
       |    ORDER BY doc_id) AS rdup FROM pool),
       |c1 AS (SELECT * FROM dd WHERE rdup = 1),
       |bw AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win
       | FROM (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos
       |       FROM sc WHERE doc_id % 10 = 0)),
       |cwin AS (SELECT doc_id, array_to_string(toks[pos:pos+5], ' ') AS win
       | FROM (SELECT doc_id, toks,
       |        unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM c1)),
       |contam AS (SELECT DISTINCT doc_id FROM cwin
       | WHERE win IN (SELECT win FROM bw)),
       |c2 AS (SELECT * FROM c1
       | WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |rp AS (SELECT doc_id, lang, n_tokens, quality, prompt,
       |  row_number() OVER (PARTITION BY prompt
       |    ORDER BY quality DESC, doc_id ASC) AS rb,
       |  row_number() OVER (PARTITION BY prompt
       |    ORDER BY quality ASC, doc_id ASC) AS rw,
       |  count(*) OVER (PARTITION BY prompt) AS ncand
       | FROM c2),
       |prs AS (SELECT b.prompt, b.doc_id AS chosen_id, b.lang AS cl,
       |  b.n_tokens AS ct, w.doc_id AS rejected_id, w.lang AS rl,
       |  w.n_tokens AS rt
       | FROM (SELECT * FROM rp WHERE rb = 1) b
       | JOIN (SELECT * FROM rp WHERE rw = 1) w USING (prompt)
       | WHERE b.ncand >= 2 AND b.quality - w.quality >= CAST(0.1 AS DOUBLE)
       |   AND b.doc_id <> w.doc_id),
       |comp AS (SELECT cl AS winner, rl AS loser, count(*)::BIGINT AS n
       | FROM prs WHERE cl <> rl GROUP BY 1, 2),
       |sym AS (SELECT i, j, sum(n)::BIGINT AS n FROM (
       |  SELECT winner AS i, loser AS j, n FROM comp
       |  UNION ALL SELECT loser AS i, winner AS j, n FROM comp)
       | GROUP BY 1, 2),
       |$btFitCtes,
       |gp AS (SELECT p.*, (p.cl = p.rl OR ga.gamma >= gb.gamma) AS consistent
       | FROM prs p LEFT JOIN g3 ga ON ga.item = p.cl
       | LEFT JOIN g3 gb ON gb.item = p.rl),
       |shd AS (SELECT *, prompt // 5 AS shard,
       |  row_number() OVER (PARTITION BY prompt // 5
       |    ORDER BY prompt, chosen_id) AS pos FROM gp)
       |SELECT shard::BIGINT AS shard, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN consistent THEN 1 ELSE 0 END)::BIGINT AS n_consistent,
       |  sum(ct + rt)::BIGINT AS n_tokens,
       |  sum((chosen_id * pos + rejected_id) % ${Sharding.HashMod})::BIGINT
       |    AS checksum
       |FROM shd GROUP BY 1""".stripMargin

  // -------------------------------------------- q_langid_weights / confusion

  /** Multiclass language-ID training: every one-vs-rest head trains
    * simultaneously (class is a grouping column — an epoch stays two
    * aggregates no matter how many classes). The oracle replays all heads
    * in one unrolled chain; the confusion query certifies the argmax
    * router on top. */
  def qLangidWeights(s: SparkSession, dir: String): DataFrame =
    graft.ext.Perceptron.trainMulticlass(Tables(s, dir, "documents"),
      "text", "doc_id", "lang", iters = TrainIters)

  def qLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val w = graft.ext.Perceptron.trainMulticlass(docs, "text", "doc_id",
      "lang", iters = TrainIters)
    graft.ext.Perceptron.confusion(docs, "text", "doc_id", "lang", w)
  }

  private def langidCtes: String = {
    val base =
      s"""classes AS (SELECT DISTINCT lang AS c FROM documents),
         |feat AS (SELECT doc_id, cls, b, count(*)::BIGINT AS n FROM (
         |  SELECT doc_id, lang AS cls,
         |    list_reduce(list_prepend(0::BIGINT,
         |        list_transform(range(1, length(token) + 1), i -> ascii(token[i])::BIGINT)),
         |      (a, c) -> (a * 31 + c) % ${TextAnalysis.FingerprintMod})
         |      % ${graft.ext.Perceptron.Dim} AS b
         |  FROM (SELECT doc_id, lang,
         |     unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+')) AS token
         |    FROM documents) WHERE length(token) > 0) GROUP BY 1, 2, 3),
         |ids AS (SELECT DISTINCT doc_id, cls FROM feat),
         |w0 AS (SELECT NULL::VARCHAR AS c, NULL::BIGINT AS b, NULL::BIGINT AS w WHERE false)""".stripMargin
    val iters = (1 to TrainIters).map { i =>
      s"""m$i AS (SELECT i.doc_id, i.cls, x.c, coalesce(p.pm, 0)::BIGINT AS m,
         |  (CASE WHEN i.cls = x.c THEN 1 ELSE -1 END)::BIGINT AS y
         |  FROM ids i CROSS JOIN classes x
         |  LEFT JOIN (SELECT f.doc_id, w.c, sum(f.n * w.w)::BIGINT AS pm
         |             FROM feat f JOIN w${i - 1} w ON f.b = w.b GROUP BY 1, 2) p
         |    ON p.doc_id = i.doc_id AND p.c = x.c),
         |u$i AS (SELECT q.c, f.b, sum(q.y * f.n)::BIGINT AS d
         |  FROM (SELECT doc_id, c, y FROM m$i
         |        WHERE (y > 0 AND m <= 0) OR (y < 0 AND m > 0)) q
         |  JOIN feat f USING (doc_id) GROUP BY 1, 2),
         |w$i AS (SELECT coalesce(a.c, u.c) AS c, coalesce(a.b, u.b) AS b,
         |  (coalesce(a.w, 0) + coalesce(u.d, 0))::BIGINT AS w
         |  FROM w${i - 1} a FULL JOIN u$i u ON a.c = u.c AND a.b = u.b)""".stripMargin
    }
    (base +: iters).mkString(",\n")
  }

  val qLangidWeightsSql: String =
    s"""WITH $langidCtes
       |SELECT x.c, fb.b, coalesce(z.w, 0)::BIGINT AS w
       |FROM (SELECT DISTINCT b FROM feat) fb CROSS JOIN classes x
       |LEFT JOIN w$TrainIters z ON z.c = x.c AND z.b = fb.b""".stripMargin

  val qLangidConfusionSql: String =
    s"""WITH $langidCtes,
       |fm AS (SELECT i.doc_id, i.cls, x.c, coalesce(p.pm, 0)::BIGINT AS m
       |  FROM ids i CROSS JOIN classes x
       |  LEFT JOIN (SELECT f.doc_id, w.c, sum(f.n * w.w)::BIGINT AS pm
       |             FROM feat f JOIN w$TrainIters w ON f.b = w.b GROUP BY 1, 2) p
       |    ON p.doc_id = i.doc_id AND p.c = x.c),
       |top AS (SELECT doc_id, cls, c,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY m DESC, c) AS rk FROM fm)
       |SELECT cls AS y_true, c AS y_pred, count(*)::BIGINT AS n
       |FROM top WHERE rk = 1 GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_epoch_shuffle"      -> (qEpochShuffle _),
    "q_dataloader_resume"  -> (qDataloaderResume _),
    "q_token_budget"       -> (qTokenBudget _),
    "q_shard_skew"         -> (qShardSkew _),
    "q_epoch_plan"         -> (qEpochPlan _),
    "q_contrastive"        -> (qContrastive _),
    "q_pack_boundaries"    -> (qPackBoundaries _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_mixture_schedule"   -> (qMixtureSchedule _),
    "q_mixture_tokens"     -> (qMixtureTokens _),
    "q_length_batches"     -> (qLengthBatches _),
    "q_upsample"           -> (qUpsample _),
    "q_shard_manifest"     -> (qShardManifest _),
    "q_bpe_pairs"          -> (qBpePairs _),
    "q_bpe_merges"         -> (qBpeMerges _),
    "q_bpe_merges_verified" -> (qBpeMergesVerified _),
    "q_bpe_encode"         -> (qBpeEncode _),
    "q_bpe_encode_verified" -> (qBpeEncodeVerified _),
    "q_bpe_vocab"          -> (qBpeVocab _),
    "q_bpe_vocab_verified" -> (qBpeVocabVerified _),
    "q_importance"         -> (qImportance _),
    "q_curation_incr"      -> (qCurationIncr _),
    "q_curation_stats"     -> (qCurationStats _),
    "q_stream_lifecycle"   -> (qStreamLifecycle _),
    "q_fim"                -> (qFim _),
    "q_train_weights"      -> (qTrainWeights _),
    "q_train_predict"      -> (qTrainPredict _),
    "q_langid_weights"     -> (qLangidWeights _),
    "q_langid_confusion"   -> (qLangidConfusion _),
    "q_sft_render"         -> (qSftRender _),
    "q_sft_pack"           -> (qSftPack _),
    "q_pref_pairs"         -> (qPrefPairs _),
    "q_bestof_n"           -> (qBestofN _),
    "q_bt_ratings"         -> (qBtRatings _),
    "q_bt_ci"              -> (qBtCi _),
    "q_bt_ratings_ties"    -> (qBtRatingsTies _),
    "q_bt_ci_ties"         -> (qBtCiTies _),
    "q_rk_calibration"     -> (qRkCalibration _),
    "q_winrate_ci"         -> (qWinrateCi _),
    "q_judgment_plan"      -> (qJudgmentPlan _),
    "q_bt_drift"           -> (qBtDrift _),
    "q_bt_drift_ci"        -> (qBtDriftCi _),
    "q_rk_drift"           -> (qRkDrift _),
    "q_rk_drift_idx"       -> (qRkDriftIdx _),
    "q_rk_drift_ci"        -> (qRkDriftCi _),
    "q_bt_drift_idx"       -> (qBtDriftIdx _),
    "q_bt_calibration"     -> (qBtCalibration _),
    "q_pref_cycles"        -> (qPrefCycles _),
    "q_stream_pref_lifecycle" -> (qStreamPrefLifecycle _),
    "q_stream_pref_readmit" -> (qStreamPrefReadmit _),
    "q_preftrain_e2e"      -> (qPreftrainE2e _),
    "q_cdc_chunks"         -> (qCdcChunks _),
    "q_cdc_diff"           -> (qCdcDiff _),
    "q_cdc_incr"           -> (qCdcIncr _),
    "q_chunk_idx"          -> (qChunkIdx _),
    "q_stream_chunk_lifecycle" -> (qStreamChunkLifecycle _),
    "q_multimodal_shards"  -> (qMultimodalShards _),
    "q_anneal_mixture"     -> (qAnnealMixture _),
    "q_chunk_delete"       -> (qChunkDelete _),
    "q_train_pipeline"     -> (qTrainPipeline _),
    "q_data_card"          -> (qDataCard _))

  val oracle: Map[String, String] = Map(
    "q_epoch_shuffle"      -> qEpochShuffleSql,
    "q_dataloader_resume"  -> qDataloaderResumeSql,
    "q_token_budget"       -> qTokenBudgetSql,
    "q_shard_skew"         -> qShardSkewSql,
    "q_epoch_plan"         -> qEpochPlanSql,
    "q_contrastive"        -> qContrastiveSql,
    "q_pack_boundaries"    -> qPackBoundariesSql,
    "q_quality_classifier" -> qQualityClassifierSql,
    "q_mixture_schedule"   -> qMixtureScheduleSql,
    "q_mixture_tokens"     -> qMixtureTokensSql,
    "q_length_batches"     -> qLengthBatchesSql,
    "q_upsample"           -> qUpsampleSql,
    "q_shard_manifest"     -> qShardManifestSql,
    "q_bpe_pairs"          -> qBpePairsSql,
    "q_bpe_merges_verified" -> qBpeMergesVerifiedSql,
    "q_bpe_encode_verified" -> qBpeEncodeVerifiedSql,
    "q_bpe_vocab_verified" -> qBpeVocabVerifiedSql,
    "q_importance"         -> qImportanceSql,
    "q_curation_incr"      -> qCurationIncrSql,
    "q_curation_stats"     -> qCurationStatsSql,
    "q_stream_lifecycle"   -> qCurationIncrSql,
    "q_fim"                -> qFimSql,
    "q_train_weights"      -> qTrainWeightsSql,
    "q_train_predict"      -> qTrainPredictSql,
    "q_langid_weights"     -> qLangidWeightsSql,
    "q_langid_confusion"   -> qLangidConfusionSql,
    "q_sft_render"         -> qSftRenderSql,
    "q_sft_pack"           -> qSftPackSql,
    "q_pref_pairs"         -> qPrefPairsSql,
    "q_bestof_n"           -> qBestofNSql,
    "q_bt_ratings"         -> qBtRatingsSql,
    "q_bt_ci"              -> qBtCiSql,
    "q_bt_ratings_ties"    -> qBtRatingsTiesSql,
    "q_bt_ci_ties"         -> qBtCiTiesSql,
    "q_rk_calibration"     -> qRkCalibrationSql,
    "q_winrate_ci"         -> qWinrateCiSql,
    "q_judgment_plan"      -> qJudgmentPlanSql,
    "q_bt_drift"           -> qBtDriftSql,
    "q_bt_drift_ci"        -> qBtDriftCiSql,
    "q_rk_drift"           -> qRkDriftSql,
    "q_rk_drift_idx"       -> qRkDriftIdxSql,
    "q_rk_drift_ci"        -> qRkDriftCiSql,
    "q_bt_drift_idx"       -> qBtDriftIdxSql,
    "q_bt_calibration"     -> qBtCalibrationSql,
    "q_pref_cycles"        -> qPrefCyclesSql,
    "q_stream_pref_lifecycle" -> qStreamPrefLifecycleSql,
    "q_stream_pref_readmit" -> qStreamPrefReadmitSql,
    "q_preftrain_e2e"      -> qPreftrainE2eSql,
    "q_cdc_chunks"         -> qCdcChunksSql,
    "q_cdc_diff"           -> qCdcDiffSql,
    "q_cdc_incr"           -> qCdcIncrSql,
    "q_chunk_idx"          -> qChunkIdxSql,
    "q_stream_chunk_lifecycle" -> qStreamChunkLifecycleSql,
    "q_multimodal_shards"  -> qMultimodalShardsSql,
    "q_anneal_mixture"     -> qAnnealMixtureSql,
    "q_chunk_delete"       -> qChunkDeleteSql,
    "q_train_pipeline"     -> qTrainPipelineSql,
    "q_data_card"          -> qDataCardSql)
}
