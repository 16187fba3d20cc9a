package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{ClusterIndex, Dedup, DedupIndex, Packing, Similarity, SpanIndex, TextAnalysis}

/** Driver-checked queries for the north-star training-data operators:
  * text analysis, dedup (exact / exact-Jaccard / MinHash / SimHash),
  * and embedding similarity search. Approximate (hash-based) operators
  * have no DuckDB oracle — they get rows-only checks here and exact
  * recall assertions in ExtSpec. */
object ExtQueries {

  // ------------------------------------------------------------ text

  def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
      TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
  }

  private val swList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")

  val qTextStatsSql: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM documents),
       |m AS (SELECT doc_id, text, toks,
       |  len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 \\t\\n\\f\\r]')) AS n_bpe,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9 \\t\\n\\f\\r]'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  len(list_filter(toks, x -> x IN ($swList)))::DOUBLE
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |    / greatest(len(toks), 1) AS mean_token_len
       |FROM t)
       |SELECT doc_id, n_tokens, n_bpe, punct_ratio, stopword_ratio, mean_token_len,
       |  0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |  + 0.3 * (CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)) AS quality
       |FROM m""".stripMargin

  def qLangFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
  }

  private val langScoreSql: String = TextAnalysis.LangMarkers.map { case (l, ms) =>
    val lst = ms.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, x -> x IN ($lst))) AS s_$l"
  }.mkString(",\n  ")

  val qLangFingerprintSql: String =
    s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS s,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM documents),
       |sc AS (SELECT doc_id, s, $langScoreSql FROM t),
       |mx AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM sc)
       |SELECT doc_id,
       |  CASE WHEN m = 0 THEN 'und'
       |       WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
       |       WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
       |       ELSE 'zh' END AS lang_pred,
       |  list_reduce(
       |    list_prepend(0::BIGINT,
       |      list_transform(range(1, length(s) + 1), i -> ascii(s[i])::BIGINT)),
       |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
       |FROM mx""".stripMargin

  /** Encoding-damage signals (replacement chars, stray controls,
    * UTF-8-as-Latin-1 mojibake digraphs) plus the [0,1] encoding-quality
    * score — the transcoding-damage twin of [[qQualityFilter]]'s
    * linguistic gate. Fixture texts are clean ASCII, so every 5th doc is
    * deterministically corrupted in BOTH engines with the same junk
    * (interpolated from one shared constant) to exercise all three
    * counters. */
  def qEncodingQuality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(EncodingJunk))).otherwise(col("text")).as("t"))
    d.select(col("doc_id"),
      TextAnalysis.replacementCount(col("t")).as("n_repl"),
      TextAnalysis.controlCount(col("t")).as("n_ctrl"),
      TextAnalysis.mojibakeCount(col("t")).as("n_moji"),
      TextAnalysis.encodingQuality(col("t")).as("enc_q"))
  }

  /** The injected damage: one replacement char, one BEL control, three
    * mojibake digraphs — shared verbatim with the oracle SQL below. */
  private val EncodingJunk: String =
    " caf\u00C3\u00A9 bad\uFFFD\u0007 25\u00C2\u00B0 q\u00E2\u0080\u0099"

  val qEncodingQualitySql: String =
    s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |  THEN text || '$EncodingJunk' ELSE text END AS t FROM documents),
       |m AS (SELECT doc_id,
       |  len(regexp_extract_all(t, '�'))::INT AS n_repl,
       |  len(regexp_extract_all(t,
       |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]'))::INT AS n_ctrl,
       |  len(regexp_extract_all(t,
       |    '${TextAnalysis.MojibakeMarkers}'))::INT AS n_moji,
       |  greatest(length(t), 1) AS n FROM d)
       |SELECT doc_id, n_repl, n_ctrl, n_moji,
       |  1.0 - least((n_repl + n_ctrl + n_moji) * 5.0 / n, 1.0) AS enc_q
       |FROM m""".stripMargin

  /** Training-data filter stage: keep documents passing the quality gate
    * and a minimum length — the shape of a corpus-cleaning step. */
  def qQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    d.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("quality") >= 0.9 && col("n_tokens") >= 50)
  }

  val qQualityFilterSql: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM documents),
       |m AS (SELECT doc_id, len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9 \\t\\n\\f\\r]'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  len(list_filter(toks, x -> x IN ($swList)))::DOUBLE
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |    / greatest(len(toks), 1) AS mean_token_len
       |FROM t),
       |q AS (SELECT doc_id, n_tokens,
       |  0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |  + 0.3 * (CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)) AS quality
       |FROM m)
       |SELECT doc_id, quality, n_tokens FROM q
       |WHERE quality >= 0.9 AND n_tokens >= 50""".stripMargin

  /** Unicode NFC normalization as a cross-engine contract: plant
    * combining sequences (e + U+0301) and a compatibility singleton
    * (U+212B ANGSTROM SIGN) after the fixture text; both engines must
    * produce byte-identical NFC output — the property that makes
    * normalized text safe as a dedup/hash key across engines. */
  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"), lit(" cafe\u0301 \u212B"))
    Tables(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.normalizeNfc(planted).as("normalized"),
      length(TextAnalysis.normalizeNfc(planted)).cast("long").as("n_chars"),
      octet_length(TextAnalysis.normalizeNfc(planted)).cast("long").as("n_bytes"))
  }

  val qNormalizeSql: String =
    """SELECT doc_id,
      |  nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)) AS normalized,
      |  length(nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)))::BIGINT AS n_chars,
      |  strlen(nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)))::BIGINT AS n_bytes
      |FROM documents""".stripMargin

  /** REAL compressed-text ingestion: gzip every document's utf-8 bytes,
    * gunzip them back through the pure-JVM codec, and run the standard
    * token/byte stats on the DECODED column — the oracle recomputes from
    * the original plaintext, so a pass proves the compress→decompress→
    * tokenize loop is byte-exact. */
  def qGzipText(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val decoded = graft.ext.Multimodal.textFromGzip(
      graft.ext.Multimodal.gzipTable(docs))
    decoded.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
  }

  val qGzipTextSql: String =
    """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
      |  len(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+'))::BIGINT AS n_tokens
      |FROM documents""".stripMargin

  /** Reproducible stratified downsampling: content-hash bucketing keeps
    * the same rows across runs/engines/partitionings (RNG sampling does
    * not) — per-language rates, map-side only. */
  def qSample(s: SparkSession, dir: String): DataFrame =
    graft.exec.Sampling.stratifiedHashSample(
        Tables(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 0.5, "fr" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"))

  val qSampleSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE (doc_id % 1000000007) * 2654435761 % 10000 <
      |  CASE WHEN lang = 'fr' THEN 2500
      |       WHEN lang = 'en' THEN 5000 ELSE 1000 END""".stripMargin

  /** Stable train/val/test split assignment by hash-bucket ranges. */
  def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.exec.Sampling.assignSplit(Tables(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  val qSplitSql: String =
    """SELECT doc_id,
      |CASE WHEN (doc_id % 1000000007) * 2654435761 % 10000 < 8000 THEN 'train'
      |     WHEN (doc_id % 1000000007) * 2654435761 % 10000 < 9000 THEN 'val'
      |     ELSE 'test' END AS split
      |FROM documents""".stripMargin

  /** Token-budget sequence packing (sharded contiguous binning). Shard
    * count auto-scales with the corpus's total token count — the oracle
    * reproduces the same integer derivation. */
  def qPack(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(Tables(s, dir, "documents"), "text", "doc_id",
      budget = 4096)

  val qPackSql: String =
    """WITH t AS (SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+'))::BIGINT AS n_tokens
      |FROM documents),
      |tot AS (SELECT COALESCE(sum(n_tokens), 0) AS tot FROM t),
      |sh AS (SELECT greatest(1, least(1048576, tot // (4096 * 64) + 1))::BIGINT
      |  AS shards FROM tot),
      |st AS (SELECT doc_id, doc_id % shards AS shard, n_tokens FROM t, sh),
      |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |  ROWS UNBOUNDED PRECEDING) AS cum FROM st)
      |SELECT doc_id, shard, n_tokens,
      |  ((cum - n_tokens) // 4096)::BIGINT AS seq_in_shard FROM c""".stripMargin

  /** Materialized packed training sequences: the q_pack assignment
    * joined back to text and reassembled per bin in id order — count,
    * token total, and the concatenated sequence, all oracle-checked. */
  def qPackConcat(s: SparkSession, dir: String): DataFrame =
    Packing.materializeSequences(Tables(s, dir, "documents"), "text",
      "doc_id", budget = 4096)

  val qPackConcatSql: String =
    """WITH t AS (SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+'))::BIGINT AS n_tokens
      |FROM documents),
      |tot AS (SELECT COALESCE(sum(n_tokens), 0) AS tot FROM t),
      |sh AS (SELECT greatest(1, least(1048576, tot // (4096 * 64) + 1))::BIGINT
      |  AS shards FROM tot),
      |st AS (SELECT doc_id, doc_id % shards AS shard, n_tokens FROM t, sh),
      |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |  ROWS UNBOUNDED PRECEDING) AS cum FROM st),
      |a AS (SELECT doc_id, shard,
      |  ((cum - n_tokens) // 4096)::BIGINT AS seq_in_shard, n_tokens FROM c)
      |SELECT shard, seq_in_shard, count(*)::BIGINT AS n_docs,
      |  sum(n_tokens)::BIGINT AS n_tokens,
      |  string_agg(text, ' ' ORDER BY doc_id) AS sequence
      |FROM a JOIN documents USING (doc_id)
      |GROUP BY shard, seq_in_shard""".stripMargin

  /** Top-5 tf-idf terms per document (ratio idf — see
    * TextAnalysis.tfidfTopTerms for why not log). */
  def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables(s, dir, "documents"), "text", "doc_id", k = 5)

  val qTfidfSql: String =
    """WITH t AS (SELECT doc_id,
      |  unnest(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |scored AS (SELECT doc_id, term, tf, df,
      |  tf::DOUBLE * ((n.n + 1.0) / (df::DOUBLE + 1.0)) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |ranked AS (SELECT doc_id, term, tf, df, tfidf,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      |FROM scored)
      |SELECT doc_id, rank, term, tf, df, tfidf FROM ranked WHERE rank <= 5""".stripMargin

  /** Vocabulary induction: top-100 corpus tokens by frequency with
    * cumulative coverage share — the "how big must the vocab be" question
    * every tokenizer build asks. Distributed shape: one (token) count
    * shuffle, then TakeOrdered for the top-N (never a global sort), with
    * the cumulative window running only over the tiny result and the
    * corpus total riding as a broadcast scalar. */
  def qVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
    val total = toks.agg(count(lit(1)).cast("double").as("__t"))
    val top = counts.orderBy(col("n").desc, col("token")).limit(100)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token"))))
      .select(col("rank"), col("token"), col("n"),
        (sum(col("n")).over(Window.orderBy(col("n").desc, col("token")))
          / col("__t")).as("coverage"))
  }

  val qVocabSql: String =
    """WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS token
      |  FROM documents),
      |c AS (SELECT token, count(*) AS n FROM t GROUP BY 1),
      |tot AS (SELECT count(*)::DOUBLE AS t FROM t),
      |top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100)
      |SELECT row_number() OVER (ORDER BY n DESC, token) AS rank, token, n,
      |  sum(n) OVER (ORDER BY n DESC, token
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / (SELECT t FROM tot)
      |    AS coverage
      |FROM top""".stripMargin

  /** Language balancing: every language deterministically downsamples to
    * (approximately) the smallest language's size — class-balance
    * resampling for mixture curation. The per-class threshold derives from
    * broadcast counts (floor(n_min/n_s · 10000) hash buckets), so the pass
    * stays map-side after one tiny count aggregate, and the same row is
    * kept on every run/engine/partitioning (content-hash decision, same
    * machinery as q_sample). */
  def qBalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val nMin = counts.agg(min(col("n")).as("n_min"))
    val thresholds = counts.crossJoin(broadcast(nMin))
      .select(col("lang"),
        // integer div, not floor(double /): a correctly-rounded double
        // quotient can land ON an integer the true quotient sits below
        expr("(n_min * 10000) div n").as("__thr"))
    docs.join(broadcast(thresholds), "lang")
      .filter(graft.exec.Sampling.hashBucket(col("doc_id")) < col("__thr"))
      .select(col("doc_id"), col("lang"))
  }

  val qBalanceSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT lang, (SELECT min(n) FROM c) * 10000 // n AS thr FROM c)
      |SELECT doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
      |WHERE (doc_id % 1000000007) * 2654435761 % 10000 < thr""".stripMargin

  /** Weighted mixture sampling: downsample languages so the OUTPUT
    * mixture hits target shares (en 50%, zh 20%, de/es/fr 10% each) at
    * the largest total the corpus can supply without upsampling —
    * T = min_s(n_s·10 div w_s), kept_s ≈ w_s·T/10. Every step is integer
    * arithmetic (weights in tenths), so thresholds are identical across
    * engines, and the keep decision is the same content-hash bucket as
    * q_sample. One tiny count aggregate, then map-side. */
  def qMixture(s: SparkSession, dir: String): DataFrame = {
    val w10 = expr("CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END")
    val docs = Tables(s, dir, "documents")
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("w10", w10)
    val t = counts.agg(min(expr("(n * 10) div w10")).as("t"))
    val thresholds = counts.crossJoin(broadcast(t))
      .select(col("lang"),
        expr("(((w10 * t) div 10) * 10000) div n").as("__thr"))
    docs.join(broadcast(thresholds), "lang")
      .filter(graft.exec.Sampling.hashBucket(col("doc_id")) < col("__thr"))
      .select(col("doc_id"), col("lang"))
  }

  val qMixtureSql: String =
    """WITH c AS (SELECT lang, count(*) AS n,
      |  CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2 ELSE 1 END AS w10
      |  FROM documents GROUP BY 1),
      |mt AS (SELECT min((n * 10) // w10) AS t FROM c),
      |th AS (SELECT lang, (((w10 * t) // 10) * 10000) // n AS thr FROM c, mt)
      |SELECT doc_id, d.lang FROM documents d JOIN th ON d.lang = th.lang
      |WHERE (doc_id % 1000000007) * 2654435761 % 10000 < thr""".stripMargin

  /** EXACT-k stratified sampling ([[graft.exec.Sampling
    * .exactStratifiedSample]]): 50 documents per language under the
    * reproducible (hash-bucket, md5, id) order. The ORACLE is the naive
    * per-stratum window — the spec — while the engine runs the two-phase
    * plan (bucket-count prefix + boundary-bucket-only sort), so the
    * hash-match proves the scalable plan selects identical rows. */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.exec.Sampling.exactStratifiedSample(
      Tables(s, dir, "documents"), "doc_id", "lang", n = 50)
      .select(col("doc_id"), col("lang"))

  val qStratifiedSampleSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY (doc_id % 1000000007) * 2654435761 % 10000,
      |             md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t WHERE rn <= 50""".stripMargin

  /** CCNet-style sub-document dedup: 10-token segments deduped corpus-wide
    * (keep-first by doc/position), documents reassembled from survivors. */
  def qDedupLines(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSegments(Tables(s, dir, "documents"), "text", "doc_id")
      .withColumnRenamed("id", "doc_id")

  val qDedupLinesSql: String =
    """WITH t AS (SELECT doc_id,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM documents),
      |c AS (SELECT doc_id, u.cid AS seg_idx, u.seg FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, (greatest(len(toks) - 10, 0) + 9) // 10 + 1),
      |    i -> {'cid': i, 'seg': array_to_string(toks[(i*10+1):(i*10+10)], ' ')})) AS u
      |  FROM t)),
      |r AS (SELECT doc_id, seg_idx, seg,
      |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM c)
      |SELECT doc_id, count(*) AS n_segs,
      |  string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned
      |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin

  /** Deterministic mode (argmax) aggregate: each language's most frequent
    * token. Built-in `mode()` breaks ties arbitrarily in both engines, so
    * the argmax is a lexicographic struct max — (count, token) — which is
    * also the map-side-partial-friendly formulation (two grouped passes,
    * both partially aggregated; never a per-group sort). */
  def qMode(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "documents")
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(max(struct(col("n"), col("token"))).as("m"))
      .select(col("lang"), col("m.token").as("top_token"), col("m.n").as("n"))
  }

  val qModeSql: String =
    """WITH t AS (SELECT lang,
      |  unnest(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS token FROM documents),
      |c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY 1, 2),
      |r AS (SELECT lang, token, n,
      |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token DESC) AS rn FROM c)
      |SELECT lang, token AS top_token, n FROM r WHERE rn = 1""".stripMargin

  /** Sliding-window document chunking (50-token chunks, stride 40): the
    * standard long-document windowing pass before tokenization/packing.
    * Pure map-side — tokenize once, emit every window with posexplode;
    * chunk count uses exact integer arithmetic so both engines agree. */
  def qChunk(s: SparkSession, dir: String): DataFrame = {
    val chunk = 50; val stride = 40
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .withColumn("k",
        expr(s"(greatest(size(t) - $chunk, 0) + ${stride - 1}) div $stride + 1"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("k") - 1),
          i => concat_ws(" ", slice(col("t"), i * stride + 1, lit(chunk))))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(split(col("col"), " ")).cast("long").as("n_tokens"),
        col("col").as("chunk"))
  }

  val qChunkSql: String =
    """WITH t AS (SELECT doc_id,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS t FROM documents),
      |c AS (SELECT doc_id, t,
      |  (greatest(len(t) - 50, 0) + 39) // 40 + 1 AS k FROM t),
      |x AS (SELECT doc_id, unnest(list_transform(range(0, k), i ->
      |  {'cid': i, 'chunk': array_to_string(t[(i*40+1):(i*40+50)], ' ')})) AS u
      |  FROM c)
      |SELECT doc_id, u.cid AS chunk_id,
      |  len(string_split(u.chunk, ' ')) AS n_tokens, u.chunk AS chunk
      |FROM x""".stripMargin

  /** Inverted index over the corpus: term -> df + sorted posting list. */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(Tables(s, dir, "documents"), "text", "doc_id")

  val qInvertedIndexSql: String =
    """WITH t AS (SELECT DISTINCT doc_id,
      |  unnest(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS term FROM documents)
      |SELECT term, count(*) AS df,
      |  to_json(list_sort(list(doc_id))) AS postings
      |FROM t GROUP BY term""".stripMargin

  /** Gopher-style repetition quality signals (top-2-gram share, duplicate
    * 2-gram share, consecutive-token repeats). */
  def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(Tables(s, dir, "documents"), "text", "doc_id", n = 2)

  val qRepetitionSql: String =
    """WITH t AS (SELECT doc_id,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |g AS (SELECT doc_id,
      |  unnest(list_transform(range(0, greatest(len(w) - 2, 0) + 1),
      |    i -> array_to_string(w[i+1:i+2], ' '))) AS g FROM t),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
      |a AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top2gram_frac,
      |  1.0 - count(*)::DOUBLE / sum(c) AS dup2gram_frac FROM c GROUP BY doc_id),
      |r AS (SELECT doc_id,
      |  len(list_filter(range(1, len(w)), i -> w[i] = w[i+1]))::DOUBLE
      |    / greatest(len(w) - 1, 1) AS rep_ratio FROM t)
      |SELECT a.doc_id, rep_ratio, top2gram_frac, dup2gram_frac
      |FROM a JOIN r USING (doc_id)""".stripMargin

  /** Benchmark contamination: documents sharing ≥5 word-trigram shingles
    * with the "benchmark" slice (doc_id % 10 = 0). */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    TextAnalysis.contamination(
      d.filter(col("doc_id") % 10 =!= 0),
      d.filter(col("doc_id") % 10 === 0),
      "text", "doc_id", n = 3, minOverlap = 5)
  }

  val qContaminationSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w
      |           FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM t),
      |bench AS (SELECT DISTINCT unnest(t) AS s FROM sh WHERE doc_id % 10 = 0),
      |docs AS (SELECT doc_id, t FROM sh WHERE doc_id % 10 <> 0),
      |ex AS (SELECT doc_id, unnest(t) AS s FROM docs),
      |hits AS (SELECT doc_id, count(*) AS n FROM ex JOIN bench USING (s) GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(h.n, 0) AS n_overlap,
      |  COALESCE(h.n, 0) >= 5 AS contaminated
      |FROM docs d LEFT JOIN hits h USING (doc_id)""".stripMargin

  /** Duplicated-span exposure per document (substring-level dedup signal):
    * tokens inside any ≥6-token window occurring more than once anywhere
    * in the corpus. Planted duplicates (full copies) plus natural template
    * overlap give the operator real work at every sf. */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    Dedup.duplicateSpans(d.unionAll(planted), "text", "doc_id", w = 6)
  }

  private val spanWinSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50),
      |t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks
      |      FROM corpus),
      |p AS (SELECT doc_id, toks, len(toks) AS n_tokens,
      |        unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t),
      |w AS (SELECT doc_id, n_tokens, pos,
      |        array_to_string(toks[pos:pos+5], ' ') AS win FROM p)""".stripMargin

  val qSpanDedupSql: String =
    s"""WITH $spanWinSql,
       |o AS (SELECT doc_id, n_tokens, pos,
       |        count(*) OVER (PARTITION BY win) AS n_occ FROM w),
       |m AS (SELECT doc_id, n_tokens, pos FROM o WHERE n_occ > 1),
       |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
       |                     THEN 0 ELSE 1 END AS brk FROM m),
       |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
       |sp AS (SELECT doc_id, island, min(pos) AS s,
       |         least(max(pos) + 5, any_value(n_tokens)) AS e
       |       FROM isl GROUP BY doc_id, island),
       |d AS (SELECT doc_id, sum(e - s + 1) AS dup_tokens FROM sp GROUP BY doc_id),
       |base AS (SELECT doc_id, len(string_split_regex(lower(trim(text)), '[ \t\n\f\r]+')) AS n_tokens
       |         FROM corpus)
       |SELECT b.doc_id, b.n_tokens, coalesce(d.dup_tokens, 0)::BIGINT AS dup_tokens,
       |  coalesce(d.dup_tokens, 0)::DOUBLE / greatest(b.n_tokens, 1) AS dup_frac
       |FROM base b LEFT JOIN d USING (doc_id)""".stripMargin

  /** Span-level trim: drop every duplicated ≥6-token span except its first
    * (doc_id, pos) occurrence and reassemble the survivors — planted full
    * copies come back empty, partially-templated docs lose only the
    * repeated region. */
  def qSpanTrim(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    Dedup.trimSpans(d.unionAll(planted), "text", "doc_id", w = 6)
  }

  val qSpanTrimSql: String =
    s"""WITH $spanWinSql,
       |o AS (SELECT doc_id, n_tokens, pos,
       |        count(*) OVER (PARTITION BY win) AS n_occ,
       |        row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM w),
       |m AS (SELECT doc_id, n_tokens, pos FROM o WHERE n_occ > 1 AND rn > 1),
       |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
       |                     THEN 0 ELSE 1 END AS brk FROM m),
       |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
       |sp AS (SELECT doc_id, island, min(pos) AS s,
       |         least(max(pos) + 5, any_value(n_tokens)) AS e
       |       FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
       |tok AS (SELECT doc_id, unnest(toks) AS tok,
       |          unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
       |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
       |         WHERE c.pos IS NULL),
       |agg AS (SELECT doc_id, count(*) AS kept_tokens,
       |          string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
       |        FROM kept GROUP BY doc_id)
       |SELECT c.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
       |  coalesce(a.trimmed_text, '') AS trimmed_text
       |FROM corpus c LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Document pairs sharing a ≥8-token verbatim run, with the exact
    * longest-run length. Spark side finds candidates via winnowed
    * fingerprints (guarantee length exactly 8, so nothing the oracle
    * finds can be missed); the DuckDB oracle is the honest brute force —
    * every window self-joined — proving candidate generation lossless. */
  def qSpanPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    Dedup.sharedRunPairs(d.unionAll(planted), "text", "doc_id",
      minRun = 8, w = 6)
  }

  val qSpanPairsSql: String =
    s"""WITH $spanWinSql,
       |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
       |      FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
       |d AS (SELECT *, pa - pb AS diag FROM j),
       |i AS (SELECT *, CASE WHEN pa - lag(pa) OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) = 1
       |                     THEN 0 ELSE 1 END AS brk FROM d),
       |isl AS (SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS island FROM i),
       |r AS (SELECT id_a, id_b, max(pa) - min(pa) + 6 AS run
       |      FROM isl GROUP BY id_a, id_b, diag, island)
       |SELECT id_a, id_b, max(run) AS max_run
       |FROM r GROUP BY id_a, id_b HAVING max(run) >= 8""".stripMargin

  /** Surgical decontamination: same benchmark split as q_contamination
    * (doc_id % 10 == 0 is the "benchmark"), but instead of flagging the
    * document, every ≥6-token run that appears verbatim in the benchmark
    * is cut out and the rest of the text reassembled. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    Dedup.trimMatchingSpans(
      d.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text")),
      "text", "doc_id",
      d.filter(col("doc_id") % 10 === 0), "text", w = 6)
  }

  val qDecontaminateSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks
      |           FROM documents),
      |p AS (SELECT doc_id, toks, len(toks) AS n_tokens,
      |        unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t),
      |w AS (SELECT doc_id, n_tokens, pos,
      |        array_to_string(toks[pos:pos+5], ' ') AS win FROM p),
      |ref AS (SELECT DISTINCT win FROM w WHERE doc_id % 10 = 0),
      |m AS (SELECT doc_id, n_tokens, pos FROM w
      |      WHERE doc_id % 10 <> 0 AND win IN (SELECT win FROM ref)),
      |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
      |                     THEN 0 ELSE 1 END AS brk FROM m),
      |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
      |sp AS (SELECT doc_id, island, min(pos) AS s,
      |         least(max(pos) + 5, any_value(n_tokens)) AS e
      |       FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
      |tok AS (SELECT doc_id, unnest(toks) AS tok,
      |          unnest(range(1, len(toks) + 1)) AS pos FROM t WHERE doc_id % 10 <> 0),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
      |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, count(*) AS kept_tokens,
      |          string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
      |  coalesce(a.trimmed_text, '') AS trimmed_text
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Standing span-index lifecycle under the oracle gate: build the
    * window-hash index over the corpus split, then span-trim a delta
    * (fifth of the docs plus planted full copies of corpus docs) against
    * it. The oracle recomputes the same trim from scratch in SQL, so a
    * hash-pass proves the indexed probe equals the logical definition. */
  def qSpanIncrIdx(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = "graft_idx_span"
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .unionAll(corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    SpanIndex.write(corpus, "text", "doc_id", base, w = 6)
    SpanIndex.trimIncremental(s, base, delta, "text", "doc_id")
  }

  val qSpanIncrIdxSql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
      |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |          UNION ALL
      |          SELECT doc_id + 10000 AS doc_id, text FROM documents
      |          WHERE doc_id % 5 <> 0 AND doc_id < 30),
      |tc AS (SELECT string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM corpus),
      |pc AS (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tc),
      |ref AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM pc),
      |td AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM delta),
      |pd AS (SELECT doc_id, toks, len(toks) AS n_tokens,
      |         unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM td),
      |wd AS (SELECT doc_id, n_tokens, pos,
      |         array_to_string(toks[pos:pos+5], ' ') AS win FROM pd),
      |o AS (SELECT doc_id, n_tokens, pos, win,
      |        count(*) OVER (PARTITION BY win) AS n_occ,
      |        row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM wd),
      |m AS (SELECT doc_id, n_tokens, pos FROM o WHERE win IN (SELECT win FROM ref)
      |      UNION
      |      SELECT doc_id, n_tokens, pos FROM o WHERE n_occ > 1 AND rn > 1),
      |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
      |                     THEN 0 ELSE 1 END AS brk FROM m),
      |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
      |sp AS (SELECT doc_id, island, min(pos) AS s,
      |         least(max(pos) + 5, any_value(n_tokens)) AS e
      |       FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
      |tok AS (SELECT doc_id, unnest(toks) AS tok,
      |          unnest(range(1, len(toks) + 1)) AS pos FROM td),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
      |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, count(*) AS kept_tokens,
      |          string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
      |  coalesce(a.trimmed_text, '') AS trimmed_text
      |FROM (SELECT doc_id FROM delta) d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Span-index observability under the oracle gate: build over the
    * corpus split, bulk-append the complement as a tagged batch, then
    * read back occupancy/provenance. The oracle recomputes every counter
    * from the fixture (appended = delta windows the corpus didn't already
    * own), so a hash-pass proves the append's anti-join dedup and the
    * stamp bookkeeping are exact. */
  def qSpanStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = "graft_idx_sstats"
    SpanIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", base, w = 6, buckets = 8)
    SpanIndex.append(s, base, docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id", bid = 7L)
    SpanIndex.stats(s, base)
  }

  val qSpanStatsSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks
      |           FROM documents),
      |p AS (SELECT doc_id, toks,
      |        unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t),
      |w AS (SELECT doc_id, array_to_string(toks[pos:pos+5], ' ') AS win FROM p),
      |c AS (SELECT DISTINCT win FROM w WHERE doc_id % 5 <> 0),
      |d AS (SELECT DISTINCT win FROM w WHERE doc_id % 5 = 0),
      |u AS (SELECT win FROM c UNION SELECT win FROM d),
      |nc AS (SELECT count(*)::BIGINT AS n FROM c),
      |nd AS (SELECT count(*)::BIGINT AS n FROM d),
      |nu AS (SELECT count(*)::BIGINT AS n FROM u)
      |SELECT 'rows' AS metric, (SELECT n FROM nc) + (SELECT n FROM nd) AS value
      |UNION ALL SELECT 'live_hashes', (SELECT n FROM nu)
      |UNION ALL SELECT 'tombstone_rows', 0
      |UNION ALL SELECT 'bulk_rows', (SELECT n FROM nc)
      |UNION ALL SELECT 'appended_rows', (SELECT n FROM nd)
      |UNION ALL SELECT 'buckets', 8
      |UNION ALL SELECT 'w', 6""".stripMargin

  /** Takedown under the oracle gate (the q_dedup_delete twin): build the
    * span index, delete a third of the corpus (negative-refcount
    * tombstones — O(deleted tokens), no corpus rewrite), then span-trim
    * the usual delta. The oracle trims against the SURVIVING corpus
    * only, so a hash-pass proves a window dies exactly when its last
    * live owner is taken down and survives while any other owner
    * remains. */
  def qSpanDelete(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = "graft_idx_sdel"
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    SpanIndex.write(corpus, "text", "doc_id", base, w = 6, buckets = 8)
    SpanIndex.delete(s, base, corpus.filter(col("doc_id") % 3 === 1),
      "text", "doc_id")
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .unionAll(corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    SpanIndex.trimIncremental(s, base, delta, "text", "doc_id")
  }

  val qSpanDeleteSql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents
      |               WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 1),
      |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |          UNION ALL
      |          SELECT doc_id + 10000 AS doc_id, text FROM documents
      |          WHERE doc_id % 5 <> 0 AND doc_id < 30),
      |tc AS (SELECT string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM corpus),
      |pc AS (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tc),
      |ref AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM pc),
      |td AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks FROM delta),
      |pd AS (SELECT doc_id, toks, len(toks) AS n_tokens,
      |         unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM td),
      |wd AS (SELECT doc_id, n_tokens, pos,
      |         array_to_string(toks[pos:pos+5], ' ') AS win FROM pd),
      |o AS (SELECT doc_id, n_tokens, pos, win,
      |        count(*) OVER (PARTITION BY win) AS n_occ,
      |        row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM wd),
      |m AS (SELECT doc_id, n_tokens, pos FROM o WHERE win IN (SELECT win FROM ref)
      |      UNION
      |      SELECT doc_id, n_tokens, pos FROM o WHERE n_occ > 1 AND rn > 1),
      |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
      |                     THEN 0 ELSE 1 END AS brk FROM m),
      |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
      |sp AS (SELECT doc_id, island, min(pos) AS s,
      |         least(max(pos) + 5, any_value(n_tokens)) AS e
      |       FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
      |tok AS (SELECT doc_id, unnest(toks) AS tok,
      |          unnest(range(1, len(toks) + 1)) AS pos FROM td),
      |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
      |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, count(*) AS kept_tokens,
      |          string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
      |  coalesce(a.trimmed_text, '') AS trimmed_text
      |FROM (SELECT doc_id FROM delta) d LEFT JOIN agg a USING (doc_id)""".stripMargin

  // -------------------------------------------- q_stream_span_lifecycle

  /** The standing SPAN (substring-dedup) index driven through a REAL
    * Structured-Streaming lifecycle with a MID-STREAM TAKEDOWN — the
    * fourth and last standing index joining the stream-proven family
    * (dedup, ANN, chunks):
    *
    *  1. batch-build the window-hash index over the corpus split;
    *  2. batch 0 = the even delta PLUS planted full copies of corpus
    *     docs (ids +10000, which must trim to empty and hence append
    *     NOTHING — [[graft.ext.SpanIndex.append]]'s empty-text filter
    *     under stream), via `readStream → IngestSpans →
    *     Trigger.AvailableNow`; survivors' trimmed windows fold in;
    *  3. MID-STREAM, take down a third of the corpus (negative-refcount
    *     tombstones);
    *  4. batch 1 (checkpointed restart over a late file) = the odd
    *     delta PLUS copies of batch-0 docs (+30000 — they must now trim
    *     against batch 0's streamed APPEND) PLUS copies of the deleted
    *     corpus docs (+40000 — their uniquely-owned windows must be
    *     DEAD, so they survive exactly where no other owner remains).
    *
    * The oracle replays both trims closed-form (batch 1's reference set
    * = surviving corpus windows ∪ batch-0 trimmed-text windows), so a
    * hash-pass proves the refcount live-set arithmetic, the streamed
    * append of re-tokenized trimmed text, the batch-scoped stamp
    * exclusion, and the takedown all compose under checkpointed
    * restart. */
  def qStreamSpanLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamspan", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = "graft_idx_streamspan"
    SpanIndex.write(corpus, "text", "doc_id", idx, w = 6, buckets = 8)
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestSpans.run(
          s.readStream.schema(docs.schema).parquet(inDir), idx,
          "text", "doc_id", outPath = s"$base/out",
          checkpoint = s"$base/ckpt", updateIndex = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0)
      .unionAll(corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    runToCompletion()
    // mid-stream takedown, between the two checkpointed runs
    SpanIndex.delete(s, idx, corpus.filter(col("doc_id") % 3 === 1),
      "text", "doc_id")
    docs.filter(col("doc_id") % 10 === 5)
      .unionAll(docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < 30)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
      .unionAll(corpus.filter(col("doc_id") % 3 === 1 && col("doc_id") < 60)
        .select((col("doc_id") + 40000).as("doc_id"), col("text")))
      .coalesce(1).write.mode("append").parquet(inDir)
    runToCompletion()
    s.read.parquet(s"$base/out")
      .select(col("doc_id"), col("kept_tokens"), col("trimmed_text"),
        col("batch_id").cast("int").as("batch_id"))
  }

  /** One span-trim replay block (the qSpanIncrIdxSql body) rooted on a
    * pluggable delta relation and window-reference relation; `p`
    * suffixes the CTE names so two trims can chain. */
  private[queries] def spanTrimCtes(p: String, deltaRel: String,
                           refRel: String): String =
    s"""td$p AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM $deltaRel),
       |pd$p AS (SELECT doc_id, toks, len(toks) AS n_tokens,
       |  unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM td$p),
       |wd$p AS (SELECT doc_id, n_tokens, pos,
       |  array_to_string(toks[pos:pos+5], ' ') AS win FROM pd$p),
       |o$p AS (SELECT doc_id, n_tokens, pos, win,
       |    count(*) OVER (PARTITION BY win) AS n_occ,
       |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM wd$p),
       |m$p AS (SELECT doc_id, n_tokens, pos FROM o$p
       |    WHERE win IN (SELECT win FROM $refRel)
       |  UNION
       |  SELECT doc_id, n_tokens, pos FROM o$p WHERE n_occ > 1 AND rn > 1),
       |i$p AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
       |    THEN 0 ELSE 1 END AS brk FROM m$p),
       |isl$p AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i$p),
       |sp$p AS (SELECT doc_id, island, min(pos) AS s,
       |    least(max(pos) + 5, any_value(n_tokens)) AS e
       |  FROM isl$p GROUP BY doc_id, island),
       |cov$p AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp$p),
       |tok$p AS (SELECT doc_id, unnest(toks) AS tok,
       |    unnest(range(1, len(toks) + 1)) AS pos FROM td$p),
       |kept$p AS (SELECT k.doc_id, k.pos, k.tok FROM tok$p k
       |  LEFT JOIN cov$p c ON k.doc_id = c.doc_id AND k.pos = c.pos
       |  WHERE c.pos IS NULL),
       |agg$p AS (SELECT doc_id, count(*) AS kept_tokens,
       |    string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
       |  FROM kept$p GROUP BY doc_id),
       |out$p AS (SELECT d.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
       |    coalesce(a.trimmed_text, '') AS trimmed_text
       |  FROM (SELECT doc_id FROM $deltaRel) d LEFT JOIN agg$p a USING (doc_id))""".stripMargin

  val qStreamSpanLifecycleSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
       |dA AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 10000, text FROM documents
       |    WHERE doc_id % 5 <> 0 AND doc_id < 30),
       |tc AS (SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM corpus),
       |pc AS (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tc),
       |ref0 AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM pc),
       |${spanTrimCtes("0", "dA", "ref0")},
       |t0w AS (SELECT doc_id, string_split(trimmed_text, ' ') AS toks
       |  FROM out0 WHERE kept_tokens > 0),
       |p0w AS (SELECT doc_id, toks,
       |  unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t0w),
       |w0 AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM p0w),
       |surv AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 1),
       |ts AS (SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM surv),
       |ps AS (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM ts),
       |refs AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM ps),
       |ref1 AS (SELECT win FROM refs UNION SELECT win FROM w0),
       |dB AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5
       |  UNION ALL SELECT doc_id + 30000, text FROM documents
       |    WHERE doc_id % 10 = 0 AND doc_id < 30
       |  UNION ALL SELECT doc_id + 40000, text FROM documents
       |    WHERE doc_id % 5 <> 0 AND doc_id % 3 = 1 AND doc_id < 60),
       |${spanTrimCtes("1", "dB", "ref1")}
       |SELECT doc_id, kept_tokens, trimmed_text, 0::INT AS batch_id FROM out0
       |UNION ALL
       |SELECT doc_id, kept_tokens, trimmed_text, 1::INT AS batch_id FROM out1""".stripMargin

  /** Novelty of the delta split against the corpus-built span index:
    * per-doc counts of corpus-known windows and the new fraction —
    * the sample-by-information-gain signal. Oracle recomputes from the
    * fixture's window sets. */
  def qSpanNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = "graft_idx_snov"
    SpanIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", base, w = 6, buckets = 8)
    SpanIndex.noveltyStats(s, base, docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id")
  }

  val qSpanNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS toks
      |           FROM documents),
      |p AS (SELECT doc_id, toks,
      |        unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t),
      |w AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+5], ' ') AS win FROM p),
      |ref AS (SELECT DISTINCT win FROM w WHERE doc_id % 5 <> 0),
      |d AS (SELECT doc_id, pos, win FROM w WHERE doc_id % 5 = 0),
      |k AS (SELECT doc_id, count(*)::BIGINT AS known_windows FROM d
      |      WHERE win IN (SELECT win FROM ref) GROUP BY doc_id),
      |n AS (SELECT doc_id, count(*)::BIGINT AS n_windows FROM d GROUP BY doc_id)
      |SELECT n.doc_id, n.n_windows, coalesce(k.known_windows, 0) AS known_windows,
      |  (n.n_windows - coalesce(k.known_windows, 0))::DOUBLE / n.n_windows AS novelty_frac
      |FROM n LEFT JOIN k USING (doc_id)""".stripMargin

  /** End-to-end corpus-prep pipeline in ONE query — the engine's primary
    * use-case, with each stage oracle-mirrored: exact dedup (keep min-id
    * representative) → span-level benchmark decontamination (cut every
    * ≥6-token run shared with the doc_id%10==0 "benchmark") → quality
    * scoring of the DECONTAMINATED text → keep verdict. Proves the
    * operators compose: stage 3 consumes stage 2's reassembled text, not
    * the original. */
  def qPrepPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val bench = d.filter(col("doc_id") % 10 === 0)
    val pool = d.filter(col("doc_id") % 10 =!= 0)
    val s1 = Dedup.exact(pool, "text", "doc_id")
      .select(col("keep_id").as("doc_id"), col("text"))
    val s2 = Dedup.trimMatchingSpans(s1, "text", "doc_id", bench, "text", w = 6)
    s2.select(col("doc_id"), col("kept_tokens"),
        TextAnalysis.qualityScore(col("trimmed_text")).as("quality"))
      .withColumn("keep", col("quality") >= 0.5 && col("kept_tokens") >= 20)
  }

  val qPrepPipelineSql: String =
    s"""WITH d1 AS (SELECT min(doc_id) AS doc_id, text FROM documents
       |            WHERE doc_id % 10 <> 0 GROUP BY text),
       |tb AS (SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks
       |       FROM documents WHERE doc_id % 10 = 0),
       |pb AS (SELECT toks, unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM tb),
       |ref AS (SELECT DISTINCT array_to_string(toks[pos:pos+5], ' ') AS win FROM pb),
       |t1 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks
       |       FROM d1),
       |p1 AS (SELECT doc_id, toks, len(toks) AS n_tokens,
       |         unnest(range(1, greatest(len(toks) - 5, 1) + 1)) AS pos FROM t1),
       |w1 AS (SELECT doc_id, n_tokens, pos,
       |         array_to_string(toks[pos:pos+5], ' ') AS win FROM p1),
       |m AS (SELECT doc_id, n_tokens, pos FROM w1 WHERE win IN (SELECT win FROM ref)),
       |i AS (SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 6
       |                     THEN 0 ELSE 1 END AS brk FROM m),
       |isl AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
       |sp AS (SELECT doc_id, island, min(pos) AS s,
       |         least(max(pos) + 5, any_value(n_tokens)) AS e
       |       FROM isl GROUP BY doc_id, island),
       |cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp),
       |tok AS (SELECT doc_id, unnest(toks) AS tok,
       |          unnest(range(1, len(toks) + 1)) AS pos FROM t1),
       |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
       |         LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
       |         WHERE c.pos IS NULL),
       |agg AS (SELECT doc_id, count(*) AS kept_tokens,
       |          string_agg(tok, ' ' ORDER BY pos) AS trimmed_text
       |        FROM kept GROUP BY doc_id),
       |s2 AS (SELECT d.doc_id, coalesce(a.kept_tokens, 0) AS kept_tokens,
       |         coalesce(a.trimmed_text, '') AS txt
       |       FROM d1 d LEFT JOIN agg a USING (doc_id)),
       |t2 AS (SELECT doc_id, kept_tokens, txt,
       |         string_split_regex(lower(trim(txt)), '[ \\t\\n\\f\\r]+') AS toks FROM s2),
       |m2 AS (SELECT doc_id, kept_tokens, len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(txt), '[^a-z0-9 \\t\\n\\f\\r]'))::DOUBLE
       |    / greatest(length(txt), 1) AS punct_ratio,
       |  len(list_filter(toks, x -> x IN ($swList)))::DOUBLE
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |    / greatest(len(toks), 1) AS mean_token_len
       |FROM t2),
       |q AS (SELECT doc_id, kept_tokens,
       |  0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |  + 0.3 * (CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)) AS quality
       |FROM m2)
       |SELECT doc_id, kept_tokens, quality,
       |  (quality >= 0.5 AND kept_tokens >= 20) AS keep FROM q""".stripMargin

  // ----------------------------------------------------------- dedup

  /** Exact dedup over documents augmented with planted duplicates
    * (ids shifted by 10000) so the operator has real work at every sf. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    Dedup.exact(d.unionAll(planted), "text", "doc_id")
  }

  val qDedupExactSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50)
      |SELECT min(doc_id) AS keep_id, text, count(*) AS n_copies
      |FROM aug GROUP BY text""".stripMargin

  /** Exact word-trigram Jaccard near-dup pairs (threshold 0.5) via the
    * prefix-filtered set-similarity join, blocked by language — lossless,
    * fully oracle-checkable (the oracle runs the plain quadratic loop and
    * must produce identical rows). */
  def qDedupJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(Tables(s, dir, "documents"),
      "text", "doc_id", "lang", threshold = 0.5)

  val qDedupJaccardSql: String =
    """WITH t AS (SELECT doc_id, lang,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM t)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(list_intersect(a.t, b.t))::DOUBLE
      |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jaccard
      |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.t, b.t))::DOUBLE
      |    / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.5""".stripMargin

  // Thresholds shared between each approximate query and its companion
  // verification: tune the production query and the companion's contract
  // moves with it instead of silently verifying the old setting.
  private val MinhashMinEstimate = 0.5
  private val SimhashMaxHamming = 6
  private val NearDupThreshold = 0.7

  /** Scale gate for the brute-force sides of the refutation companions.
    * A `_verified` twin exists to REFUTE the approximate operator, and
    * refutation power per doc is constant — so its deliberately-quadratic
    * recall scan must run on a bounded deterministic slice, never the
    * whole corpus: above the cap its cost would dominate any bench sf and
    * at 100 TB it simply cannot run. At the driver's correctness sf
    * (0.01, ~5k docs) the slice IS the full corpus, so the gate still
    * certifies the complete production emitted set there. */
  private[graft] val CompanionCap = 6000L

  /** Deterministic ~`cap`-doc slice ([[graft.exec.Sampling.boundedSlice]]
    * — shared with the TrainPrep companions so the slice semantics
    * cannot drift between families). */
  private def boundedSlice(docs: DataFrame, idCol: String,
                           cap: Long = CompanionCap): DataFrame =
    graft.exec.Sampling.boundedSlice(docs, idCol, cap)

  /** MinHash+LSH candidate pairs (est. Jaccard ≥ 0.5) — approximate,
    * rows-only check; recall asserted against exact pairs in ExtSpec. */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables(s, dir, "documents"), "text", "doc_id",
      minEstimate = MinhashMinEstimate)

  /** SimHash near-dup pairs (hamming ≤ 6 of 64 bits) — rows-only. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables(s, dir, "documents"), "text", "doc_id",
      maxHamming = SimhashMaxHamming)

  /** LSH-prefiltered, exactly-verified near-dup pairs — rows-only
    * (prefilter recall < 1 by construction). */
  def qNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(Tables(s, dir, "documents"), "text", "doc_id",
      threshold = NearDupThreshold)

  /** 3-token shingle Jaccard recomputed from Catalyst BUILT-INS only —
    * [[Dedup.shinglesHof]] + [[Dedup.jaccard]], the interpreted HOF twins
    * kept for parity testing (they share [[TextAnalysis]]'s one
    * whitespace class but none of the custom Expressions' code), so the
    * companion queries below cross-examine the engine's verify stage
    * with different execution machinery. */
  private def sqlJaccard(textA: Column, textB: Column): Column =
    Dedup.jaccard(Dedup.shinglesHof(textA), Dedup.shinglesHof(textB))

  /** Companion verification of [[qNearDup]]'s VERIFY stage: candidates
    * are engine-specific (LSH), but every EMITTED pair's Jaccard is
    * recomputable — re-derive it from built-ins and emit one row per
    * CONTRACT BREACH (emitted score wrong, or below the threshold). The
    * oracle is the empty set: a hash-pass PROVES every emitted pair
    * clears the threshold with the exactly right score, turning the
    * rows-only q_near_dup into an oracle-verified one. */
  def qNearDupVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    qNearDup(s, dir) // verify the PRODUCTION emitted set, not a re-instantiation
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
      .withColumn("__j", sqlJaccard(col("__ta"), col("__tb")))
      .filter(col("__j") < NearDupThreshold ||
        abs(col("__j") - col("jaccard")) > 1e-12)
      .select(col("id_a"), col("id_b"),
        lit("verify_breach").as("problem"))
  }

  val qNearDupVerifiedSql: String =
    """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  /** Companion verification of [[qDedupMinhash]]: the candidate set is
    * probabilistic but two DETERMINISTIC contracts bound it given the
    * fixed seed — (a) no emitted pair (estimate ≥ 0.5 = ≥32/64 agreeing
    * minhashes) may have true Jaccard < 0.05 (binomially impossible),
    * and (b) no true pair at Jaccard ≥ 0.9 may be missed by the LSH MATH
    * (per-band miss (1−0.9⁴)¹⁶ ≈ 4e-8; the exact side comes from the
    * LOSSLESS prefix join, not LSH). The recall side generates its
    * candidates UNCAPPED: the production `maxBucket` hot-bucket cap can
    * legitimately drop every band of a >cap near-identical cluster — a
    * deliberate recall/size dial, recall-tested separately in ExtSpec —
    * and must not read as an LSH-math breach here. Breach rows only;
    * oracle = empty set. */
  def qDedupMinhashVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val emitted = qDedupMinhash(s, dir) // the PRODUCTION emitted set
    val fp = emitted
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
      .filter(sqlJaccard(col("__ta"), col("__tb")) < 0.05)
      .select(col("id_a"), col("id_b"), lit("false_positive").as("problem"))
    // Recall side on the bounded slice: minhash signatures and LSH band
    // membership are per-doc properties, so "no sliced pair at J ≥ 0.9 is
    // missed" is exactly the full contract restricted to slice×slice —
    // valid at any corpus size, and the single-block prefix join (the
    // deliberately exhaustive exact side) stays bounded by the cap.
    val sliced = boundedSlice(docs, "doc_id")
    val uncapped = Dedup.minhashPairs(sliced, "text", "doc_id",
      minEstimate = MinhashMinEstimate, maxBucket = Int.MaxValue)
    val missed = Dedup.prefixJaccardPairs(
        sliced.withColumn("__blk", lit(1)), "text", "doc_id", "__blk",
        threshold = 0.9)
      .join(uncapped, Seq("id_a", "id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), lit("missed_high_sim").as("problem"))
    fp.unionByName(missed)
  }

  val qDedupMinhashVerifiedSql: String = qNearDupVerifiedSql

  // ------------------------------------------------------ similarity

  /** Threshold shared by [[qDedupClusters]] and its companion so a
    * retune moves the verified contract with it. */
  private val DedupClustersThreshold = 0.8

  /** Full near-duplicate removal: LSH-verified pairs → connected
    * components → keep each cluster's min-id representative. Rows-only
    * (LSH prefilter); cluster assignment is union-find-verified in
    * ExtSpec. */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupNear(Tables(s, dir, "documents"), "text", "doc_id",
      threshold = DedupClustersThreshold).select(col("doc_id"))

  /** Companion verification of [[qDedupClusters]]: the candidate set is
    * engine-specific (LSH), but the emitted KEEP-SET's contract is
    * checkable against the production pair generator. Breach rows:
    *  - `edge_below_threshold` — a production cluster edge whose exact
    *    Jaccard, recomputed from Catalyst BUILT-INS only
    *    ([[sqlJaccard]]), misses the threshold or its emitted score;
    *  - `rep_not_min` — a component label that is not its component's
    *    min id;
    *  - `member_without_intra_cluster_edge` — a non-representative
    *    member with NO edge into its own cluster (a torn label: every
    *    legitimate non-self label arrives through an edge);
    *  - `kept_not_representative` / `representative_dropped` — the
    *    emitted keep-set differs from the representative set;
    *  - `production_slice_divergence` (above-cap mode only) — a
    *    slice×slice pair emitted by exactly one of {production run,
    *    slice run} despite sharing a band bucket untrimmed in both —
    *    the comparable part of the full-corpus edge set, closing the
    *    r9/r10 above-cap gap (hot-bucket-only pairs stay exonerated:
    *    that loss is the cap's documented recall dial).
    * Full-path reachability (member → representative) is the recursive
    * closure q_cluster_exact already hash-verifies against DuckDB's
    * recursive CTE on the exact twin; this companion closes the
    * remaining classes on the LSH path. Oracle = empty set. */
  def qDedupClustersVerified(s: SparkSession, dir: String): DataFrame =
    dedupClustersVerifiedWithCap(s, dir, CompanionCap)

  /** [[qDedupClustersVerified]] with the slice cap injectable, so specs
    * can drive the ABOVE-CAP mode (slice ⊂ corpus + the
    * production∩slice cross-check) on a small fixture. */
  private[graft] def dedupClustersVerifiedWithCap(
      s: SparkSession, dir: String, cap: Long): DataFrame = {
    // Scale gate: at the correctness sf the slice is the full corpus and
    // `kept` is the PRODUCTION query's own output frame (not a
    // re-instantiation — production-only failure modes are refutable
    // exactly where the oracle gate runs); above the cap the companion
    // re-instantiates the identical pipeline on the bounded slice (the
    // contract classes below are per-cluster properties, equally
    // refutable on any corpus the pipeline runs on), PLUS the
    // production∩slice cross-check below closes the comparable part of
    // the production EDGE set. Residual limit of the above-cap mode:
    // slice-vs-production KEEP-sets stay incomparable (slice components
    // lack the full corpus's edges), and pairs whose every shared band
    // is hot in either run are exonerated from the cross-check (the cap
    // legitimately trims them in one run but not the other).
    val docsFull = Tables(s, dir, "documents")
    val nDocs = docsFull.count()
    val sliceIsFull = nDocs <= cap
    val docs = graft.exec.Sampling.boundedSlice(docsFull, "doc_id",
      cap, knownCount = nDocs)
    val kept =
      (if (sliceIsFull) qDedupClusters(s, dir)
       else Dedup.dedupNear(docs, "text", "doc_id",
         threshold = DedupClustersThreshold).select(col("doc_id")))
        .select(col("doc_id").as("id"))
    // the production pair generator, materialized ONCE: the edge-breach
    // scan and the cluster recomputation below would otherwise each
    // re-run the LSH+verify pipeline from the parquet scan up.
    // (Measured this round: pre-materializing `kept` concurrently with
    // this checkpoint is NEUTRAL — AQE already overlaps the independent
    // subtrees' stages inside the final breach-union action — so the
    // serial form stays.)
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id",
      threshold = DedupClustersThreshold).localCheckpoint()
    // Above the cap: assert PRODUCTION∩slice ≡ slice on the COMPARABLE
    // subset. Band buckets are per-doc properties (text + seed), so a
    // slice pair sharing a band whose bucket is untrimmed in BOTH runs
    // is a candidate in both; estimate and verify are per-pair
    // deterministic — any divergence on such a pair is a genuine breach
    // (e.g. the full-corpus cap trimming an edge it should not). Pairs
    // comparable only through hot buckets stay exonerated — that loss
    // is the cap's documented recall dial, not a breach. The diff is
    // computed FIRST (normally empty), so band-membership joins run on
    // a frame of divergences, not on slice², and the trimmed-bucket
    // frames are bounded by the number of HOT buckets.
    val prodSliceDivergence: DataFrame =
      if (sliceIsFull)
        pairs.limit(0).select(col("id_a").as("id"),
          lit("production_slice_divergence").as("problem"))
      else {
        val sliceIds = docs.select(col("doc_id").as("id"))
        val prodInSlice = Dedup.nearDupPairs(docsFull, "text", "doc_id",
            threshold = DedupClustersThreshold)
          .join(sliceIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
          .join(sliceIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
          .select(col("id_a"), col("id_b"))
        val slicePairs = pairs.select(col("id_a"), col("id_b"))
        val diff = prodInSlice.unionByName(slicePairs)
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") === 1).drop("__n").localCheckpoint()
        val bb = Dedup.minhashBandBuckets(
          docsFull.join(sliceIds.withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left_semi"), "text", "doc_id")
        val hot = Dedup.minhashTrimmedBuckets(docsFull, "text", "doc_id")
          .select(col("band"), col("bhash"))
          .unionByName(Dedup.minhashTrimmedBuckets(docs, "text", "doc_id")
            .select(col("band"), col("bhash")))
          .distinct()
        val comparable = diff
          .join(bb.select(col("id").as("id_a"), col("band"), col("bhash")),
            Seq("id_a"))
          .join(bb.select(col("id").as("id_b"), col("band"), col("bhash")),
            Seq("id_b", "band", "bhash"))
          .join(hot, Seq("band", "bhash"), "left_anti")
          .select(col("id_a"), col("id_b")).distinct()
        comparable.select(col("id_a").as("id"),
          lit("production_slice_divergence").as("problem"))
      }
    val edgeBreach = pairs
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("__ta")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("__tb")), "id_b")
      .withColumn("__j", sqlJaccard(col("__ta"), col("__tb")))
      .filter(col("__j") < DedupClustersThreshold ||
        abs(col("__j") - col("jaccard")) > 1e-12)
      .select(col("id_a").as("id"), lit("edge_below_threshold").as("problem"))
    val cl = Dedup.clusters(docs.select(col("doc_id").as("id")), pairs)
    val repNotMin = cl.groupBy(col("cluster"))
      .agg(min(col("id")).as("__min"))
      .filter(col("cluster") =!= col("__min"))
      .select(col("cluster").as("id"), lit("rep_not_min").as("problem"))
    val undirected = pairs.select(col("id_a").as("id"), col("id_b").as("__peer"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("__peer")))
    val intraEdges = undirected
      .join(cl, Seq("id"))
      .join(cl.select(col("id").as("__peer"), col("cluster").as("__pc")),
        Seq("__peer"))
      .filter(col("cluster") === col("__pc"))
      .select(col("id")).distinct()
    val tornMembers = cl.filter(col("id") =!= col("cluster"))
      .join(intraEdges, Seq("id"), "left_anti")
      .select(col("id"),
        lit("member_without_intra_cluster_edge").as("problem"))
    val reps = cl.filter(col("id") === col("cluster")).select(col("id"))
    val keptNotRep = kept.join(reps, Seq("id"), "left_anti")
      .select(col("id"), lit("kept_not_representative").as("problem"))
    val repNotKept = reps.join(kept, Seq("id"), "left_anti")
      .select(col("id"), lit("representative_dropped").as("problem"))
    edgeBreach.unionByName(repNotMin).unionByName(tornMembers)
      .unionByName(keptNotRep).unionByName(repNotKept)
      .unionByName(prodSliceDivergence)
  }

  val qDedupClustersVerifiedSql: String =
    """SELECT CAST(NULL AS BIGINT) AS id,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  /** Incremental (delta-vs-corpus) dedup: doc_id % 5 == 0 is the incoming
    * batch, the rest the standing corpus. No corpus×corpus work — exact
    * drop is one semi-join, near drop one cross-set prefix-filtered
    * Jaccard join. Oracle recomputes both rules quadratically. */
  def qDedupIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    Dedup.dedupIncremental(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id", "lang", threshold = 0.5)
  }

  /** The incremental-dedup oracle with the CORPUS membership pluggable
    * (plain string + placeholder replacement — an s-interpolator would
    * cook the regex's backslash escapes into control bytes): the base
    * predicate replicates q_dedup_incr(_idx); subtracting the deleted
    * documents replicates tombstone deletion ([[qDedupDelete]]). */
  private def dedupIncrOracleSql(corpusPred: String): String =
    """WITH w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |delta AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
      |corpus AS (SELECT * FROM sh WHERE CORPUS_PRED),
      |ex AS (SELECT DISTINCT d.doc_id FROM delta d JOIN corpus c ON d.text = c.text),
      |nr AS (SELECT DISTINCT d.doc_id FROM delta d JOIN corpus c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5)
      |SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |FROM delta d LEFT JOIN ex e ON d.doc_id = e.doc_id
      |             LEFT JOIN nr n ON d.doc_id = n.doc_id""".stripMargin
      .replace("CORPUS_PRED", corpusPred)

  val qDedupIncrSql: String = dedupIncrOracleSql("doc_id % 5 <> 0")

  val qDedupDeleteSql: String =
    dedupIncrOracleSql("doc_id % 5 <> 0 AND doc_id % 3 <> 1")

  /** Index-backed incremental dedup: identical verdict contract (and
    * oracle) as q_dedup_incr, but the corpus side is the STANDING BUCKETED
    * INDEX — built once, then every probe join reads bucket files already
    * partitioned on its join key, so only the delta shuffles (the
    * continuous-ingestion steady state; plan asserted in IOSpec). */
  def qDedupIncrIdx(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val base = "graft_idx_dincr"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", base, threshold = 0.5)
    DedupIndex.dedupIncremental(s, base, docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id", "lang", threshold = 0.5)
  }

  /** Document deletion (takedown) against the standing dedup index,
    * under the oracle gate: build the index, [[graft.ext.DedupIndex
    * .delete]] a third of the corpus (an O(|docs|) tombstone append —
    * no corpus table is rewritten), then judge the usual delta. Deleted
    * documents must witness NO verdict — the oracle is simply
    * incremental dedup against the corpus minus the deleted rows, so a
    * hash-pass proves a tombstoned document can no longer cause an
    * exact or near drop while every surviving verdict is unchanged. */
  def qDedupDelete(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val base = "graft_idx_ddel"
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    DedupIndex.write(corpus, "text", "doc_id", "lang", base, threshold = 0.5)
    DedupIndex.delete(s, base,
      corpus.filter(col("doc_id") % 3 === 1).select(col("doc_id")), "doc_id")
    DedupIndex.dedupIncremental(s, base, docs.filter(col("doc_id") % 5 === 0),
      "text", "doc_id", "lang", threshold = 0.5)
  }

  // ------------------------------------------- q_stream_dedup_lifecycle

  /** The standing DEDUP index driven through a REAL Structured-Streaming
    * lifecycle with a MID-STREAM TAKEDOWN — the crash-safety story
    * (epochs, tombstones, checkpointed restart) proven at the driver
    * gate instead of only in StreamSpec. Shape mirrors
    * q_stream_lifecycle (TrainPrepQueries):
    *
    *  1. batch-build the index on the standing corpus (doc_id % 5 ≠ 0);
    *  2. land the EVEN half of the delta (doc_id % 10 = 0) as a file,
    *     run `readStream → IngestDedup → Trigger.AvailableNow` to
    *     termination — batch 0 is judged against the corpus and its
    *     KEPT rows fold into the index (updateIndex);
    *  3. MID-STREAM, tombstone a third of the corpus
    *     ([[graft.ext.DedupIndex.delete]] — doc_id % 3 = 1);
    *  4. land the ODD half (doc_id % 10 = 5) as a late file and run the
    *     stream AGAIN on the same checkpoint — the restart discovers
    *     only the new file and judges it as batch 1 against
    *     (corpus − deleted) ∪ (batch 0's kept rows).
    *
    * The oracle replays both batches' verdicts in closed form, so a
    * hash-pass proves: checkpointed restart re-judges nothing, the
    * tombstones mask exactly the deleted documents for batch 1 while
    * batch 0's verdicts (written pre-delete) stand, and the streamed
    * index append makes batch 0's kept rows witness batch 1's rules. */
  def qStreamDedupLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamdedup", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_streamlife"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestDedup.run(
          s.readStream.schema(docs.schema).parquet(inDir),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = 0.5, verdictPath = s"$base/verdicts",
          checkpoint = s"$base/ckpt", updateIndex = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    runToCompletion()
    // mid-stream takedown, between the two checkpointed runs
    DedupIndex.delete(s, idx,
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 1)
        .select(col("doc_id")), "doc_id")
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    s.read.parquet(s"$base/verdicts")
      .select(col("doc_id"), col("batch_id").cast("int").as("batch_id"),
        col("keep"), col("reason"))
  }

  /** Two-batch closed-form replay: batch 0 = incremental dedup of the
    * even delta against the full corpus; batch 1 = the odd delta against
    * (corpus minus the takedown) UNION batch 0's kept rows. */
  val qStreamDedupLifecycleSql: String =
    """WITH w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |ex0 AS (SELECT DISTINCT d.doc_id FROM d0 d JOIN corpus0 c ON d.text = c.text),
      |nr0 AS (SELECT DISTINCT d.doc_id FROM d0 d JOIN corpus0 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v0 AS (SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |  FROM d0 d LEFT JOIN ex0 e ON d.doc_id = e.doc_id
      |            LEFT JOIN nr0 n ON d.doc_id = n.doc_id),
      |corpus1 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 1
      |  UNION ALL SELECT sh.* FROM sh JOIN v0 ON sh.doc_id = v0.doc_id
      |  WHERE v0.keep),
      |d1 AS (SELECT * FROM sh WHERE doc_id % 10 = 5),
      |ex1 AS (SELECT DISTINCT d.doc_id FROM d1 d JOIN corpus1 c ON d.text = c.text),
      |nr1 AS (SELECT DISTINCT d.doc_id FROM d1 d JOIN corpus1 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v1 AS (SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |  FROM d1 d LEFT JOIN ex1 e ON d.doc_id = e.doc_id
      |            LEFT JOIN nr1 n ON d.doc_id = n.doc_id)
      |SELECT doc_id, 0::INT AS batch_id, keep, reason FROM v0
      |UNION ALL
      |SELECT doc_id, 1::INT AS batch_id, keep, reason FROM v1""".stripMargin

  // ------------------------------------------- q_stream_dedup_readmit

  /** RE-ADMISSION through the standing dedup index — the documented
    * "re-ingest a deleted document AFTER a compact has retired its
    * tombstone" path ([[graft.ext.DedupIndex.delete]]) exercised end to
    * end at the driver gate. Extends [[qStreamDedupLifecycle]] with:
    *
    *  5. [[graft.ext.DedupIndex.compactAuto]] at default thresholds —
    *     this layout sits above the crossover, so the policy chooses
    *     (and the query asserts) the PARTIAL branch: it physically removes
    *     the taken-down documents' exact/sh rows (rewriting ONLY their
    *     buckets; clean buckets and the whole pref/band accelerator
    *     tables carry over by hard link) and retires the tombstones
    *     (the precondition: a re-append BEFORE this point would stay
    *     masked, and its stale corpus rows would make the document
    *     judge against itself);
    *  6. a CLEARED subset of the deleted documents (even doc_id) lands
    *     as a late file and the SAME checkpoint runs a third leg —
    *     batch 2 judges them as ordinary new documents against the
    *     post-compact state: (corpus − takedown) ∪ both streamed
    *     batches' kept rows.
    *
    * The takedown is FIXED-COUNT (the 40 smallest corpus ids with
    * doc_id % 3 = 1) — takedowns are request-driven, they do not grow
    * with the corpus, and a percentage-based delete would mark every
    * bucket dirty and quietly turn the partial fold back into a full
    * rewrite.
    *
    * The oracle replays all three batches in closed form, so a
    * hash-pass proves the partial compact removed exactly the takedown
    * (a cleared document that still matched its own stale rows would
    * read 'exact' instead of its true verdict — including via a stale
    * pref/band row, which must die at the rewritten sh verify join)
    * and re-admission is id-precise. */
  def qStreamDedupReadmit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamdedupre", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_streamre"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    val takedown = docs
      .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 1)
      .orderBy("doc_id").limit(40).localCheckpoint()
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestDedup.run(
          s.readStream.schema(docs.schema).parquet(inDir),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = 0.5, verdictPath = s"$base/verdicts",
          checkpoint = s"$base/ckpt", updateIndex = true)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    runToCompletion()
    DedupIndex.delete(s, idx, takedown.select(col("doc_id")), "doc_id")
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    // the compaction retires the tombstones and removes the taken-down
    // rows — only now may cleared documents re-enter. PARTIAL: only the
    // tombstone-dirty exact/sh buckets rewrite; every clean bucket and
    // the whole pref/band accelerator tables carry over by hard link,
    // their stale rows dying at the rewritten sh verify join. A
    // hash-pass here therefore proves partial compaction's
    // verdict-equivalence at the driver gate, not just in ExtSpec.
    // Routed through the AUTO dispatch (r14 policy) at DEFAULT
    // thresholds rather than a direct compactPartial call: this index's
    // exact table genuinely sits above the file-count crossover at both
    // gate sfs (77 files at sf0.01 / 96 at sf0.1, dirty share 0.24–0.32
    // under the 40-doc takedown), so the policy must choose PARTIAL on
    // its own — the require makes the artifact say which branch ran.
    // The FULL branch is exercised under the same gate by
    // q_stream_ann_readmit (defaults, below-crossover corpus).
    val choice = DedupIndex.compactAuto(s, idx)
    require(choice == "partial",
      s"compactAuto must take the partial branch here, got $choice")
    takedown.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    s.read.parquet(s"$base/verdicts")
      .select(col("doc_id"), col("batch_id").cast("int").as("batch_id"),
        col("keep"), col("reason"))
  }

  /** Three-batch closed-form replay: the lifecycle's two batches (the
    * takedown is the fixed-count sparse set), then the cleared
    * re-admissions judged against (corpus − takedown) ∪ both batches'
    * kept rows. */
  val qStreamDedupReadmitSql: String =
    """WITH w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |td AS (SELECT doc_id FROM sh
      |  WHERE doc_id % 5 <> 0 AND doc_id % 3 = 1 ORDER BY doc_id LIMIT 40),
      |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |ex0 AS (SELECT DISTINCT d.doc_id FROM d0 d JOIN corpus0 c ON d.text = c.text),
      |nr0 AS (SELECT DISTINCT d.doc_id FROM d0 d JOIN corpus0 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v0 AS (SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |  FROM d0 d LEFT JOIN ex0 e ON d.doc_id = e.doc_id
      |            LEFT JOIN nr0 n ON d.doc_id = n.doc_id),
      |corpus1 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0
      |    AND doc_id NOT IN (SELECT doc_id FROM td)
      |  UNION ALL SELECT sh.* FROM sh JOIN v0 ON sh.doc_id = v0.doc_id
      |  WHERE v0.keep),
      |d1 AS (SELECT * FROM sh WHERE doc_id % 10 = 5),
      |ex1 AS (SELECT DISTINCT d.doc_id FROM d1 d JOIN corpus1 c ON d.text = c.text),
      |nr1 AS (SELECT DISTINCT d.doc_id FROM d1 d JOIN corpus1 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v1 AS (SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |  FROM d1 d LEFT JOIN ex1 e ON d.doc_id = e.doc_id
      |            LEFT JOIN nr1 n ON d.doc_id = n.doc_id),
      |corpus2 AS (SELECT * FROM corpus1
      |  UNION ALL SELECT sh.* FROM sh JOIN v1 ON sh.doc_id = v1.doc_id
      |  WHERE v1.keep),
      |d2 AS (SELECT sh.* FROM sh JOIN td ON sh.doc_id = td.doc_id
      |  WHERE sh.doc_id % 2 = 0),
      |ex2 AS (SELECT DISTINCT d.doc_id FROM d2 d JOIN corpus2 c ON d.text = c.text),
      |nr2 AS (SELECT DISTINCT d.doc_id FROM d2 d JOIN corpus2 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v2 AS (SELECT d.doc_id, (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
      |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
      |       WHEN n.doc_id IS NOT NULL THEN 'near' END AS reason
      |  FROM d2 d LEFT JOIN ex2 e ON d.doc_id = e.doc_id
      |            LEFT JOIN nr2 n ON d.doc_id = n.doc_id)
      |SELECT doc_id, 0::INT AS batch_id, keep, reason FROM v0
      |UNION ALL
      |SELECT doc_id, 1::INT AS batch_id, keep, reason FROM v1
      |UNION ALL
      |SELECT doc_id, 2::INT AS batch_id, keep, reason FROM v2""".stripMargin

  // ----------------------------------------- q_stream_cluster_lifecycle

  /** INCREMENTAL connected components maintained by streaming dedup
    * ingestion ([[graft.ext.ClusterIndex]]) — cluster ids AT INGEST
    * TIME, the architecture that replaces q_dedup_clusters' full batch
    * recompute (100.2× cost at 100× data, r12 spot100) with a
    * per-batch delta merge:
    *
    *  1. batch-build the dedup index on the standing corpus
    *     (doc_id % 5 ≠ 0) — the cluster state starts EMPTY (a deduped
    *     corpus is duplicate-free by invariant; untouched documents
    *     are implicit singletons and hold no row);
    *  2. stream the EVEN delta (doc_id % 10 = 0) through
    *     `readStream → IngestDedup(clusterBase) → AvailableNow` —
    *     batch 0's verified edges (exact + lossless prefix-Jaccard
    *     near matches vs the corpus) fold into the standing cluster
    *     table; every batch document becomes a node;
    *  3. stream the ODD delta (doc_id % 10 = 5) on the SAME
    *     checkpoint — batch 1 judges against corpus ∪ batch 0's kept
    *     rows, so its edges can BRIDGE batch-0 clusters (the
    *     touched-cluster re-assert path: members of merged clusters
    *     get new min-id labels without any corpus rescan);
    *  4. [[graft.ext.ClusterIndex.compact]] folds the assertion chain
    *     to one consolidated partition — final state must be
    *     unchanged.
    *
    * Output: the live membership (doc_id, cid). The oracle replays
    * batch-by-batch edge discovery in closed form and labels each node
    * with its component's min id via a recursive closure — a hash-pass
    * proves the incremental fold's union-find invariant (per-batch
    * merges of min-id clusters) lands exactly the batch-CC labels over
    * the union of all discovered edges. */
  def qStreamClusterLifecycle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamcc", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_streamcc"
    val cc = s"$base/cc"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestDedup.run(
          s.readStream.schema(docs.schema).parquet(inDir),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = 0.5, verdictPath = s"$base/verdicts",
          checkpoint = s"$base/ckpt", updateIndex = true,
          clusterBase = cc)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    runToCompletion()
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    ClusterIndex.compact(s, cc)
    ClusterIndex.current(s, cc).select(col("id").as("doc_id"), col("cid"))
  }

  /** Closed-form replay: batch 0's edges vs the corpus, batch 1's vs
    * corpus ∪ batch-0 keeps, then min-reachable-id over the union —
    * the recursive closure runs on the delta-incident node set only. */
  val qStreamClusterLifecycleSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |e0 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v0keep AS (SELECT doc_id FROM d0
      |  WHERE doc_id NOT IN (SELECT b FROM e0)),
      |corpus1 AS (SELECT * FROM corpus0
      |  UNION ALL SELECT sh.* FROM sh JOIN v0keep k ON sh.doc_id = k.doc_id),
      |d1 AS (SELECT * FROM sh WHERE doc_id % 10 = 5),
      |e1 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |alle AS (SELECT a, b FROM e0 UNION SELECT a, b FROM e1),
      |nodes AS (SELECT doc_id AS id FROM d0 UNION SELECT doc_id FROM d1
      |  UNION SELECT a FROM alle UNION SELECT b FROM alle),
      |edges AS (SELECT a AS u, b AS v FROM alle
      |  UNION SELECT b AS u, a AS v FROM alle),
      |reach AS (
      |  SELECT id AS s, id AS r FROM nodes
      |  UNION
      |  SELECT re.s, e.v FROM reach re JOIN edges e ON re.r = e.u)
      |SELECT s AS doc_id, min(r) AS cid FROM reach GROUP BY s""".stripMargin

  // ------------------------------------------ q_stream_cluster_addonly

  /** The EDGES-OFF cluster lifecycle — [[qStreamClusterLifecycle]] with
    * `clusterTrackEdges = false`: an index that only ever ADDS documents
    * (no takedown capability — [[graft.ext.ClusterIndex.withdraw]]
    * refuses loudly on it, ExtSpec) skips persisting each fold's
    * verified edge delta. Labels are IDENTICAL by construction (edges
    * are fold input either way; only their persistence differs), so
    * this query hash-passes the SAME oracle.
    *
    * MEASURED (r15 paired adjudication, `paired_addonly_r15.json` —
    * A,B,A,B in one session so disk drift cancels): NO wall-clock
    * saving at 100× (ratios 1.10/1.06/0.93, median 1.06 — statistically
    * indistinguishable from the edges-on lifecycle). The legs' cost is
    * the shared probe/fold/append work; the skipped edge-delta write is
    * delta-sized. The r13 "~20% at 100×" claim measured edge
    * persistence LANDING (new code on both paths), not this opt-out,
    * and is retired. What `trackEdges = false` actually buys is STATE,
    * not time: no edges chain on disk (at 100 TB, the edge set of a
    * near-dup-dense corpus is corpus-scale storage) — priced at the
    * documented loss of withdraw capability. */
  def qStreamClusterAddonly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamccao", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_streamccao"
    val cc = s"$base/cc"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestDedup.run(
          s.readStream.schema(docs.schema).parquet(inDir),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = 0.5, verdictPath = s"$base/verdicts",
          checkpoint = s"$base/ckpt", updateIndex = true,
          clusterBase = cc, clusterTrackEdges = false)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    runToCompletion()
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    ClusterIndex.compact(s, cc)
    ClusterIndex.current(s, cc).select(col("id").as("doc_id"), col("cid"))
  }

  // ------------------------------------------- q_stream_cluster_readmit

  /** WITHDRAWAL + RE-ADMISSION through the standing cluster index — the
    * takedown half of incremental connected components, which is the
    * genuinely hard half: deleting a node can SPLIT its cluster (the
    * node was the bridge) and must MOVE min-id labels (the min member
    * left), and a later re-admission must NOT resurrect relations
    * discovered against the document's pre-takedown content. Extends
    * [[qStreamClusterLifecycle]] with:
    *
    *  4. a FIXED-COUNT takedown (the 40 smallest tracked node ids —
    *     request-driven, does not grow with the corpus) withdrawn from
    *     BOTH standing structures: [[graft.ext.DedupIndex.delete]]
    *     masks the corpus rows, [[graft.ext.ClusterIndex.withdraw]]
    *     retracts memberships and incident edges and re-labels ONLY the
    *     touched components' survivors (one union-find task over the
    *     surviving edges — splits and min-id moves fall out);
    *  5. [[graft.ext.DedupIndex.compactPartial]] retires the tombstones
    *     (file-granular: only tombstone-dirty buckets rewrite) — the
    *     re-ingestion precondition;
    *  6. the EVEN half of the takedown re-enters as a third streamed
    *     batch on the SAME checkpoint — judged as ordinary new
    *     documents against the post-compact corpus, their fresh edges
    *     folding into the standing cluster state (possibly re-bridging
    *     the clusters their withdrawal split);
    *  7. [[graft.ext.ClusterIndex.compact]] consolidates both chains —
    *     retraction sentinels and dead edges retire physically; final
    *     state must be unchanged.
    *
    * Output: the live membership (doc_id, cid). The oracle replays all
    * of it in closed form — batch edges, the takedown's edge
    * subtraction, re-admission edges against the post-compact corpus,
    * then min-reachable-id over (surviving ∪ re-admission) edges — so a
    * hash-pass proves withdrawal splits/relabels exactly, retraction
    * beats assertion, re-admission beats retraction, and no
    * pre-takedown edge survives into the re-admitted world. */
  def qStreamClusterReadmit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh(s, "streamccre", dir)
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_streamccre"
    val cc = s"$base/cc"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    val inDir = s"$base/in"
    def runToCompletion(): Unit = {
      val q = graft.streaming.IngestDedup.run(
          s.readStream.schema(docs.schema).parquet(inDir),
          base = idx, textCol = "text", idCol = "doc_id", blockCol = "lang",
          threshold = 0.5, verdictPath = s"$base/verdicts",
          checkpoint = s"$base/ckpt", updateIndex = true,
          clusterBase = cc)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir)
    runToCompletion()
    docs.filter(col("doc_id") % 10 === 5).coalesce(1)
      .write.mode("append").parquet(inDir)
    runToCompletion()
    // fixed-count takedown: the 40 smallest TRACKED node ids (tracked =
    // duplicate-involved — where withdrawal actually splits/relabels)
    val takedown = ClusterIndex.current(s, cc)
      .select(col("id").as("doc_id")).orderBy("doc_id").limit(40)
      .localCheckpoint()
    // the corpus-index tombstone append and the cluster-state withdrawal
    // touch distinct structures — overlapped (§2.6)
    graft.exec.Concurrent.run(
      () => DedupIndex.delete(s, idx, takedown, "doc_id"),
      () => ClusterIndex.withdraw(s, cc, takedown,
        ClusterIndex.nextBatchId(s, cc)))
    // retire the tombstones (partial: only dirty buckets rewrite) —
    // only now may the cleared half re-enter
    DedupIndex.compactPartial(s, idx)
    docs.join(takedown.filter(col("doc_id") % 2 === 0),
        Seq("doc_id"), "left_semi")
      .coalesce(1).write.mode("append").parquet(inDir)
    runToCompletion()
    ClusterIndex.compact(s, cc)
    ClusterIndex.current(s, cc).select(col("id").as("doc_id"), col("cid"))
  }

  /** Closed-form replay: the lifecycle's two batch edge sets, the
    * 40-smallest-tracked-node takedown subtracted from nodes AND edges,
    * re-admission edges judged against (corpus ∪ both batches' keeps) −
    * takedown, then min-reachable-id over surviving ∪ re-admission
    * edges on the live node set. */
  val qStreamClusterReadmitSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |e0 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v0keep AS (SELECT doc_id FROM d0
      |  WHERE doc_id NOT IN (SELECT b FROM e0)),
      |corpus1 AS (SELECT * FROM corpus0
      |  UNION ALL SELECT sh.* FROM sh JOIN v0keep k ON sh.doc_id = k.doc_id),
      |d1 AS (SELECT * FROM sh WHERE doc_id % 10 = 5),
      |e1 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v1keep AS (SELECT doc_id FROM d1
      |  WHERE doc_id NOT IN (SELECT b FROM e1)),
      |olde AS (SELECT a, b FROM e0 UNION SELECT a, b FROM e1),
      |nodes01 AS (SELECT doc_id AS id FROM d0 UNION SELECT doc_id FROM d1
      |  UNION SELECT a FROM olde UNION SELECT b FROM olde),
      |td AS (SELECT id FROM nodes01 ORDER BY id LIMIT 40),
      |corpus2 AS (SELECT * FROM (
      |    SELECT * FROM corpus1
      |    UNION ALL SELECT sh.* FROM sh JOIN v1keep k ON sh.doc_id = k.doc_id)
      |  WHERE doc_id NOT IN (SELECT id FROM td)),
      |d2 AS (SELECT sh.* FROM sh JOIN td ON sh.doc_id = td.id
      |  WHERE sh.doc_id % 2 = 0),
      |e2 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d2 d
      |    JOIN corpus2 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d2 d
      |    JOIN corpus2 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |surv AS (SELECT a, b FROM olde
      |  WHERE a NOT IN (SELECT id FROM td) AND b NOT IN (SELECT id FROM td)),
      |alle AS (SELECT a, b FROM surv UNION SELECT a, b FROM e2),
      |nodes AS (
      |  SELECT id FROM nodes01 WHERE id NOT IN (SELECT id FROM td)
      |  UNION SELECT doc_id FROM d2
      |  UNION SELECT a FROM alle UNION SELECT b FROM alle),
      |edges AS (SELECT a AS u, b AS v FROM alle
      |  UNION SELECT b AS u, a AS v FROM alle),
      |reach AS (
      |  SELECT id AS s, id AS r FROM nodes
      |  UNION
      |  SELECT re.s, e.v FROM reach re JOIN edges e ON re.r = e.u)
      |SELECT s AS doc_id, min(r) AS cid FROM reach GROUP BY s""".stripMargin

  // ------------------------------------------------------ q_cluster_stats

  /** The standing CLUSTER index's observability surface under the
    * oracle gate — the [[qDedupStats]]/q_ann_stats twin for the newest
    * standing structure, exercising the BATCH-API half of its
    * lifecycle (the streaming half is q_stream_cluster_lifecycle/
    * readmit). Edges come from the PRODUCTION ingest-time source —
    * [[graft.ext.DedupIndex.matchEdges]], each batch judged against the
    * standing corpus index (bucketed probes, no corpus shuffle) — NOT
    * from a from-scratch pair recompute over the whole corpus (the r13
    * shape, 35.8× at 100×: it regenerated the full exact pair graph
    * just to feed the folds, a cost the production ingest path never
    * pays). Two incremental batches fold, kept rows append (ingestion
    * order significant, exactly like the streaming half), a takedown
    * withdraws the MIN tracked id (the hardest label: every cluster it
    * anchors must re-label, and its component may split), and
    * [[graft.ext.ClusterIndex.stats]] reads back per-cluster
    * membership. The oracle replays batch-by-batch edge discovery in
    * closed form, subtracts the min node, and groups the recursive
    * min-reachable closure — a hash-pass proves the production-path
    * folds + withdrawal leave exactly the replayed component sizes. */
  def qClusterStats(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "ccstats", dir)
    val cc = s"$base/cc"
    val docs = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    val idx = "graft_idx_ccstats"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", idx, threshold = 0.5)
    def ingest(batch: DataFrame, bid: Long): Unit = {
      // the dedup-index probe (preceded by the batch's ONE shingle pass,
      // shared with the append below — §2.4) and the cluster state's
      // latest-wins read are independent standing structures —
      // overlapped (§2.6), so the fold starts from pre-materialized state
      val foldId = ClusterIndex.streamFoldId(bid)
      @volatile var art: DataFrame = null
      val Seq(edges, cur) = graft.exec.Concurrent.labeled[DataFrame](Seq(
        "ccstats: probe" -> (() => {
          art = DedupIndex.batchArtifacts(batch, "text", "doc_id", "lang")
            .localCheckpoint()
          DedupIndex.matchEdges(s, idx, batch,
            "text", "doc_id", "lang", threshold = 0.5,
            precomputedArtifacts = Some(art)).localCheckpoint()
        }),
        "ccstats: cluster state" -> (() =>
          ClusterIndex.currentSnapshot(s, cc, foldId))))
      try
        // fold (cluster state) and append (dedup tables) are independent
        // consumers of the checkpointed edges — overlapped (§2.6)
        graft.exec.Concurrent.labeled[Unit](Seq(
          "ccstats: fold" -> (() => ClusterIndex.fold(s, cc, edges,
            batch.select(col("doc_id")), foldId,
            precomputedCur = Some(cur))),
          "ccstats: append" -> (() => DedupIndex.appendKept(s, idx, batch,
            DedupIndex.verdictsFromEdges(batch, "doc_id", edges),
            "text", "doc_id", "lang", threshold = 0.5, batchId = bid,
            precomputedArtifacts = Some(art)))))
      finally {
        graft.exec.Partitioning.unpersistCheckpoint(edges)
        graft.exec.Partitioning.unpersistCheckpoint(cur)
        graft.exec.Partitioning.unpersistCheckpoint(art)
      }
    }
    ingest(docs.filter(col("doc_id") % 10 === 0), 0L)
    ingest(docs.filter(col("doc_id") % 10 === 5), 1L)
    ClusterIndex.withdraw(s, cc,
      ClusterIndex.current(s, cc).agg(min(col("id")).as("doc_id")),
      ClusterIndex.nextBatchId(s, cc))
    ClusterIndex.stats(s, cc)
  }

  /** Closed-form replay: the lifecycle oracle's batch-by-batch edge
    * discovery (batch 0 vs the corpus, batch 1 vs corpus ∪ batch-0
    * keeps), minus the min tracked node and its incident edges, then
    * component sizes via the recursive closure. */
  val qClusterStatsSql: String =
    """WITH RECURSIVE w AS (SELECT doc_id, lang, text,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang, text,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |corpus0 AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      |d0 AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
      |e0 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d0 d
      |    JOIN corpus0 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |v0keep AS (SELECT doc_id FROM d0
      |  WHERE doc_id NOT IN (SELECT b FROM e0)),
      |corpus1 AS (SELECT * FROM corpus0
      |  UNION ALL SELECT sh.* FROM sh JOIN v0keep k ON sh.doc_id = k.doc_id),
      |d1 AS (SELECT * FROM sh WHERE doc_id % 10 = 5),
      |e1 AS (
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.text = c.text
      |  UNION
      |  SELECT c.doc_id AS a, d.doc_id AS b FROM d1 d
      |    JOIN corpus1 c ON d.lang = c.lang
      |  WHERE len(list_intersect(d.t, c.t))::DOUBLE
      |      / (len(d.t) + len(c.t) - len(list_intersect(d.t, c.t))) >= 0.5),
      |alle AS (SELECT a, b FROM e0 UNION SELECT a, b FROM e1),
      |allnodes AS (SELECT doc_id AS id FROM d0 UNION SELECT doc_id FROM d1
      |  UNION SELECT a FROM alle UNION SELECT b FROM alle),
      |td AS (SELECT min(id) AS id FROM allnodes),
      |nodes AS (SELECT id FROM allnodes WHERE id NOT IN (SELECT id FROM td)),
      |surv AS (SELECT a, b FROM alle
      |  WHERE a NOT IN (SELECT id FROM td) AND b NOT IN (SELECT id FROM td)),
      |edges AS (SELECT a AS u, b AS v FROM surv
      |  UNION SELECT b AS u, a AS v FROM surv),
      |reach AS (
      |  SELECT id AS s, id AS r FROM nodes
      |  UNION
      |  SELECT re.s, e.v FROM reach re JOIN edges e ON re.r = e.u),
      |cl AS (SELECT s AS id, min(r) AS cid FROM reach GROUP BY s)
      |SELECT cid, count(*)::BIGINT AS n_members, min(id) AS min_id
      |FROM cl GROUP BY cid""".stripMargin

  /** The standing dedup index's OBSERVABILITY surface under the oracle
    * gate — the twin of q_ann_stats: build the index, then read back
    * per-table occupancy with [[graft.ext.DedupIndex.stats]] plus the
    * [[graft.ext.DedupIndex.pendingTombstones]] /
    * [[graft.ext.DedupIndex.appendedSinceSnapshot]] advisories that
    * feed `needsCompact`. Every emitted number is recomputable from the
    * shingle rule alone, so the oracle derives each table's expected
    * row count from documents.parquet from scratch: `exact`/`sh` are
    * one row per corpus doc, `band` is one row per MinHash band
    * (16/doc), and `pref` is the PPJoin prefix explode — per doc
    * `|t| - ceil(0.5·|t| - eps) + 1` distinct-shingle rows. A
    * hash-pass proves the observability surface reports the index's
    * PHYSICAL state exactly, not an estimate of it. (The per-BUCKET
    * layout columns are Spark's own hash assignment — asserted against
    * the real file layout in IOSpec, where it is observable, rather
    * than here where DuckDB cannot recompute it.) */
  def qDedupStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val base = "graft_idx_dstats"
    DedupIndex.write(docs.filter(col("doc_id") % 5 =!= 0),
      "text", "doc_id", "lang", base, threshold = 0.5, buckets = 4)
    val totals = DedupIndex.stats(s, base)
      .groupBy(col("tbl")).agg(sum(col("n_rows")).as("n_rows"))
    // index-wide total as a broadcast one-row frame (the qAnnStats
    // pattern — a whole-frame window would single-partition)
    val tot = totals.agg(sum(col("n_rows")).as("__t"))
    totals.crossJoin(broadcast(tot))
      .select(col("tbl"), col("n_rows"),
        (col("n_rows") / col("__t")).as("share"),
        lit(DedupIndex.pendingTombstones(s, base)).as("pending_tombstones"),
        lit(DedupIndex.appendedSinceSnapshot(s, base).map(_._1)
          .getOrElse(-1L)).as("appended_docs"))
  }

  val qDedupStatsSql: String =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w
      |  FROM documents WHERE doc_id % 5 <> 0),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM w),
      |tc AS (
      |  SELECT 'exact' AS tbl, count(*)::BIGINT AS n_rows FROM sh
      |  UNION ALL SELECT 'sh', count(*)::BIGINT FROM sh
      |  UNION ALL SELECT 'band', (16 * count(*))::BIGINT FROM sh
      |  UNION ALL SELECT 'pref', coalesce(sum(CASE WHEN len(t) = 0 THEN 0
      |    ELSE len(t) - CAST(ceil(0.5 * len(t) - 0.000000001) AS INT) + 1
      |    END), 0)::BIGINT FROM sh),
      |tot AS (SELECT sum(n_rows)::BIGINT AS n FROM tc)
      |SELECT tbl, n_rows, n_rows::DOUBLE / (SELECT n FROM tot) AS share,
      |  0::BIGINT AS pending_tombstones, 0::BIGINT AS appended_docs
      |FROM tc""".stripMargin

  /** End-to-end corpus preparation — the pipeline a training-data user
    * actually runs, composed from the engine's own operators with one
    * composed oracle: quality gate → exact dedup (min-id per text) →
    * near-dup removal (prefix-Jaccard pairs → connected components → keep
    * representatives) → stable split assignment. Each stage is the
    * already-oracle-checked operator; the value here is proving the
    * COMPOSITION matches an independently assembled DuckDB pipeline. */
  def qCorpusPrep(s: SparkSession, dir: String): DataFrame = {
    import graft.exec.Sampling
    val docs = Tables(s, dir, "documents")
    val quality = docs.filter(
      TextAnalysis.qualityScore(col("text")) >= 0.9 &&
        TextAnalysis.tokenCount(col("text")) >= 50)
    // Materialized once: three downstream consumers (pair generation via
    // the CC edge checkpoint, the representative semi-join, the final
    // split projection) would each re-run the quality gate and exact
    // dedup from the scan otherwise.
    val afterExact = quality.join(
      Dedup.exact(quality, "text", "doc_id").select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val pairs = Dedup.prefixJaccardPairs(afterExact, "text", "doc_id", "lang",
      threshold = 0.5)
    val cl = Dedup.clusters(afterExact.select(col("doc_id").as("id")), pairs)
    val reps = afterExact.join(
      cl.filter(col("id") === col("cluster")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    Sampling.assignSplit(reps.select(col("doc_id"), col("lang")), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  val qCorpusPrepSql: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, lang, text,
       |  string_split_regex(lower(trim(text)), '[ \\t\\n\\f\\r]+') AS toks FROM documents),
       |m AS (SELECT doc_id, len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9 \\t\\n\\f\\r]'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  len(list_filter(toks, x -> x IN ($swList)))::DOUBLE
       |    / greatest(len(toks), 1) AS stopword_ratio,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
       |    / greatest(len(toks), 1) AS mean_token_len
       |FROM t),
       |q AS (SELECT doc_id FROM m WHERE n_tokens >= 50 AND
       |  0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |  + 0.3 * (CASE WHEN stopword_ratio >= 0.01 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.0 END)
       |  + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0)) >= 0.9),
       |qd AS (SELECT t.* FROM t JOIN q USING (doc_id)),
       |ed AS (SELECT * FROM (SELECT qd.*,
       |    min(doc_id) OVER (PARTITION BY text) AS keep FROM qd)
       |  WHERE doc_id = keep),
       |sh AS (SELECT doc_id, lang,
       |  list_distinct(list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
       |    i -> array_to_string(toks[i+1:i+3], ' '))) AS t3 FROM ed),
       |pairs AS (
       |  SELECT a.doc_id AS u, b.doc_id AS v
       |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.t3, b.t3))::DOUBLE
       |      / (len(a.t3) + len(b.t3) - len(list_intersect(a.t3, b.t3))) >= 0.5),
       |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
       |reach AS (
       |  SELECT doc_id AS a, doc_id AS b FROM ed
       |  UNION
       |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u),
       |cl AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a)
       |SELECT ed.doc_id, ed.lang,
       |  CASE WHEN (ed.doc_id % 1000000007) * 2654435761 % 10000 < 8000 THEN 'train'
       |       WHEN (ed.doc_id % 1000000007) * 2654435761 % 10000 < 9000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM ed JOIN cl ON ed.doc_id = cl.doc_id
       |WHERE cl.doc_id = cl.cluster""".stripMargin

  /** Connected components over the EXACT Jaccard pair graph — unlike
    * q_dedup_clusters (LSH-prefiltered, rows-only), this one is fully
    * oracle-checkable: the DuckDB twin computes the transitive closure
    * with a recursive CTE and takes each node's min reachable id. */
  def qClusterExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.prefixJaccardPairs(docs, "text", "doc_id", "lang",
      threshold = 0.5)
    Dedup.clusters(docs.select(col("doc_id").as("id")), pairs)
  }

  val qClusterExactSql: String =
    """WITH RECURSIVE t AS (SELECT doc_id, lang,
      |  string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS w FROM documents),
      |sh AS (SELECT doc_id, lang,
      |  list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      |    i -> array_to_string(w[i+1:i+3], ' '))) AS t FROM t),
      |pairs AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.t, b.t))::DOUBLE
      |      / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.5),
      |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |reach AS (
      |  SELECT doc_id AS a, doc_id AS b FROM documents
      |  UNION
      |  SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u)
      |SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a""".stripMargin

  /** Sketch aggregates (HLL++ distinct counts, approximate quantiles) —
    * the constant-memory path for 100 TB cardinality/quantile work.
    * Rows-only (sketch internals are engine-specific); accuracy vs exact
    * is asserted in ExtSpec. */
  def qApproxSketch(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), rsd = 0.01).as("approx_supp"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50_approx"))
  }

  /** Embedding shaping: L2 normalization + symmetric int8 quantization
    * (unit vector serialized via the quantized-JSON gate protocol). */
  def qVectorOps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val shaped = Similarity.quantizeInt8(
      Similarity.l2Normalize(e, "embedding", "unit"), "embedding", "q8")
    shaped.select(col("vec_id"),
      to_json(transform(col("unit"), x => Oracle.q6(x))).as("unit"),
      to_json(col("q8")).as("q8"),
      col("q_scale"))
  }

  val qVectorOpsSql: String = {
    val Q = (e: String) => Oracle.sqlQ6(e)
    s"""WITH n AS (SELECT vec_id, embedding,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |  greatest(CAST(list_max(embedding) AS DOUBLE),
       |           -CAST(list_min(embedding) AS DOUBLE)) AS absmax
       |FROM embeddings),
       |sc AS (SELECT *, CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 1.0 END AS q_scale
       |FROM n)
       |SELECT vec_id,
       |to_json(list_transform(embedding, x -> ${Q("CAST(x AS DOUBLE) / nrm")})) AS unit,
       |to_json(list_transform(embedding, x ->
       |  CAST(greatest(least(floor(CAST(x AS DOUBLE) * q_scale), 127.0), -127.0) AS INT))) AS q8,
       |q_scale
       |FROM sc""".stripMargin
  }

  /** Exact cosine top-5 neighbors for the first 10 vectors. */
  def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  /** Asymmetric SQ8 top-k: the corpus is 8-bit scalar-quantized
    * (per-vector min/scale, `floor(x+0.5)` rounding — deterministic, so
    * the whole codec is oracle-recomputable) and scored RECONSTRUCTED
    * against full-precision queries — the 4×-less-I/O storage codec's
    * exact reference ([[graft.ext.Similarity.sq8TopK]]). */
  def qSimSq8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.sq8TopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  val qSimSq8Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qz AS (SELECT vec_id, v, list_min(v) AS mn,
      |  (list_max(v) - list_min(v)) / 255.0 AS sc FROM e),
      |rec AS (SELECT vec_id,
      |  CASE WHEN sc = 0 THEN list_transform(v, x -> mn)
      |       ELSE list_transform(v, x ->
      |         mn + sc * least(255, greatest(0, floor((x - mn) / sc + 0.5))))
      |  END AS v FROM qz),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, rec.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(q.qv, rec.v), p -> p[1] * p[2]))
      |      / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      |         * sqrt(list_sum(list_transform(rec.v, x -> x * x)))) AS sim
      |  FROM rec CROSS JOIN q WHERE rec.vec_id <> q.query_id),
      |ranked AS (SELECT query_id, cand_id, sim,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
      |FROM scored)
      |SELECT query_id, rank, cand_id, sim FROM ranked WHERE rank <= 5""".stripMargin

  val qSimTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS cand_id,
      |    list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]))
      |      / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
      |         * sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS sim
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |ranked AS (SELECT query_id, cand_id, sim,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
      |FROM scored)
      |SELECT query_id, rank, cand_id, sim FROM ranked WHERE rank <= 5""".stripMargin

  /** IVF approximate top-k: deterministic coarse quantizer (every 50th
    * vector is a centroid), nprobe=3 — exactly oracle-checkable, unlike
    * the randomized LSH path, because cell assignment and probe order are
    * fully determined by (cosine, centroid id). */
  def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
      e.filter(col("vec_id") % 50 === 0), k = 5, nprobe = 3)
  }

  private val cosSql = (a: String, b: String) =>
    s"""list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))
       |    / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |       * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin

  val qSimIvfSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 50 = 0),
       |asim AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |    ${cosSql("e.v", "c.cv")} AS csim
       |  FROM e CROSS JOIN c),
       |cells AS (SELECT vec_id, v, cid AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid DESC) AS rn
       |  FROM asim) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid DESC) AS rn
       |  FROM asim WHERE vec_id < 10) WHERE rn <= 3),
       |scored AS (
       |  SELECT p.query_id, t.vec_id AS cand_id,
       |    ${cosSql("p.qv", "t.v")} AS sim
       |  FROM probes p JOIN cells t ON p.cell = t.cell
       |  WHERE t.vec_id <> p.query_id),
       |ranked AS (SELECT query_id, cand_id, sim,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
       |FROM scored)
       |SELECT query_id, rank, cand_id, sim FROM ranked WHERE rank <= 5""".stripMargin

  /** Lloyd's k-means (k=4, one update round): deterministic seeding +
    * exact quantized means make the trained clustering itself
    * oracle-checkable — the DuckDB twin unrolls the same iteration. */
  def qKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeans(Tables(s, dir, "embeddings"), "embedding", "vec_id",
      k = 4, iters = 1)

  val qKmeansSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS cv
       |  FROM e ORDER BY vec_id LIMIT 4),
       |a1 AS (SELECT vec_id, q, cluster FROM (
       |  SELECT e.vec_id, e.q, c0.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c0.cv")} DESC, c0.cluster DESC) AS rn
       |  FROM e CROSS JOIN c0) WHERE rn = 1),
       |m1 AS (SELECT cluster, i,
       |  CAST(sum(CAST(q[i] AS DECIMAL(38,0))) AS DOUBLE)
       |    / (count(*) * 1000000.0) AS m
       |  FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
       |  GROUP BY cluster, i),
       |c1 AS (SELECT cluster, list(m ORDER BY i) AS cv FROM m1 GROUP BY cluster)
       |SELECT vec_id, cluster FROM (
       |  SELECT e.vec_id, c1.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c1.cv")} DESC, c1.cluster DESC) AS rn
       |  FROM e CROSS JOIN c1) WHERE rn = 1""".stripMargin

  /** SemDeDup: deterministic k-means over the embedding space, then
    * near-duplicate removal WITHIN clusters only (cosine ≥ 0.4, greedy
    * keep-smallest-id) — the cluster-bounded recipe for embedding dedup
    * at scale. Fully oracle-checkable because the clustering is the
    * [[qKmeans]] iteration and the within-cluster rule is deterministic:
    * the DuckDB twin unrolls the same Lloyd round, then the same
    * quadratic-within-cluster pair rule. */
  def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables(s, dir, "embeddings"), "embedding", "vec_id",
      k = 4, iters = 1, threshold = 0.4)

  val qSemDedupSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS cv
       |  FROM e ORDER BY vec_id LIMIT 4),
       |a1 AS (SELECT vec_id, q, cluster FROM (
       |  SELECT e.vec_id, e.q, c0.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c0.cv")} DESC, c0.cluster DESC) AS rn
       |  FROM e CROSS JOIN c0) WHERE rn = 1),
       |m1 AS (SELECT cluster, i,
       |  CAST(sum(CAST(q[i] AS DECIMAL(38,0))) AS DOUBLE)
       |    / (count(*) * 1000000.0) AS m
       |  FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
       |  GROUP BY cluster, i),
       |c1 AS (SELECT cluster, list(m ORDER BY i) AS cv FROM m1 GROUP BY cluster),
       |sd AS (SELECT vec_id, v, cluster FROM (
       |  SELECT e.vec_id, e.v, c1.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "c1.cv")} DESC, c1.cluster DESC) AS rn
       |  FROM e CROSS JOIN c1) WHERE rn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM sd a JOIN sd b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v")} >= 0.4)
       |SELECT s.vec_id, s.cluster, d.vec_id IS NULL AS keep
       |FROM sd s LEFT JOIN dropped d ON s.vec_id = d.vec_id""".stripMargin

  /** Top-k bound shared by [[qSimLsh]] and its companion so a retune
    * moves the verified contract with it. */
  private val SimLshK = 5

  /** LSH-bucketed approximate top-k — rows-only; recall vs brute force
    * asserted in ExtSpec. */
  def qSimLsh(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = SimLshK,
      dim = 64, bits = 4, tables = 16)
  }

  /** Companion verification of [[qSimLsh]]: buckets are engine-specific,
    * but every EMITTED (query, candidate, sim) triple's cosine is
    * recomputable — re-derive it with built-in zip_with/aggregate over
    * the stored vectors and emit one row per breach (score off by more
    * than float-accumulation tolerance, or more than k rows per query).
    * Oracle = empty set: a hash-pass proves every emitted neighbor
    * carries its true cosine and the top-k bound holds. */
  def qSimLshVerified(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, dir, "embeddings")
    val emitted = qSimLsh(s, dir) // the PRODUCTION emitted set
    val cosSql = expr(
      """aggregate(zip_with(__qv, __cv, (x, y) ->
        |  CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, v) -> a + v)
        |/ (sqrt(aggregate(__qv, 0D, (a, v) -> a + CAST(v AS DOUBLE) * v))
        | * sqrt(aggregate(__cv, 0D, (a, v) -> a + CAST(v AS DOUBLE) * v)))"""
        .stripMargin)
    val scored = emitted
      .join(e.select(col("vec_id").as("query_id"), col("embedding").as("__qv")),
        "query_id")
      .join(e.select(col("vec_id").as("cand_id"), col("embedding").as("__cv")),
        "cand_id")
      .withColumn("__cos", cosSql)
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
    scored.filter(abs(col("__cos") - col("sim")) > 1e-6 ||
        col("__n") > SimLshK)
      .select(col("query_id").as("id_a"), col("cand_id").as("id_b"),
        lit("verify_breach").as("problem"))
  }

  val qSimLshVerifiedSql: String = qNearDupVerifiedSql

  private val EmbNearDupThreshold = 0.4

  /** Embedding near-duplicate pairs via LSH + exact verify — rows-only. */
  def qEmbNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(Tables(s, dir, "embeddings"),
      threshold = EmbNearDupThreshold, dim = 64, bits = 4, tables = 8)

  /** Companion verification of [[qDedupSimhash]]: every emitted pair's
    * fingerprints are recomputed with the interpreted HOF twin
    * ([[Dedup.simhashHof]] — none of the custom expression's code) and a
    * breach row appears when the recomputed Hamming distance disagrees
    * with the emitted one or exceeds the threshold. Oracle = empty set. */
  def qDedupSimhashVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val emitted = qDedupSimhash(s, dir) // the PRODUCTION emitted set
    // the interpreted 64-wide HOF fold is the expensive part: compute it
    // ONCE PER DOCUMENT (only documents that appear in emitted pairs),
    // behind a repartition so both join branches consume the same
    // exchange instead of re-folding per pair side
    val ids = emitted.select(col("id_a").as("doc_id"))
      .unionByName(emitted.select(col("id_b").as("doc_id"))).distinct()
    val fps = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Dedup.simhashHof(col("text")).as("__fp"))
      .repartition(col("doc_id"))
    emitted
      .join(fps.select(col("doc_id").as("id_a"), col("__fp").as("__fa")), "id_a")
      .join(fps.select(col("doc_id").as("id_b"), col("__fp").as("__fb")), "id_b")
      .withColumn("__h", bit_count(col("__fa").bitwiseXOR(col("__fb"))))
      .filter(col("__h") =!= col("hamming") || col("__h") > SimhashMaxHamming)
      .select(col("id_a"), col("id_b"), lit("verify_breach").as("problem"))
  }

  val qDedupSimhashVerifiedSql: String = qNearDupVerifiedSql

  /** Companion verification of [[qEmbNearDup]]: every emitted pair's
    * cosine is recomputed with built-in zip_with/aggregate over the
    * stored vectors (the HOF twin of the codegen'd expression); a breach
    * row appears when the recomputed cosine misses the threshold or the
    * emitted score by more than accumulation tolerance. Oracle = empty
    * set. */
  def qEmbNearDupVerified(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    qEmbNearDup(s, dir) // the PRODUCTION emitted set
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("__va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("__vb")), "id_b")
      .withColumn("__cos", Similarity.cosineHof(col("__va"), col("__vb")))
      .filter(col("__cos") < EmbNearDupThreshold ||
        abs(col("__cos") - col("sim")) > 1e-6)
      .select(col("id_a"), col("id_b"), lit("verify_breach").as("problem"))
  }

  val qEmbNearDupVerifiedSql: String = qNearDupVerifiedSql

  /** Companion verification of [[qApproxSketch]]: sketch INTERNALS are
    * engine-specific (hence rows-only), but their accuracy contract is
    * checkable — recompute the EXACT distinct counts and emit a breach
    * row when a sketch strays beyond 5× its documented relative error
    * (HLL++ rsd: 0.05 default / 0.01 requested — deterministic for fixed
    * data). The approximate median is checked by its RANK, not by value:
    * one counting pass establishes how many group rows fall below/at the
    * returned datum, which must land in the [0.45, 0.55] rank band (±1
    * row of absolute slack keeps the bound sound for tiny groups) —
    * rank counting is exact for any group size and avoids a per-group
    * percentile sort entirely. Oracle = empty set. */
  def qApproxSketchVerified(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val sketch = qApproxSketch(s, dir)
    li.select(col("l_returnflag").as("returnflag"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      .join(broadcast(sketch), Seq("returnflag"))
      .groupBy(col("returnflag"), col("approx_parts"), col("approx_supp"),
        col("p50_approx"))
      .agg(countDistinct(col("l_partkey")).as("__ep"),
        countDistinct(col("l_suppkey")).as("__es"),
        count(lit(1)).as("__n"),
        count(when(col("l_extendedprice") < col("p50_approx"), 1)).as("__below"),
        count(when(col("l_extendedprice") <= col("p50_approx"), 1)).as("__atOrBelow"))
      .filter(
        abs(col("approx_parts") - col("__ep")) > col("__ep") * 0.25 ||
        abs(col("approx_supp") - col("__es")) > col("__es") * 0.05 ||
        col("__below") > col("__n") * 0.55 + 1 ||
        col("__atOrBelow") < col("__n") * 0.45 - 1)
      .select(col("returnflag"), lit("sketch_breach").as("problem"))
  }

  val qApproxSketchVerifiedSql: String =
    """SELECT CAST(NULL AS VARCHAR) AS returnflag,
      |  CAST(NULL AS VARCHAR) AS problem WHERE false""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_stats"       -> (qTextStats _),
    "q_normalize"        -> (qNormalize _),
    "q_gzip_text"        -> (qGzipText _),
    "q_tfidf"            -> (qTfidf _),
    "q_vocab"            -> (qVocab _),
    "q_chunk"            -> (qChunk _),
    "q_mode"             -> (qMode _),
    "q_dedup_lines"      -> (qDedupLines _),
    "q_balance"          -> (qBalance _),
    "q_mixture"          -> (qMixture _),
    "q_sample"           -> (qSample _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_split"            -> (qSplit _),
    "q_pack"             -> (qPack _),
    "q_pack_concat"      -> (qPackConcat _),
    "q_inverted_index"   -> (qInvertedIndex _),
    "q_lang_fingerprint" -> (qLangFingerprint _),
    "q_quality_filter"   -> (qQualityFilter _),
    "q_encoding_quality" -> (qEncodingQuality _),
    "q_repetition"       -> (qRepetition _),
    "q_contamination"    -> (qContamination _),
    "q_span_dedup"       -> (qSpanDedup _),
    "q_span_trim"        -> (qSpanTrim _),
    "q_span_pairs"       -> (qSpanPairs _),
    "q_decontaminate"    -> (qDecontaminate _),
    "q_span_incr_idx"    -> (qSpanIncrIdx _),
    "q_span_stats"       -> (qSpanStats _),
    "q_span_delete"      -> (qSpanDelete _),
    "q_prep_pipeline"    -> (qPrepPipeline _),
    "q_span_novelty"     -> (qSpanNovelty _),
    "q_dedup_exact"      -> (qDedupExact _),
    "q_dedup_jaccard"    -> (qDedupJaccard _),
    "q_dedup_minhash"    -> (qDedupMinhash _),
    "q_dedup_simhash"    -> (qDedupSimhash _),
    "q_near_dup"         -> (qNearDup _),
    "q_dedup_clusters"   -> (qDedupClusters _),
    "q_dedup_incr"       -> (qDedupIncr _),
    "q_dedup_incr_idx"   -> (qDedupIncrIdx _),
    "q_dedup_stats"      -> (qDedupStats _),
    "q_dedup_delete"     -> (qDedupDelete _),
    "q_stream_dedup_lifecycle" -> (qStreamDedupLifecycle _),
    "q_stream_dedup_readmit" -> (qStreamDedupReadmit _),
    "q_stream_cluster_lifecycle" -> (qStreamClusterLifecycle _),
    "q_stream_cluster_addonly" -> (qStreamClusterAddonly _),
    "q_stream_cluster_readmit" -> (qStreamClusterReadmit _),
    "q_cluster_stats"    -> (qClusterStats _),
    "q_stream_span_lifecycle" -> (qStreamSpanLifecycle _),
    "q_corpus_prep"      -> (qCorpusPrep _),
    "q_cluster_exact"    -> (qClusterExact _),
    "q_approx_sketch"    -> (qApproxSketch _),
    "q_sim_topk"         -> (qSimTopK _),
    "q_sim_sq8"          -> (qSimSq8 _),
    "q_vector_ops"       -> (qVectorOps _),
    "q_sim_ivf"          -> (qSimIvf _),
    "q_kmeans"           -> (qKmeans _),
    "q_semdedup"         -> (qSemDedup _),
    "q_sim_lsh"          -> (qSimLsh _),
    "q_near_dup_verified"      -> (qNearDupVerified _),
    "q_dedup_minhash_verified" -> (qDedupMinhashVerified _),
    "q_sim_lsh_verified"       -> (qSimLshVerified _),
    "q_emb_near_dup_verified"  -> (qEmbNearDupVerified _),
    "q_dedup_simhash_verified" -> (qDedupSimhashVerified _),
    "q_approx_sketch_verified" -> (qApproxSketchVerified _),
    "q_dedup_clusters_verified" -> (qDedupClustersVerified _),
    "q_emb_near_dup"     -> (qEmbNearDup _))

  val oracle: Map[String, String] = Map(
    "q_text_stats"       -> qTextStatsSql,
    "q_normalize"        -> qNormalizeSql,
    "q_gzip_text"        -> qGzipTextSql,
    "q_tfidf"            -> qTfidfSql,
    "q_vocab"            -> qVocabSql,
    "q_chunk"            -> qChunkSql,
    "q_mode"             -> qModeSql,
    "q_dedup_lines"      -> qDedupLinesSql,
    "q_balance"          -> qBalanceSql,
    "q_mixture"          -> qMixtureSql,
    "q_sample"           -> qSampleSql,
    "q_stratified_sample" -> qStratifiedSampleSql,
    "q_split"            -> qSplitSql,
    "q_pack"             -> qPackSql,
    "q_pack_concat"      -> qPackConcatSql,
    "q_inverted_index"   -> qInvertedIndexSql,
    "q_lang_fingerprint" -> qLangFingerprintSql,
    "q_quality_filter"   -> qQualityFilterSql,
    "q_encoding_quality" -> qEncodingQualitySql,
    "q_repetition"       -> qRepetitionSql,
    "q_contamination"    -> qContaminationSql,
    "q_span_dedup"       -> qSpanDedupSql,
    "q_span_trim"        -> qSpanTrimSql,
    "q_span_pairs"       -> qSpanPairsSql,
    "q_decontaminate"    -> qDecontaminateSql,
    "q_span_incr_idx"    -> qSpanIncrIdxSql,
    "q_span_stats"       -> qSpanStatsSql,
    "q_span_delete"      -> qSpanDeleteSql,
    "q_prep_pipeline"    -> qPrepPipelineSql,
    "q_span_novelty"     -> qSpanNoveltySql,
    "q_dedup_exact"      -> qDedupExactSql,
    "q_dedup_jaccard"    -> qDedupJaccardSql,
    "q_sim_topk"         -> qSimTopKSql,
    "q_sim_sq8"          -> qSimSq8Sql,
    "q_vector_ops"       -> qVectorOpsSql,
    "q_sim_ivf"          -> qSimIvfSql,
    "q_kmeans"           -> qKmeansSql,
    "q_semdedup"         -> qSemDedupSql,
    "q_dedup_incr"       -> qDedupIncrSql,
    "q_dedup_incr_idx"   -> qDedupIncrSql,
    "q_dedup_stats"      -> qDedupStatsSql,
    "q_dedup_delete"     -> qDedupDeleteSql,
    "q_stream_dedup_lifecycle" -> qStreamDedupLifecycleSql,
    "q_stream_dedup_readmit" -> qStreamDedupReadmitSql,
    "q_stream_cluster_lifecycle" -> qStreamClusterLifecycleSql,
    "q_stream_cluster_addonly" -> qStreamClusterLifecycleSql,
    "q_stream_cluster_readmit" -> qStreamClusterReadmitSql,
    "q_cluster_stats"    -> qClusterStatsSql,
    "q_stream_span_lifecycle" -> qStreamSpanLifecycleSql,
    "q_corpus_prep"      -> qCorpusPrepSql,
    "q_near_dup_verified"      -> qNearDupVerifiedSql,
    "q_dedup_minhash_verified" -> qDedupMinhashVerifiedSql,
    "q_sim_lsh_verified"       -> qSimLshVerifiedSql,
    "q_emb_near_dup_verified"  -> qEmbNearDupVerifiedSql,
    "q_dedup_simhash_verified" -> qDedupSimhashVerifiedSql,
    "q_approx_sketch_verified" -> qApproxSketchVerifiedSql,
    "q_dedup_clusters_verified" -> qDedupClustersVerifiedSql,
    "q_cluster_exact"    -> qClusterExactSql)
}
