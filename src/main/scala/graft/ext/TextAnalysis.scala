package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization + token counting, quality scoring, n-gram language ID, and
  * document fingerprinting. All pure Column expressions (no udfs) — they
  * stay inside whole-stage codegen and scale linearly with the scan; at
  * 100 TB these run as a single map stage over the documents table, no
  * shuffle at all. */
object TextAnalysis {

  val FingerprintMod: Long = 1000000007L

  /** Whitespace characters, spelled explicitly: Java's `\s` includes
    * vertical tab (\x0B) while RE2's (DuckDB, Go) does not, so `\s` silently
    * tokenizes differently across engines. Every tokenizer in the engine —
    * Column split, the tight-loop expressions, and the oracle SQL — uses
    * this one class so the token stream is identical everywhere. */
  val WsChars: String = " \\t\\n\\f\\r"
  val WsPlus: String = s"[$WsChars]+"

  /** Unicode NFC normalization — byte-identical to DuckDB's
    * nfc_normalize, so normalized text hashes/joins identically across
    * engines (normalize BEFORE exact dedup or fingerprinting). */
  def normalizeNfc(text: Column): Column =
    graft.functions.TextExpressions.normalize(text, "NFC")

  /** Whitespace tokens of the lower-cased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), WsPlus)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: alphanumeric runs and single non-space symbols
    * counted separately — the cheap proxy for subword token counts
    * (pattern kept RE2/Java-compatible for oracle parity). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(lower(text), lit("[a-z0-9]+|[^a-z0-9" + WsChars + "]"))

  /** Punctuation ratio over characters. */
  def punctRatio(text: Column): Column =
    regexp_count(lower(text), lit("[^a-z0-9" + WsChars + "]")).cast(DoubleType) /
      greatest(length(text), lit(1)).cast(DoubleType)

  val EnStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "on", "as",
      "with", "a", "an", "at", "by", "from", "or", "be", "are")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, x => x.isInCollection(EnStopwords))).cast(DoubleType) /
      greatest(size(t), lit(1)).cast(DoubleType)
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast(DoubleType) /
      greatest(size(t), lit(1)).cast(DoubleType)
  }

  /** Heuristic document quality in [0,1]: rewards a sane length band,
    * mid-range mean token length, some stopwords, low punctuation noise.
    * Weights are fixed and documented — determinism matters more than the
    * exact recipe. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val lenOk = when(nTok >= 5 && nTok <= 5000, lit(1.0)).otherwise(lit(0.0))
    val mtl = meanTokenLen(text)
    val mtlOk = when(mtl >= 2.0 && mtl <= 12.0, lit(1.0)).otherwise(lit(0.0))
    val sw = stopwordRatio(text)
    val swOk = when(sw >= 0.01 && sw <= 0.6, lit(1.0)).otherwise(lit(0.0))
    val punct = punctRatio(text)
    lit(0.3) * lenOk + lit(0.2) * mtlOk + lit(0.3) * swOk +
      lit(0.2) * (lit(1.0) - least(punct * 5.0, lit(1.0)))
  }

  /** Classic UTF-8-decoded-as-Latin-1 mojibake digraphs (café → cafÃ©,
    * ’ → â€™, ° → Â°). A literal alternation, NO character classes — the
    * pattern means the same thing in Java regex and RE2, so the DuckDB
    * oracle interpolates this exact constant. */
  val MojibakeMarkers: String = Seq(
    "Ã©", "Ã¨", "Ã¤", "Ã¶",
    "Ã¼", "Ã±", "Ã§", "Ã ",
    "â", "â", "â",
    "â", "â",
    "Â°", "Â»", "Â«").mkString("|")

  /** U+FFFD replacement characters — the bytes-were-already-lost signal
    * every lossy transcode leaves behind. */
  def replacementCount(text: Column): Column =
    regexp_count(text, lit("�"))

  /** Stray C0/C1 control characters (excluding \t \n \r) — binary
    * content mis-sniffed as text. */
  def controlCount(text: Column): Column =
    regexp_count(text, lit("[\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F]"))

  def mojibakeCount(text: Column): Column =
    regexp_count(text, lit(MojibakeMarkers))

  /** Encoding quality in [0,1]: 1 minus the (clamped, 5×-weighted) share
    * of characters lost to replacement chars, stray controls, or
    * mojibake digraphs — the standard pre-training filter for
    * transcoding damage, dual to [[qualityScore]]'s linguistic signals.
    * Pure Column arithmetic: no UDF, no shuffle. */
  def encodingQuality(text: Column): Column =
    lit(1.0) - least(
      (replacementCount(text) + controlCount(text) + mojibakeCount(text))
        .cast(DoubleType) * 5.0 /
        greatest(length(text), lit(1)).cast(DoubleType),
      lit(1.0))

  /** Marker-word profiles for the n-gram/stopword language-ID heuristic.
    * Kept alphabetical by language code: ties resolve to the first
    * strictly-greater score, i.e. the alphabetically-first language wins. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "on"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "que", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est", "dans", "pour", "pas", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"))

  /** Language ID: count marker-word hits per language, take the argmax
    * (ties → alphabetically-first). "und" (undetermined) when nothing hits. */
  def langId(text: Column): Column = {
    val t = tokens(text)
    def score(markers: Seq[String]): Column =
      size(filter(t, x => x.isInCollection(markers)))
    val best = LangMarkers.foldLeft(struct(lit(0).as("s"), lit("und").as("l"))) {
      case (acc, (lang, markers)) =>
        val sc = score(markers)
        when(sc > acc.getField("s"),
          struct(sc.as("s"), lit(lang).as("l"))).otherwise(acc)
    }
    best.getField("l")
  }

  /** Benchmark-contamination check: how many of each document's word
    * n-gram shingles appear in the benchmark corpus's shingle set.
    * The benchmark shingle set is built once and broadcast; the document
    * side is one explode + semi-match + count — no quadratic pass.
    * Output: every `idCol` of `docs` with `n_overlap` and a `contaminated`
    * flag at `minOverlap`. */
  def contamination(docs: org.apache.spark.sql.DataFrame,
                    bench: org.apache.spark.sql.DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3, minOverlap: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val benchShingles = bench
      .select(explode(Dedup.shingles(col(textCol), n)).as("sh")).distinct()
    val hits = docs
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Non-distinct word n-grams — repetition signals need multiplicity
    * (unlike [[Dedup.shingles]], which dedups for set similarity). */
  def ngramsAll(text: Column, n: Int): Column = {
    val t = tokens(text)
    transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
      i => concat_ws(" ", slice(t, i + lit(1), lit(n))))
  }

  /** Fraction of adjacent token pairs that repeat ("the the") — pure
    * map-side expression. */
  def consecutiveRepeatRatio(text: Column): Column = {
    val t = tokens(text)
    val sz = size(t)
    size(filter(zip_with(slice(t, lit(1), sz - 1), slice(t, lit(2), sz - 1),
        (a, b) => a === b), x => x)).cast(DoubleType) /
      greatest(sz - 1, lit(1)).cast(DoubleType)
  }

  /** Gopher-style repetition signals per document:
    *  - `top{n}gram_frac`: share of all n-gram occurrences taken by the
    *    single most frequent n-gram;
    *  - `dup{n}gram_frac`: share of n-gram occurrences that are repeats
    *    (1 − distinct/total);
    *  - `rep_ratio`: consecutive-token repeat fraction.
    *
    * Shape at scale: a per-document signal must not shuffle — the naive
    * explode + groupBy(doc, gram) formulation shuffles every gram
    * occurrence (measured 4s at sf0.1 vs ~0.3s for this one). Instead the
    * grams are sorted per row and the max n-gram count falls out as the
    * longest equal-neighbor run: the whole operator is one map-side
    * projection over the scan. The sorted gram array is aliased in its own
    * projection; CollapseProject keeps multi-use non-cheap aliases
    * un-inlined, so it is computed once per row. */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame, textCol: String,
                        idCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    val g = col("__g")
    val total = size(g)
    // longest run of equal neighbors in the sorted array == max gram count
    val maxRun = aggregate(g,
      struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev"), acc.getField("cur") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
    docs
      .select(col(idCol), col(textCol),
        array_sort(ngramsAll(col(textCol), n)).as("__g"))
      .select(col(idCol),
        consecutiveRepeatRatio(col(textCol)).as("rep_ratio"),
        (maxRun.cast(DoubleType) / total.cast(DoubleType)).as(s"top${n}gram_frac"),
        (lit(1.0) - size(array_distinct(g)).cast(DoubleType) / total.cast(DoubleType))
          .as(s"dup${n}gram_frac"))
  }

  /** Top-k salient terms per document by tf-idf.
    *
    * idf is the smoothed RATIO (N+1)/(df+1), not its logarithm: the gate
    * compares doubles bit-for-bit across engines and libm `ln` is not
    * guaranteed identical between the JVM and DuckDB — swapping in log-idf
    * is a one-line change where cross-engine bit-equality is not required.
    *
    * Scale shape: term frequencies aggregate on (doc, term) — narrow keys,
    * map-side partial agg; document frequencies on (term) — vocabulary-
    * sized; the idf join is size-adaptive (runtime broadcast when the
    * vocabulary fits, shuffle join when it doesn't); top-k per doc is a
    * ranked window over each doc's own terms. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Corpus size rides as a broadcast scalar (no separate count action),
    // and the exploded terms repartition on the doc id ONCE: hash(id)
    // satisfies the (id, term) aggregation's clustering AND the per-id
    // window, so tf-counting, ranking, and (via ReuseExchange) the
    // document-frequency branch all hang off a single wide exchange.
    val n = docs.agg(countDistinct(col(idCol)).cast(DoubleType).as("__n"))
    val terms = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .repartition(col(idCol))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // idf join deliberately UNHINTED: the vocabulary is broadcast-sized
    // at bench scale (AQE picks a runtime broadcast) but Heaps'-law
    // unbounded at 100 TB, where forcing it would OOM the driver —
    // there the planner's shuffle join on term is the correct shape
    val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast(DoubleType) *
          ((col("__n") + 1.0) / (col("df").cast(DoubleType) + 1.0)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Inverted index: term → sorted posting list of document ids (+ df).
    * The posting list is emitted as JSON for the driver's comparator. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, textCol: String,
                    idCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        to_json(sort_array(collect_list(col(idCol)))).as("postings"))

  /** Polynomial rolling-hash fingerprint over the normalized character
    * stream: h := (h*31 + codepoint) mod 1e9+7. Order-sensitive (unlike a
    * bag-of-words hash) and expressible in plain SQL for the oracle. */
  def fingerprint(text: Column): Column = {
    val chars = split(lower(trim(text)), "")
    aggregate(chars, lit(0L),
      (h, c) => (h * 31L + ascii(c)) % FingerprintMod)
  }

  /** Hashing-trick feature bucket of one token: the polynomial hash
    * reduced mod `buckets`. Shared by importance scoring (batch and
    * streaming) so standing feature tables and ad-hoc scores agree. */
  def tokenBucket(token: Column, buckets: Int): Column =
    aggregate(split(token, ""), lit(0L),
      (h, c) => (h * 31L + ascii(c)) % FingerprintMod) % buckets
}
