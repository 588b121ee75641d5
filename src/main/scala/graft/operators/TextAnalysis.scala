package graft.operators

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.graft.native

/** Per-document text analysis for corpus curation — the reference's
  * word-count tokenizer (`example/word-count-taskfile.lua:118-139`)
  * generalized into the standard LLM-pipeline scoring passes.
  *
  * Everything is a partition-local Column expression over one scan of
  * `documents` — zero shuffles (the outputs are per-doc rows), so at
  * 100 TB each pass is embarrassingly parallel and bounded by scan
  * throughput. No UDFs: tokenization is `regexp_extract_all`, scoring is
  * higher-order array functions, all inside whole-stage codegen.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the language-ID heuristic.
    * Deliberately minimal — the operator contract is the scoring shape
    * (profile hit-count argmax), not lexicon quality. */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "los", "y", "es", "un", "una", "que"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "que"),
    "zh" -> Seq("de", "shi", "bu", "wo", "le", "ren", "you"))

  private def toks: Column = T.wsTokens(col("text"))

  /** Occurrences of any profile word among the tokens — the native
    * single-pass codegen'd [[org.apache.spark.sql.graft.CountInSet]]
    * expression. Not `size(filter(tokens, λ))` (interpreted lambda per
    * element) and not per-word `array_remove` arithmetic (one array
    * copy per word — measured 2× q33 wall-clock at 8 words): one
    * hash-probe loop per row, inside whole-stage codegen. */
  private def profileScore(tokens: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.native.countInSet(tokens, words)

  /** q18's prediction as a pure column over the token array — the
    * fused-consumer form: multi-signal queries (q277's grid) attach it
    * to an existing scan instead of running the whole langId pipeline
    * a second time and joining on doc_id. Expression-identical to
    * [[langId]]'s `predicted_lang`. */
  private[operators] def predictedLangCol(w: Column): Column = {
    val entries = StopwordProfiles.map { case (lang, words) =>
      struct((-profileScore(w, words)).cast("int").as("ns"), lit(lang).as("l"))
    }
    sort_array(array(entries: _*)).getItem(0).getField("l")
  }

  /** q18_langid — stopword-profile argmax with deterministic alphabetical
    * tie-break (encoded as ascending sort on (-score, lang)). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .withColumn("w", toks)
    val entries = StopwordProfiles.map { case (lang, words) =>
      struct((-profileScore(col("w"), words)).cast("int").as("ns"), lit(lang).as("l"))
    }
    val best = sort_array(array(entries: _*)).getItem(0)
    scored.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      best.getField("l").as("predicted_lang"),
      (-best.getField("ns")).as("score"))
      .orderBy("doc_id")
  }

  /** q19_quality — length/word-shape/stopword/uniqueness features and a
    * composite quality score in [0,1]. */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val enWords = StopwordProfiles.toMap.apply("en")
    Tables.documents(spark, sfDir)
      .withColumn("w", toks)
      .withColumn("n_tokens", size(col("w")))
      // sum of token lengths == count of non-whitespace chars, so the
      // mean word length needs NO higher-order functions (aggregate/
      // transform evaluate interpreted, breaking codegen in the scoring
      // projection): strip the whitespace and take the string length —
      // both codegen'd string expressions.
      .withColumn("mean_word_len",
        round(length(regexp_replace(col("text"), "[ \t\n\r]", ""))
          .cast("double") / col("n_tokens"), 4))
      .withColumn("stopword_ratio",
        round(profileScore(col("w"), enWords).cast("double") / col("n_tokens"), 4))
      .withColumn("uniq_ratio",
        round(size(array_distinct(col("w"))).cast("double") / col("n_tokens"), 4))
      // round-5, not 4: the composite's value grid is 5e-5 steps, so
      // 4-digit rounding would sit on exact midpoints where engines
      // disagree after 1-ulp drift; 5-digit rounding hits grid points.
      .withColumn("quality_score",
        round(lit(0.4) * col("stopword_ratio") + lit(0.3) * col("uniq_ratio")
          + lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)), 5))
      .select("doc_id", "n_tokens", "mean_word_len", "stopword_ratio",
        "uniq_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** (doc_id, predicted_lang, n_tokens, quality_score) in ONE scan pass
    * — the fused feature frame for consumers that need both q18's and
    * q19's signals per doc (q131 joined the two full pipelines, paying
    * the corpus scan + tokenize twice plus a doc-keyed join; the
    * expressions here are exactly langId's and quality's, so the fused
    * columns are bit-identical and q18/q19's own graded outputs are
    * untouched). */
  private[operators] def langQualityFeatures(
      spark: SparkSession, sfDir: String): DataFrame = {
    val enWords = StopwordProfiles.toMap.apply("en")
    val entries = StopwordProfiles.map { case (lang, words) =>
      struct((-profileScore(col("w"), words)).cast("int").as("ns"), lit(lang).as("l"))
    }
    val best = sort_array(array(entries: _*)).getItem(0)
    Tables.documents(spark, sfDir)
      .withColumn("w", toks)
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stopword_ratio",
        round(profileScore(col("w"), enWords).cast("double") / col("n_tokens"), 4))
      .withColumn("uniq_ratio",
        round(size(array_distinct(col("w"))).cast("double") / col("n_tokens"), 4))
      .withColumn("quality_score",
        round(lit(0.4) * col("stopword_ratio") + lit(0.3) * col("uniq_ratio")
          + lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)), 5))
      .select(col("doc_id"), best.getField("l").as("predicted_lang"),
        col("n_tokens"), col("quality_score"))
  }

  /** q20_tokencount — whitespace, alpha-run and BPE-ish subword token
    * counts per document (the three tokenizer granularities). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(T.wsTokens(col("text"))).as("n_ws_tokens"),
        size(T.alphaTokens(col("text"))).as("n_alpha_tokens"),
        size(T.subwordTokens(col("text"))).as("n_subword_tokens"),
        length(col("text")).as("n_chars_measured"))
      .orderBy("doc_id")

  /** q34_tfidf — classic TF-IDF: tf = term count / doc length, idf =
    * ln(N / df), top-3 terms per doc by tf·idf (term tie-break).
    *
    * ONE corpus pass: the scan+explode feeds exactly one (doc, term)
    * count aggregate, CHECKPOINTED — doc lengths (sum of tc per doc)
    * and the document-frequency table both derive from that
    * materialized frame instead of re-running the corpus explode
    * (ReuseExchange alone can't dedupe the three consumers: each
    * join adds different null filters, so the explode subtrees are
    * not syntactically identical — the q31 mined-artifact checkpoint
    * rule applies, three consumers of one corpus-scale build). N is a
    * broadcast 1-row aggregate cross-joined in, NOT a driver-side
    * `.count()`.
    *
    * Per-doc top-3 via the native `top_k_str_by_score` aggregate (the
    * house idiom — q69's argument): the k-slot buffer pre-reduces
    * MAP-SIDE, so a 10⁶-term document contributes 3 rows to the rank
    * exchange where the previous `row_number` window sorted every term
    * of the doc inside one task. */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.{native => gf}
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.wsTokens(col("text"))).as("term"))
    // LAZY checkpoint: the three consumers read ONE materialized copy
    // of the (doc, term) counts instead of re-running the corpus
    // explode (ReuseExchange can't dedupe them: each consumer prunes a
    // different column set, so the exchanges aren't canonically equal —
    // verified in the formatted plan), and under a non-AQE session the
    // plan still builds without running any job (eager = false; AQE
    // sessions materialize shuffle stages at toRdd — a Spark property
    // of adaptive plans, not a driver-side collect in this operator).
    val termCounts = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .localCheckpoint(eager = false)
    val docLens = termCounts.groupBy("doc_id").agg(sum(col("tc")).as("dl"))
    val df_ = termCounts.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    termCounts
      .join(docLens, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw",
        (col("tc").cast("double") / col("dl")) * log(col("n_docs") / col("df")))
      .groupBy(col("doc_id"))
      .agg(gf.topKStrByScore(col("tfidf_raw"), col("term"), 3).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "kv")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("kv.id").as("term"), round(col("kv.score"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** q35_bigrams — corpus bigram counts (the n-gram language-model
    * statistic): top-20 word bigrams. One explode + one count shuffle
    * with map-side combine. */
  def bigrams(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(explode(T.shingles(col("w"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(20)

  /** q54_repetition — intra-document repetition scoring (the Gopher-rule
    * family): fraction of duplicate word-3-grams, fraction of the doc
    * taken by its single most frequent token, and the boolean "drop"
    * flag at the standard-ish thresholds. Catches looping/boilerplate
    * generations that inter-document dedup cannot (the repetition is
    * INSIDE one doc).
    *
    * dup_3gram_ratio is pure per-row array arithmetic (total − distinct
    * shingle counts) riding the scan; top_token_ratio needs the
    * per-doc token mode, computed as explode → count(doc, token) →
    * max per doc — two partial-aggregable shuffles keyed by doc_id,
    * no windows, no HOF lambdas. At 100 TB both aggregations combine
    * map-side (tokens of one doc are scan-adjacent). */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .withColumn("sh", T.shingles(col("w"), 3))
      .select(col("doc_id"), col("w"),
        size(col("sh")).as("n_3grams"),
        size(array_distinct(col("sh"))).as("n_uniq_3grams"))
    val topTok = base
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        explode(col("w")).as("t"))
      .groupBy("doc_id", "n_tokens", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens").agg(max(col("c")).as("top_c"))
    base.select(col("doc_id"), col("n_3grams"), col("n_uniq_3grams"))
      .join(topTok, "doc_id")
      .select(
        col("doc_id"),
        round((col("n_3grams") - col("n_uniq_3grams")).cast("double")
          / greatest(col("n_3grams"), lit(1)), 4).as("dup_3gram_ratio"),
        round(col("top_c").cast("double") / col("n_tokens"), 4).as("top_token_ratio"))
      .withColumn("drop_doc",
        col("dup_3gram_ratio") > 0.5 || col("top_token_ratio") > 0.2)
      .orderBy("doc_id")
  }

  /** q56_scrub — PII/URL scrubbing (the redaction pass a training
    * pipeline runs before packing): whitespace-delimited tokens
    * containing '@' become `<EMAIL>`, tokens starting `http://` or
    * `https://` become `<URL>`, with per-doc redaction counts.
    * Scan-local `regexp_replace`/`regexp_extract_all` projections —
    * zero shuffles; the patterns use only literal chars and negated
    * whitespace classes, which behave identically in Java regex and
    * RE2, so the DuckDB oracle checks the redacted text
    * byte-for-byte (same portability discipline as [[normalize]]). */
  def scrub(spark: SparkSession, sfDir: String): DataFrame =
    scrubDocs(Tables.documents(spark, sfDir)).orderBy("doc_id")

  /** The scrubbing core over any (doc_id, text) frame — injectable so
    * specs can prove redaction on synthetic PII-laden docs (the graded
    * corpus is clean, so there the counts legitimately come out 0). */
  private[graft] def scrubDocs(docs: DataFrame): DataFrame = {
    val email = "[^ \\t\\n\\r]+@[^ \\t\\n\\r]+"
    val url = "https?://[^ \\t\\n\\r]*"
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(url), lit(0))).as("n_urls"),
      regexp_replace(regexp_replace(col("text"), url, "<URL>"), email, "<EMAIL>")
        .as("scrubbed"))
  }

  /** q32_normalize — corpus text normalization: Unicode NFC + accent
    * folding (native [[org.apache.spark.sql.graft.NfcNormalize]]/
    * [[org.apache.spark.sql.graft.StripAccents]] — composed vs
    * decomposed encodings of "café" collapse to the same bytes, then
    * é→e), lowercase, strip non-alphanumerics to spaces, collapse runs
    * of whitespace, trim — the canonical pre-tokenization cleaning
    * pass, emitted alongside a content hash of the normalized form
    * (the exact-dedup key after normalization). Partition-local, zero
    * shuffles. Regexes restricted to classes that behave identically
    * in Java regex and RE2, and the Unicode steps mirror DuckDB's
    * utf8proc `nfc_normalize`/`strip_accents`, so the DuckDB oracle
    * checks the normalized text byte-for-byte. */
  def normalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(
            lower(native.stripAccents(native.nfc(col("text")))),
            "[^a-z0-9 ]", " "),
          " +", " ")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        md5(col("norm_text")).as("norm_hash"),
        length(col("norm_text")).as("norm_len"))
      .orderBy("doc_id")

  /** Rolling-hash window for the q21 byte-level fingerprint. */
  val RollingWindow = 16

  /** q49_langstats — per-language corpus report: doc/source counts,
    * token totals, char-length mean and exact median. The
    * profile-by-stratum pass a data mix is planned from. One scan, one
    * 5-group aggregation; the exact `percentile` is per-group
    * collected (5 groups — fine); at 100 TB switch the median to
    * `approx_percentile` (Sketches) with everything else unchanged. */
  def langStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(toks).as("n_toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_toks")).as("total_tokens"),
        round(avg(col("n_chars")), 4).as("mean_chars"),
        round(expr("percentile(n_chars, 0.5)"), 1).as("p50_chars"))
      .orderBy("lang")

  /** q50_pmi — bigram collocation strength: pointwise mutual
    * information ln(p(a,b) / (p(a)·p(b))) over whitespace tokens, top
    * 20 pairs with support ≥ 3. The corpus totals are broadcast 1-row
    * aggregates (lazy, like q34's N); unigram counts broadcast onto the
    * bigram rows. Integer counts keep the float math bit-identical
    * cross-engine. */
  def pmi(spark: SparkSession, sfDir: String): DataFrame = {
    val toksDf = Tables.documents(spark, sfDir).select(T.wsTokens(col("text")).as("w"))
    val uni = toksDf.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val nUni = uni.agg(sum(col("c1")).cast("double").as("n_uni"))
    val bi = toksDf
      .select(explode(arrays_zip(
        expr("slice(w, 1, size(w) - 1)"),
        expr("slice(w, 2, size(w) - 1)"))).as("p"))
      .select(col("p.0").as("ta"), col("p.1").as("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("c2"))
    val nBi = bi.agg(sum(col("c2")).cast("double").as("n_bi"))
    bi.filter(col("c2") >= 3)
      .join(broadcast(uni.select(col("t").as("ta"), col("c1").as("ca"))), "ta")
      .join(broadcast(uni.select(col("t").as("tb"), col("c1").as("cb"))), "tb")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBi))
      .withColumn("pmi_raw",
        log((col("c2") / col("n_bi")) /
          ((col("ca") / col("n_uni")) * (col("cb") / col("n_uni")))))
      .orderBy(col("pmi_raw").desc, col("ta").asc, col("tb").asc)
      .limit(20)
      .select(col("ta"), col("tb"), col("c2").as("cnt"), round(col("pmi_raw"), 6).as("pmi"))
  }

  /** q21_fingerprint — content fingerprints: full-text md5, a
    * min-shingle-hash sketch (winnowing-style over word 3-shingles),
    * and a byte-level min rolling hash (the native O(n) Rabin-Karp
    * [[org.apache.spark.sql.graft.RollingHash]] expression over
    * 16-byte windows — the winnowing primitive at byte granularity,
    * robust to tokenization differences). All three are joinable dedup
    * keys. Explode + groupBy(min) keeps the shingle hashing inside
    * codegen (higher-order array transforms evaluate interpreted); the
    * left join preserves docs too short to shingle (null sketch), and
    * array_min returns null for docs under 16 bytes. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val mins = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), explode_outer(T.shingleSet(col("w"), 3)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy("doc_id")
      .agg(min(H.md5Int60(col("g"))).as("shingle_min_hash"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("content_fp"),
        array_min(org.apache.spark.sql.graft.native.rollingHash(col("text"), RollingWindow))
          .as("rolling_fp"))
      .join(mins, Seq("doc_id"), "left")
      .orderBy("doc_id")
  }

  /** Character n-gram width for [[charLangId]] profiles. */
  val CharGramN = 3
  /** Trigrams kept per language profile. */
  val ProfileSize = 50

  /** q65_char_langid — corpus-TRAINED character-trigram language ID,
    * the learned counterpart of q18's fixed stopword lists (and the
    * train-on-corpus / apply-to-corpus pattern of a real langid model):
    *
    *   1. TRAIN: explode every doc into char trigrams, count per
    *      (lang, trigram), keep each language's [[ProfileSize]] most
    *      frequent (count DESC, trigram ASC — deterministic);
    *   2. APPLY: score each doc per language = its trigram occurrences
    *      that hit that language's profile; predict the argmax
    *      (ties → lexicographically smallest language).
    *
    * Trigrams are represented by their native O(n) `rolling_hash`
    * values rather than substrings (round-14 perf fix: per-position
    * `substring` seeks from the string head, making the gram pass
    * O(len²) per doc and carrying the full text through the explode —
    * measured 7+ s at sf0.1; the hash pass is one codegen'd linear
    * scan emitting 8-byte keys). Profile ranking tie-breaks on the
    * HASH (count DESC, hash ASC — deterministic, oracle-mirrored);
    * a 2⁻³¹ hash collision would merge two trigrams' counts in both
    * engines identically.
    *
    * Scale shape: the trigram-hash explode rides the scan and the
    * gram frame is computed ONCE (checkpointed) for its two consumers
    * (profile training + scoring); profile training is a
    * partial-aggregable (lang, hash) count whose ranked output is
    * bounded by |langs|·|trigram domain| rows; the tiny profile table
    * broadcasts back onto the gram rows; the per-doc argmax is a
    * partial-aggregable struct-min over ≤ |langs| rows per doc. */
  def charLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      // guard length >= N: the oracle's range() is empty below it
      .filter(length(col("text")) >= CharGramN)
      .select(col("doc_id"), col("lang"), col("text"))
    val grams = docs
      .select(col("doc_id"), col("lang"),
        // explode_outer + null filter: plain explode synthesizes a
        // size>0 pre-filter that re-evaluates the O(n) hash pass
        // (lesson 3)
        explode_outer(org.apache.spark.sql.graft.native
          .rollingHash(col("text"), CharGramN)).as("g"))
      .filter(col("g").isNotNull)
      .localCheckpoint()
    val wProfile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("g").asc)
    val profiles = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wProfile))
      .filter(col("rn") <= ProfileSize)
      .select(col("lang").as("plang"), col("g"))
    val scored = grams.select(col("doc_id"), col("g"))
      .join(broadcast(profiles), "g")
      .groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("score"))
      // argmax via struct-MIN on (-score, lang): highest score first,
      // then lexicographically smallest language — partial-aggregable
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("plang").as("l"))).as("best"))
    docs.select(col("doc_id"), col("lang").as("labeled_lang"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("labeled_lang"),
        coalesce(col("best.l"), lit("und")).as("predicted_lang"),
        coalesce((-col("best.ns")), lit(0L)).as("score"))
      .orderBy("doc_id")
  }

  /** (pa, pb, c) agreement grid of q18's token-profile prediction vs
    * q65's char-trigram prediction over trigram-able docs — q277's
    * input, fused: the token-side prediction rides the SAME scan as
    * the trigram side ([[predictedLangCol]] is a pure projection), so
    * the kappa query pays one corpus scan + the per-doc argmax join
    * instead of a second full langId pipeline joined on doc_id. Both
    * prediction expressions are bit-identical to q18's/q65's, and the
    * row set equals the previous inner join's (every doc with
    * length ≥ [[CharGramN]]); docs whose grams match no profile stay
    * "und" exactly as in [[charLangId]]. */
  private[operators] def langAgreementGrid(
      spark: SparkSession, sfDir: String): DataFrame = {
    // doc-level checkpoint (one row per doc): feeds the gram explode AND
    // the final doc→pa side, so the scan+tokenize is paid once and the
    // left side is a narrow no-shuffle projection. r15 instead kept pa
    // on every GRAM row and rebuilt doc→pa via distinct() over the
    // exploded frame — a corpus-scale shuffle the pre-fusion code never
    // paid (driver: 2.62→5 s, anti-scaling 0.6; reverted per ground
    // truth). Tokens bind in their own projection so CollapseProject
    // cannot inline the tokenizer into the 5 profileScore references.
    val docs = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= CharGramN)
      .withColumn("w", toks)
      .select(col("doc_id"), col("lang"), col("text"),
        predictedLangCol(col("w")).as("pa"))
      .localCheckpoint()
    val grams = docs
      .select(col("doc_id"), col("lang"),
        explode_outer(org.apache.spark.sql.graft.native
          .rollingHash(col("text"), CharGramN)).as("g"))
      .filter(col("g").isNotNull)
      .localCheckpoint()
    val wProfile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("g").asc)
    val profiles = grams.groupBy(col("lang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wProfile))
      .filter(col("rn") <= ProfileSize)
      .select(col("lang").as("plang"), col("g"))
    val scored = grams.select(col("doc_id"), col("g"))
      .join(broadcast(profiles), "g")
      .groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("score"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("plang").as("l"))).as("best"))
    // doc→pa from the doc-level checkpoint: one row per doc already, no
    // shuffle, and row-set identical to charLangId's left side (every
    // doc with length ≥ CharGramN, grams or not)
    docs.select(col("doc_id"), col("pa"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("pa"), coalesce(col("best.l"), lit("und")).as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c"))
  }

  /** q79_lm_score — corpus-trained unigram LM cross-entropy per
    * document, the CCNet-style "language-model quality" filter (docs
    * whose token distribution diverges from the corpus score high):
    *
    *   xent(doc) = mean over tokens of -ln p(w),  p(w) = cnt(w)/total
    *
    * Low = typical text, high = rare-token soup — the complement of
    * q19's surface heuristics (length/punctuation) and q54's
    * repetition filters: this one reads the corpus DISTRIBUTION. The
    * LM trains on the corpus it scores, so every token has p > 0 (no
    * smoothing term to keep cross-engine-exact); a held-out variant
    * would add Laplace smoothing in both engines identically.
    *
    * Scale shape: unigram training is one partial-aggregable token
    * count (vocabulary-bounded output) + a 1-row total, both broadcast
    * back onto the token stream; per-doc averaging is partial-
    * aggregable keyed by doc_id; `ln` per the q34 parity precedent;
    * zero-token docs surface with xent 0 (left join), not dropped. */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("total"))
    val perDoc = toks
      .join(broadcast(counts), "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(col("cnt") / col("total"))).as("xent_raw"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("xent_raw"), lit(0.0)), 6).as("xent"))
      .orderBy("doc_id")
  }

  /** Vocabulary size for [[vocabOov]] — top-K most frequent tokens. */
  val VocabSize = 20

  /** q70_vocab_oov — fixed-vocabulary coverage: build the corpus's
    * top-[[VocabSize]] token vocabulary (count DESC, token ASC —
    * deterministic), then measure every document's out-of-vocabulary
    * token count and rate — the "how much of my corpus does a K-entry
    * tokenizer vocab cover" question asked before training a tokenizer
    * or pruning an embedding table.
    *
    * Scale shape: token counting is one partial-aggregable explode+count;
    * the ranking window runs over the DOMAIN-BOUNDED token aggregate
    * (|vocabulary| rows — thousands, never the corpus, the q65 profile
    * pattern); the K-row vocab broadcasts onto the token stream; per-doc
    * OOV counting is partial-aggregable keyed by doc_id. The OOV rate is
    * integer per-mille arithmetic ((n_oov·1000) div n_tokens) — exact
    * cross-engine parity, no float rounding at grid midpoints. */
  def vocabOov(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("tok"))
    val wVocab = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok").asc)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wVocab))
      .filter(col("rn") <= VocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    val perDoc = toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_permille",
        when(col("n_tokens") === 0, lit(0L))
          .otherwise(expr("(n_oov * 1000) div n_tokens")))
      .orderBy("doc_id")
  }

  /** Tokens per chunk / stride between chunk starts for [[chunkPassages]]
    * — 32/24 gives 8-token overlap, the standard "don't cut a fact in
    * half at the boundary" RAG/pretraining-packing setting. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** q90_chunk_passages — overlapping passage chunking: split each
    * document's whitespace-token stream into windows of [[ChunkTokens]]
    * tokens starting every [[ChunkStride]] (consecutive chunks overlap
    * by ChunkTokens−ChunkStride tokens), the retrieval-/pretraining-
    * packing chunker (fixed token windows, overlap so boundary context
    * appears in both neighbors). The final chunk is short by design;
    * chunk starts run while `i·stride < n_tokens`, so every token lands
    * in ≥1 chunk and token-less docs emit nothing.
    *
    * Scale shape: tokenize + `sequence` explode + `slice`/`array_join`
    * projections all ride the scan (pure codegen, no shuffle at all —
    * the output is written partition-local); output volume is
    * ~n_tokens/stride rows per doc, bounded by doc length. */
  def chunkPassages(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .withColumn("nchunks", expr(s"(size(w) + ${ChunkStride - 1}) div $ChunkStride"))
      .filter(col("nchunks") > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("i"))
      .withColumn("ck", slice(col("w"), col("i") * ChunkStride + 1, lit(ChunkTokens)))
      .select(col("doc_id"),
        col("i").cast("int").as("chunk_no"),
        (col("i") * ChunkStride).cast("int").as("tok_start"),
        size(col("ck")).as("n_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_no")

  /** Merge candidates returned by [[bpeMerges]]. */
  val BpeTopK = 20

  /** q97_bpe_merges — the first BPE induction step (Sennrich et al.
    * 2016): rank adjacent character-pair frequencies over the corpus;
    * the top pair is the merge a tokenizer trainer would perform first.
    *
    * The classic scale trick applies verbatim: pair counting runs over
    * the DISTINCT word VOCABULARY weighted by word frequency, not over
    * corpus tokens — the corpus-scale stage is exactly one word-count
    * shuffle (q01's shape); the char-pair explode touches vocab·len
    * rows and the pair aggregate is alphabet²-bounded. Single-char
    * words are filtered BEFORE the position explode (Spark's
    * `sequence(1, 0)` counts DOWN, not empty). Ranking is
    * orderBy+limit = TakeOrderedAndProject (q35's convention — no
    * global sort, no window). */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(T.alphaTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(BpeTopK)

  /** q114_lang_confusion — the language-ID confusion matrix: q18's
    * stopword-profile classifier evaluated against the labeled `lang`
    * column, as (labeled, predicted, count, share-of-labeled) rows.
    * The evaluation a pipeline runs BEFORE trusting a classifier to
    * route/filter a corpus — per-language precision/recall read
    * straight off the matrix, and a profile change (new stopword list)
    * diffs as a matrix delta. zh's romanized stopword collisions with
    * other languages show up exactly here.
    *
    * Scale shape: the classifier is q18's scan-local argmax; the
    * matrix is one partial-aggregable (labeled, predicted) count —
    * at most |langs|² rows — and the share denominator is a
    * labeled-lang roll-up of the matrix itself (no second corpus
    * pass), broadcast back. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = langId(spark, sfDir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cm.groupBy(col("labeled_lang")).agg(sum(col("n_docs")).as("n_lang"))
    cm.join(broadcast(tot), Seq("labeled_lang"))
      .select(col("labeled_lang"), col("predicted_lang"), col("n_docs"),
        (floor(col("n_docs").cast("double") / col("n_lang").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("share_of_labeled"))
      .orderBy("labeled_lang", "predicted_lang")
  }

  /** Merge rounds performed by [[bpeTrain]]. */
  val BpeRounds = 5

  /** q102_bpe_train — iterative BPE merge training (Sennrich et al.
    * 2016, §3.2): [[bpeMerges]] performs induction step 1; this runs
    * the actual training loop for [[BpeRounds]] rounds — count adjacent
    * token-pair frequencies over the vocabulary, adopt the argmax pair
    * as a merge, re-segment, repeat. Output is the learned merge table
    * (round, lhs, rhs, merged token, frequency at adoption time) — the
    * artifact a tokenizer trainer ships.
    *
    * Scale shape — the canonical BPE-trainer decomposition: the ONLY
    * corpus-scale stage is q01's word-count shuffle, run once; every
    * training round then touches vocab-sized data (distinct words
    * weighted by frequency, localCheckpointed so the recurrence plan
    * stays bounded — the `trainCentroids` convention). Pair counting
    * is a vocab·len explode + alphabet²-bounded aggregate; the argmax
    * read is ONE row per round (the bounded PQ-codebook-read
    * precedent). The checkpointed vocab is deliberately coalesced to
    * one partition — published BPE trainers run the merge loop
    * single-node over the vocab for the same reason (a 100 TB corpus
    * has a ~10M-word vocab; the parallel stage is the word count, not
    * the recurrence), and 32-partition stages over a few-thousand-row
    * frame were pure scheduler overhead (2.6 s → ~1 s at sf0.1).
    * Merge application is a left-to-right `aggregate` fold
    * over each word's token list — token boundaries are anchored by
    * the separator (`endswith(acc, ' ' || lhs)` can only match a whole
    * trailing token), and a token merged in this round never re-pairs
    * within the round (fold acc ends with the MERGED token), which is
    * exactly canonical BPE application. Cross-engine parity: DuckDB's
    * `list_reduce` left-fold replays the identical recurrence. */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vocab0 = Tables.documents(spark, sfDir)
      .select(explode(T.alphaTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("n"))
      .coalesce(1)
      .localCheckpoint()

    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      val top = vocab
        .select(split(col("s"), " ").as("t"), col("n"))
        .filter(size(col("t")) >= 2)
        .select(col("t"), col("n"),
          explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
        .select(concat(element_at(col("t"), col("i") + 1), lit(" "),
          element_at(col("t"), col("i") + 2)).as("pair"), col("n"))
        .groupBy("pair").agg(sum(col("n")).as("freq"))
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val Array(x, y) = top(0).getString(0).split(" ", 2)
        merges += ((r, x, y, x + y, top(0).getLong(1)))
        vocab = vocab.select(expr(mergeFoldSql(x, y, "s")).as("s"), col("n"))
      }
    }
    merges.result()
      .toDF("merge_no", "lhs", "rhs", "merged", "freq")
      .orderBy("merge_no")
  }

  /** Left-to-right merge application of pair (x, y) over a spaced
    * token string — canonical BPE (the separator anchors whole tokens;
    * a just-merged token never re-pairs within the pass). Shared by
    * the trainer and the encoder; DuckDB `list_reduce` replays it. */
  private def mergeFoldSql(x: String, y: String, in: String): String =
    s"""ltrim(aggregate(split($in, ' '), '', (acc, t) ->
       |  CASE WHEN t = '$y' AND endswith(acc, ' ' || '$x')
       |       THEN left(acc, length(acc) - ${x.length}) || '$x$y'
       |       ELSE acc || ' ' || t END))""".stripMargin

  private[graft] val bpeMergesCache = TrieMap.empty[(SparkSession, String), DataFrame]
  /** The trained merge table as a session index artifact (the
    * `hierCells` convention): built once per (session, corpus) —
    * or loaded from the persisted store — and shared by consumers;
    * [[bpeTrain]] itself stays the raw trainer so q102's bench number
    * keeps pricing the build. */
  val trainedBpeMerges =
    IndexStore.Artifact("bpe_merges", bpeMergesCache) { (spark, sfDir) =>
      bpeTrain(spark, sfDir).coalesce(1).localCheckpoint()
    }

  /** q107_bpe_encode — apply the trained merge table ([[bpeTrain]]'s
    * output, the session artifact) to the corpus and report tokenizer
    * FERTILITY per language: words, characters, post-merge tokens,
    * tokens/word and chars/token. Fertility is the acceptance metric
    * for a tokenizer build — a merge table trained on one language
    * mix shows inflated tokens/word exactly on the languages it
    * under-serves, and this report is how that is caught before a
    * training run burns compute on a bad vocabulary.
    *
    * Scale shape: the ONLY corpus-scale stage is the (lang, word)
    * count — one word-count-shaped shuffle; merge application is the
    * native codegen [[org.apache.spark.sql.graft.BpeTokenCount]]
    * expression over that vocabulary-sized frame (the q97/q102
    * vocabulary trick: encode each distinct word once, weight by
    * frequency — nested interpreted `aggregate` folds measured ~100
    * µs/word, the native loop replaces them), and the per-language
    * roll-up is a 5-row aggregate. The merge pairs are a bounded
    * artifact read (5 rows). Unlike training, encoding includes
    * single-char words — they encode as themselves (1 token) and
    * belong in fertility. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedBpeMerges(spark, sfDir)
      .orderBy("merge_no").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val base = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(T.alphaTokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    def r6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    base.select(col("lang"), col("n"), (col("n") * length(col("w"))).as("nc"),
        (col("n") * native.bpeTokenCount(col("w"), merges)).as("nt"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"), sum(col("nc")).as("n_chars"),
        sum(col("nt")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        r6(col("n_tokens").cast("double") / col("n_words").cast("double"))
          .as("tokens_per_word"),
        r6(col("n_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** q98_ngram_novelty — temporal novelty scoring: for each document
    * (in doc_id = ingestion order), the fraction of its DISTINCT
    * word-3-shingles whose global first occurrence is this document.
    * The contribution metric a dedup'd-corpus curator tracks: a crawl
    * snapshot whose docs score near zero adds nothing the corpus
    * doesn't already contain (the inverse of q51's contamination
    * view, and the doc-level form of the q63 incremental split).
    *
    * Scale shape: per-doc `n_shingles` is the SIZE of the scan-local
    * distinct-shingle set — no shuffle at all; per-doc `n_new` falls
    * straight out of the global first-occurrence aggregate (ONE
    * partial-aggregable min keyed by shingle, then a doc-keyed count
    * of the winners — the aggregate output is first-occurrence rows,
    * so no join back through the corpus-scale shingle frame ever
    * happens). The final join is doc-count-sized on both sides.
    *
    * Two expression-placement rules, each measured ~10× here (NOTES
    * lesson 30): the token ARRAY is bound to an attribute before
    * shingling (the [[T.shingles]] builder rule), but the shingle
    * expression itself is exploded INLINE — exploding a projected
    * alias of an expensive array expression re-evaluates it per
    * emitted row (13.4 s vs 0.8 s at sf0.1). The doc filter is
    * `size(w) >= 3` (equivalent to `n_shingles > 0`), which pushes
    * into the scan as one cheap predicate — filtering on the computed
    * n_shingles re-inlines the whole shingle expression into the scan
    * filter (7.3 s vs 0.3 s at sf0.1). No windows, no corpus product.
    * The ratio uses the floor(x·1e6 + 0.5) contract, NOT round() —
    * per-doc shingle counts are small so n_new/n_shingles lands on
    * decimal midpoints (1/640-style) where shortest-repr and
    * true-binary rounding split (NOTES lesson 29). */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    def toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
    val perDoc = toks.filter(size(col("w")) >= 3)
      .select(col("doc_id"), size(T.shingleSet(col("w"), 3)).cast("long").as("n_shingles"))
    val firstCounts = toks
      .select(col("doc_id"), explode(T.shingleSet(col("w"), 3)).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    perDoc.join(firstCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (floor(coalesce(col("n_new"), lit(0L)).cast("double")
          / col("n_shingles").cast("double") * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("novelty"))
      .orderBy("doc_id")
  }

  /** q140_ngram_diversity — per-language distinct-1/distinct-2 ratios
    * (Li et al. 2016's diversity metrics): distinct unigrams and
    * bigrams over their totals — the corpus-health number that exposes
    * template floods and mode-collapsed synthetic data (low distinct-2
    * with normal distinct-1 = the same phrases recombined), the
    * corpus-level complement of q54's per-document repetition.
    *
    * Scale shape: two explode passes (unigrams, 2-shingles), each a
    * pair of partial-aggregable counts (total per lang; Spark's
    * standard two-phase distinct for the distinct count); all-integer
    * counts, two divisions, grid-rounded. */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), T.wsTokens(col("text")).as("w"))
    val uni = docs.select(col("lang"), explode_outer(col("w")).as("t"))
      .filter(col("t").isNotNull)
    val uc = uni.groupBy("lang").agg(count(lit(1)).as("n_tokens"),
      countDistinct(col("t")).as("d1"))
    val bi = docs.select(col("lang"), explode_outer(T.shingles(col("w"), 2)).as("b"))
      .filter(col("b").isNotNull)
    val bc = bi.groupBy("lang").agg(count(lit(1)).as("n_bigrams"),
      countDistinct(col("b")).as("d2"))
    uc.join(bc, "lang")
      .select(col("lang"), col("n_tokens"), col("d1"), col("n_bigrams"), col("d2"),
        (floor(col("d1").cast("double") / col("n_tokens").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("distinct1"),
        (floor(col("d2").cast("double") / col("n_bigrams").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("distinct2"))
      .orderBy("lang")
  }

  /** q148 probe points — corpus-prefix fractions for the growth curve
    * (log-spaced: vocabulary growth is front-loaded, so uniform probes
    * would all land on the saturated tail). */
  val GrowthFractions: Seq[Double] = Seq(0.01, 0.05, 0.2, 0.5, 1.0)

  /** q148_vocab_growth — the Heaps'-law vocabulary-growth curve:
    * distinct-token count and type/token ratio at increasing corpus
    * prefixes (by doc_id) — the scaling diagnostic behind "how much
    * new data still adds new vocabulary" (sublinear growth is healthy;
    * a flat curve means the corpus is saturated/templated, a linear
    * one means noise). Prefix cutoffs are doc_id quantiles of the max
    * id, so the probe set is scale-free.
    *
    * Scale shape: each token contributes its FIRST document id (one
    * partial-aggregable min over the exploded scan — the q98 novelty
    * move); the growth curve is then conditional sums of that
    * vocab-sized frame against the 5 broadcast cutoffs, never a
    * re-scan per probe; per-doc token counts aggregate once the same
    * way. All-integer until the final ratio division. */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val cuts = maxId.select(explode(array(GrowthFractions.map { f =>
      struct(lit(f).as("frac"),
        floor(col("max_id").cast("double") * lit(f)).cast("long").as("cut"))
    }: _*)).as("p")).select(col("p.frac").as("frac"), col("p.cut").as("cut"))
    val tokFirst = docs.select(col("doc_id"), explode_outer(col("w")).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
    val vocabAt = tokFirst.crossJoin(broadcast(cuts))
      .filter(col("first_doc") <= col("cut"))
      .groupBy(col("frac"), col("cut"))
      .agg(count(lit(1)).as("vocab"))
    val tokensAt = docs.select(col("doc_id"), size(col("w")).cast("long").as("n"))
      .crossJoin(broadcast(cuts))
      .filter(col("doc_id") <= col("cut"))
      .groupBy(col("frac"), col("cut"))
      .agg(sum(col("n")).as("n_tokens"))
    vocabAt.join(tokensAt, Seq("frac", "cut"))
      .select(col("frac"), col("cut"), col("n_tokens"), col("vocab"),
        (floor(col("vocab").cast("double") / col("n_tokens").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("ttr"))
      .orderBy("frac")
  }

  /** q150 depth — how many top ranks feed the log-log fit. */
  val ZipfTopK = 20

  /** q150_zipf_slope — the Zipf rank-frequency exponent per language:
    * least-squares slope of (ln rank, ln frequency) over the top
    * [[ZipfTopK]] tokens — natural text sits near −1; a much flatter
    * slope flags templated/synthetic floods, a steeper one a
    * degenerate vocabulary. The corpus-level power-law companion to
    * q140's diversity ratios.
    *
    * Determinism: ln values quantize to integer micros FIRST (both
    * engines' `ln` agree to ~1 ulp — far inside the 1e-6 grid, and ln
    * of an integer count never sits ON a grid point), so the
    * regression sums are exact integer arithmetic; one double division
    * at the end. Σ-products stay ≤ ~1e16, inside BIGINT range, and the
    * final numerator/denominator differences are ≤ 2^53, exact in
    * doubles.
    *
    * Scale shape: token frequencies are one partial-aggregable groupBy;
    * ranking is a lang-keyed window over the VOCAB-sized aggregate
    * (never corpus rows — the q61 aggregate-window rule); everything
    * after the top-K filter is a ≤langs×K frame. */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, sfDir)
      .select(col("lang"), explode_outer(T.wsTokens(col("text"))).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("t").asc)
    val top = freq.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ZipfTopK)
      .select(col("lang"),
        floor(log(col("rnk").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("lx"),
        floor(log(col("n").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("ly"),
        col("n"))
    top.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_ranks"), sum(col("n")).as("total_top_freq"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"), sum(col("lx") * col("lx")).as("sxx"))
      .select(col("lang"), col("n_ranks"), col("total_top_freq"),
        (floor((col("n_ranks") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_ranks") * col("sxx") - col("sx") * col("sx")).cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("zipf_slope"))
      .orderBy("lang")
  }

  /** q152_source_drift — per-source language-mix divergence from the
    * corpus: KL(p_source ‖ p_corpus) over the language distribution —
    * the mix-monitoring number that flags a crawler/source whose
    * language composition drifted from the corpus profile (the
    * per-SOURCE companion of q131's corpus-level mix card). KL = 0
    * means the source mirrors the corpus; each extra nat ≈ one
    * language dominating that shouldn't.
    *
    * Determinism: p and q are exact integer-count ratios, so each
    * summand p·ln(p/q) computes from the same integers on both
    * engines (ln agrees to ~1 ulp); summands floor-quantize to 1e-9
    * integers BEFORE the per-source sum (the q127 sum-order rule at a
    * finer grid — summands can be ±1e-3), one division at the end.
    *
    * Scale shape: one (source, lang) partial-aggregable count ( ≤
    * sources×langs rows), the two marginals derive from it, and the
    * KL is an integer sum over that bounded frame — corpus rows are
    * touched exactly once. */
  def sourceDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val sl = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
    val s = sl.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
    val l = sl.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val tot = sl.agg(sum(col("n_sl")).as("n_tot"))
    val terms = sl.join(s, "source").join(broadcast(l), "lang")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        floor((col("n_sl").cast("double") / col("n_s").cast("double"))
          * log((col("n_sl") * col("n_tot")).cast("double")
            / (col("n_s") * col("n_l")).cast("double"))
          * lit(1e9) + lit(0.5)).cast("long").as("t_nano"))
    terms.groupBy(col("source"), col("n_s"))
      .agg(sum(col("t_nano")).as("kl_nano"), count(lit(1)).as("n_langs"))
      .select(col("source"), col("n_s").as("n_docs"), col("n_langs"),
        (col("kl_nano").cast("double") / lit(1e9)).as("kl"))
      .orderBy("source")
  }

  /** q153 probe depths — vocabulary sizes for the coverage curve. */
  val CoverageDepths: Seq[Int] = Seq(1, 5, 10, 20)

  /** q153_vocab_coverage — coverage@N per language: the fraction of
    * token OCCURRENCES covered by the N most frequent types — the
    * tokenizer-budget curve (how small a vocabulary still covers 90%
    * of running text) and the q150 Zipf fit's operational readout.
    *
    * Scale shape: one (lang, token) frequency aggregate; the ranking
    * window is lang-keyed over that VOCAB-sized frame (q61 rule); the
    * curve is conditional sums against the 4 broadcast depths over
    * the ≤langs×maxN ranked head — all-integer until the division. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, sfDir)
      .select(col("lang"), explode_outer(T.wsTokens(col("text"))).as("t"))
      .filter(col("t").isNotNull)
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("t").asc)
    val ranked = freq.withColumn("rnk", row_number().over(w))
    val totals = freq.groupBy(col("lang")).agg(sum(col("n")).as("n_tokens"))
    val depths = CoverageDepths.map(d => struct(lit(d).as("depth"))).toArray
    val head = ranked.filter(col("rnk") <= CoverageDepths.max)
      .select(col("lang"), col("rnk"), col("n"),
        explode(array(depths: _*)).as("p"))
      .filter(col("rnk") <= col("p.depth"))
      .groupBy(col("lang"), col("p.depth").as("depth"))
      .agg(sum(col("n")).as("n_covered"))
    head.join(broadcast(totals), "lang")
      .select(col("lang"), col("depth"), col("n_covered"), col("n_tokens"),
        (floor(col("n_covered").cast("double") / col("n_tokens").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("coverage"))
      .orderBy("lang", "depth")
  }

  /** q162_length_moments — per-language distribution SHAPE of document
    * length: mean, stddev, skewness and excess kurtosis from exact
    * integer power sums — the distribution-profiling pass behind
    * length-filter design (a heavy right skew means a tail of
    * monster docs that length caps (q61) will truncate; negative
    * excess kurtosis flags the suspiciously-uniform lengths of
    * templated corpora). Completes q39's mean/min/max with the third
    * and fourth moments.
    *
    * Determinism: n_chars is an integer column, so (n, Σx, Σx², Σx³,
    * Σx⁴) are EXACT integer sums in any order (Σx⁴ ≤ n·(4·10³)⁴ ≈
    * 10¹⁹ would overflow at extreme corpus×length scales — the
    * DECIMAL(38) escape is documented in PLANS); the central-moment
    * and ratio arithmetic is the identical expression tree over those
    * integers on both engines (powers via sqrt·multiply, never
    * pow(x, 1.5)), rounded on the 1e-6 grid.
    *
    * Scale shape: ONE partial-aggregable scan aggregate onto the langs
    * domain — nothing else. */
  def lengthMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("n_chars").cast("long")
    val agg = Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val m2 = col("s2").cast("double") / nd - mu * mu
    val m3 = col("s3").cast("double") / nd -
      lit(3.0) * mu * (col("s2").cast("double") / nd) + lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nd -
      lit(4.0) * mu * (col("s3").cast("double") / nd) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nd) -
      lit(3.0) * mu * mu * mu * mu
    def grid(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    agg.select(col("lang"), col("n"),
      grid(mu).as("mean_chars"),
      grid(sqrt(m2)).as("std_chars"),
      grid(m3 / (sqrt(m2) * m2)).as("skewness"),
      grid(m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
      .orderBy("lang")
  }

  /** q175_length_n50 — per-language N50/N90 of document length: the
    * length L such that docs of length ≥ L hold ≥ 50% (90%) of the
    * language's character MASS. Count-quantiles (q38/q61) answer "how
    * long is the median doc"; mass-quantiles answer the question
    * packing and token-budget planning actually ask — "where do the
    * characters live" (a handful of monster docs can carry half the
    * corpus; the genome-assembly N50 applied to corpus curation).
    * Reported with doc counts above each cut, so the row reads as
    * "half the mass sits in the N_docs_ge_n50 longest docs".
    *
    * Determinism: thresholds are the integer comparisons 2·cum ≥ tot
    * and 10·cum ≥ 9·tot over exact integer character sums — no
    * division anywhere.
    *
    * Scale shape: one partial-aggregable (lang, n_chars) VALUE-domain
    * aggregate (≤ |langs|·|distinct lengths| rows — domain-sized, not
    * corpus-sized), a lang-partitioned descending window over that
    * frame, and a langs-sized final aggregate. The corpus is scanned
    * once. */
  def lengthN50(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("lang"))
    byVal
      .select(col("lang"), col("n_chars"), col("cnt"),
        sum(col("chars")).over(w).as("cum"),
        sum(col("cnt")).over(w).as("cum_docs"),
        sum(col("chars")).over(wAll).as("tot"),
        sum(col("cnt")).over(wAll).as("n_docs"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("tot")).as("total_chars"),
        max(when(col("cum") * 2 >= col("tot"), col("n_chars"))).as("n50"),
        min(when(col("cum") * 2 >= col("tot"), col("cum_docs"))).as("n_docs_ge_n50"),
        max(when(col("cum") * 10 >= col("tot") * 9, col("n_chars"))).as("n90"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("cum_docs"))).as("n_docs_ge_n90"))
      .orderBy("lang")
  }

  /** q210 Hill-estimator order-statistic depth. */
  val HillK = 100

  /** q210_hill_tail — Hill tail-index estimate over document lengths:
    * α = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) on the top-[[HillK]] order
    * statistics — the standard power-law tail exponent (Hill 1975).
    * α ≈ 1-2 means a heavy Pareto tail (a few monster documents carry
    * the byte mass — shard packing and executor memory must plan for
    * them); α ≫ 3 means the tail is benign. q162's kurtosis smells a
    * heavy tail, q175 locates the mass; this FITS the tail law the
    * capacity planner extrapolates beyond the observed max.
    *
    * Determinism: the top-(k+1) lengths come from the map-side top-k
    * fold (ties at the boundary are on VALUES, so the selected length
    * multiset is unique); each ln ratio of identical integers
    * floor-quantizes to 1e-9 before the integer sum (lesson-49), and
    * α reports as an exact integer-div milli value.
    *
    * Scale shape: one top-(k+1) aggregate over the scan (k+1 slots,
    * map-side combined), a broadcast 1-row reference, a k-row fold. */
  def hillTail(spark: SparkSession, sfDir: String): DataFrame = {
    val top = Tables.documents(spark, sfDir)
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("n_chars").cast("double"), col("doc_id"), HillK + 1).as("t"))
      .select(posexplode(col("t")).as(Seq("pos", "s")))
      .select(col("pos"), col("s.score").cast("long").as("x"))
      .localCheckpoint()
    val ref = top.filter(col("pos") === HillK).select(col("x").as("xref"))
    top.filter(col("pos") < HillK)
      .crossJoin(broadcast(ref))
      .select(col("xref"),
        floor(log(col("x").cast("double") / col("xref").cast("double"))
          * lit(1e9) + lit(0.5)).cast("long").as("lnano"))
      .groupBy(col("xref"))
      .agg(count(lit(1)).as("k"), sum(col("lnano")).as("sum_ln_nano"))
      .select(col("k"), col("xref").as("x_ref"), col("sum_ln_nano"),
        when(col("sum_ln_nano") > 0,
          expr("k * 1000000000000 div sum_ln_nano")).otherwise(lit(0L))
          .as("alpha_milli"))
  }

  /** q228 head size for the next-token table. */
  val NextTopW = 20

  /** q228_next_token — the predictive-text serving table: for the
    * [[NextTopW]] highest-continuation-mass tokens, the argmax NEXT
    * token with its conditional probability — a first-order language
    * model materialized as a lookup table (the keyboard-suggestion /
    * query-completion shape; q35 counts bigrams, q50 scores their
    * association, THIS serves the conditional argmax a completion
    * surface actually reads). P(next|w) is exact integer ppm over the
    * continuation mass.
    *
    * Scale shape: bigram pairs via the positional self-join (q96's
    * codegen pattern — no interpreted higher-order zips); bigram and
    * left-mass counts are partial-aggregable vocabulary-domain
    * aggregates; the head is TakeOrderedAndProject (no window) and
    * broadcasts onto the bigram frame; the per-head argmax is a
    * struct-min (count desc, token asc — total order, no window). */
  def nextToken(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(T.wsTokens(col("text"))).as(Seq("pos", "tok")))
    val big = toks.select(col("doc_id"), col("pos"), col("tok").as("w1"))
      .join(toks.select(col("doc_id"), (col("pos") - 1).as("pos"), col("tok").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val top = big.groupBy(col("w1")).agg(sum(col("c")).as("n_left"))
      .orderBy(col("n_left").desc, col("w1").asc).limit(NextTopW)
    big.join(broadcast(top), "w1")
      .groupBy(col("w1"), col("n_left"))
      .agg(min(struct((-col("c")).as("nc"), col("w2"))).as("best"))
      .select(col("w1"), col("n_left"), col("best.w2").as("next_tok"),
        (-col("best.nc")).as("n_next"),
        expr("(-best.nc) * 1000000 div n_left").as("p_ppm"))
      .orderBy("w1")
  }

  /** q197 churn list depth. */
  val ChurnTopK = 20

  /** q197_vocab_churn — head-vocabulary churn between corpus halves
    * (doc_id order as crawl order, the q63 convention at 1/2): the
    * top-[[ChurnTopK]] tokens of each half with both ranks, counts and
    * an entered/dropped/stable status — the "did the crawl change
    * under us" screen run between snapshots. q148 measures vocabulary
    * GROWTH in volume; this catches COMPOSITION shifts at the head,
    * which move tokenizer fit and topic mix long before totals drift.
    *
    * Scale shape: the half tag is a broadcast 1-row split constant
    * applied at the scan; token counts are one partial-aggregable
    * (half, token) aggregate; ranking windows run over the VOCABULARY
    * aggregate partitioned by half (domain-bounded, q70's rule); the
    * report is a full-outer join of two ≤ K-row heads. */
  def vocabChurn(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val split = docs.agg(expr("count(1) div 2").as("s"))
    val counts = docs
      .select(col("doc_id"), explode(T.wsTokens(col("text"))).as("tok"))
      .crossJoin(broadcast(split))
      .select(when(col("doc_id") < col("s"), "a").otherwise("b").as("half"), col("tok"))
      .groupBy(col("half"), col("tok")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("half")).orderBy(col("n").desc, col("tok").asc)
    val ranked = counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ChurnTopK)
      .localCheckpoint()
    val a = ranked.filter(col("half") === "a")
      .select(col("tok"), col("rnk").as("rank_a"), col("n").as("n_a"))
    val b = ranked.filter(col("half") === "b")
      .select(col("tok"), col("rnk").as("rank_b"), col("n").as("n_b"))
    a.join(b, Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("rank_a"), lit(-1)).as("rank_a"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("rank_b"), lit(-1)).as("rank_b"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(col("rank_a").isNotNull && col("rank_b").isNotNull, "stable")
          .when(col("rank_a").isNotNull, "dropped").otherwise("entered").as("status"))
      .orderBy("tok")
  }

  /** Stupid-backoff discount (Brants et al. 2007 use 0.4). */
  val BackoffAlpha = 0.4

  /** q234_backoff_lm — bigram language-model scoring with stupid
    * backoff (Brants et al. 2007, the web-scale LM recipe): train
    * bigram/unigram tables on the FIRST corpus half (doc_id order as
    * crawl order — the q63/q197 split convention), score the HELD-OUT
    * half per token position:
    *
    *   S(w₂|w₁) = count(w₁w₂)/count(w₁)        if the bigram was seen
    *            = α · (count(w₂)+1)/(N+1)       otherwise (add-one-
    *                                            floored unigram backoff
    *                                            — never zero, so every
    *                                            position scores)
    *
    * Per held-out doc: scored positions, backoff positions and the
    * cross-entropy mean −ln S. This is the context-aware upgrade of
    * q79's unigram score (a doc of common words in impossible ORDER
    * scores badly here, identically there) and the evaluation half of
    * q228's serving table — and, unlike q79's train-on-self, a real
    * held-out measurement (which is exactly why backoff fires: unseen
    * bigrams exist by construction).
    *
    * Determinism: counts are exact integers, each S is one identical
    * division tree both engines, the per-doc mean is the weighted
    * Σ k·(−ln S)/Σ k over the per-(doc, bigram) multiplicity frame in
    * both engines, rounded 6dp (q79's ln/avg convention).
    *
    * Scale shape: training is two partial-aggregable token/bigram
    * aggregates; scoring pre-aggregates held-out positions to
    * (doc, w1, w2, k) rows (positions with equal context share one
    * lookup), then joins the count tables keyed by (w1, w2) / w1 / w2
    * — co-partitioned keyed joins, no windows; per-doc roll-up is
    * partial-aggregable. */
  def backoffLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val split = docs.agg(expr("count(1) div 2").as("s"))
    val toks = docs
      .select(col("doc_id"), posexplode(T.alphaTokens(col("text"))).as(Seq("pos", "tok")))
      .crossJoin(broadcast(split))
    val train = toks.filter(col("doc_id") < col("s"))
      .select(col("doc_id"), col("pos"), col("tok"))
    val uc = train.groupBy(col("tok")).agg(count(lit(1)).as("c")).localCheckpoint()
    val nn = uc.agg(sum(col("c")).as("n"))
    val bc = train.select(col("doc_id"), col("pos"), col("tok").as("w1"))
      .join(train.select(col("doc_id"), (col("pos") - 1).as("pos"), col("tok").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bcc"))
    val held = toks.filter(col("doc_id") >= col("s"))
      .select(col("doc_id"), col("pos"), col("tok"))
    val hb = held.select(col("doc_id"), col("pos"), col("tok").as("w1"))
      .join(held.select(col("doc_id"), (col("pos") - 1).as("pos"), col("tok").as("w2")),
        Seq("doc_id", "pos"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("k"))
    val scored = hb
      .join(bc, Seq("w1", "w2"), "left")
      .join(uc.select(col("tok").as("w1"), col("c").as("u1")), Seq("w1"), "left")
      .join(uc.select(col("tok").as("w2"), col("c").as("u2")), Seq("w2"), "left")
      .crossJoin(broadcast(nn))
      .select(col("doc_id"), col("k"),
        when(col("bcc").isNotNull, col("bcc").cast("double") / col("u1"))
          .otherwise(lit(BackoffAlpha) * (coalesce(col("u2"), lit(0L)) + lit(1L))
            .cast("double") / (col("n") + lit(1L))).as("sprob"),
        when(col("bcc").isNull, col("k")).otherwise(lit(0L)).as("nb"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_scored"), sum(col("nb")).as("n_backoff"),
        (sum(col("k") * -log(col("sprob"))) / sum(col("k"))).as("x"))
    docs.crossJoin(broadcast(split)).filter(col("doc_id") >= col("s"))
      .select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        round(coalesce(col("x"), lit(0.0)), 6).as("xent"))
      .orderBy("doc_id")
  }

  /** q250 table depth and the word2vec smoothing exponent. */
  val NegSampleV = 50
  val NegSampleAlpha = 0.75

  /** q250_neg_sampling — unigram^0.75 negative-sampling table (Mikolov
    * et al. 2013): the top-[[NegSampleV]] vocabulary with
    * count^[[NegSampleAlpha]] weights normalized to exact ppm shares
    * plus the cumulative range [cum_lo, cum_hi) each token owns — the
    * flattened-unigram draw table a skip-gram/contrastive trainer
    * consumes directly (draw = binary-search a ppm in the cumulative
    * column; the ^0.75 lifts rare-word probability ~3× at the tail,
    * which is WHY trainers use it over raw counts).
    *
    * Determinism: pow floor-quantizes to integer micros before any
    * sum (lesson-49: pow agrees cross-engine to ~1 ulp and the
    * floored integer is stable); shares and cumulative bounds are
    * integer ppm arithmetic over those quantized weights.
    *
    * Scale shape: one partial-aggregable token count; ranking and the
    * cumulative window run over the top-V head (domain-bounded, q70's
    * rule); output is V rows. */
  def negSampling(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(explode(T.alphaTokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val head = counts
      .orderBy(col("cnt").desc, col("tok").asc).limit(NegSampleV)
      .select(col("tok"), col("cnt"),
        floor(pow(col("cnt").cast("double"), lit(NegSampleAlpha)) * lit(1e6))
          .cast("long").as("w_micro"))
      .localCheckpoint()
    val tot = head.agg(sum(col("w_micro")).as("wt"))
    val w = Window.orderBy(col("cnt").desc, col("tok").asc)
    head.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("share_ppm", expr("w_micro * 1000000 div wt"))
      .withColumn("cum_hi",
        sum(col("share_ppm")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rank"), col("tok"), col("cnt"), col("w_micro"),
        col("share_ppm"), (col("cum_hi") - col("share_ppm")).as("cum_lo"),
        col("cum_hi"))
      .orderBy("rank")
  }

  /** q286 knobs: shingle width, minimum doc support, list size. */
  val BoilerShingleK = 5
  val BoilerMinSupport = 2L
  val BoilerTopK = 3

  /** q286_boilerplate — per-source template-phrase mining: the
    * word-5-grams repeated across the most DOCUMENTS of each source
    * (distinct per doc, support ≥ [[BoilerMinSupport]]) — the
    * operator that FINDS the navigation chrome / cookie banners /
    * legal footers which q54 (intra-doc repetition) and q59 (global
    * passage dedup) then strip: template removal starts from a
    * per-SOURCE template list, because boilerplate is a property of
    * the crawler × site pair, not of single documents (and not of
    * the corpus globally — a phrase common everywhere is language,
    * common in ONE source is chrome).
    *
    * Determinism: shingle keys are md5-60 hashes (also the
    * deterministic tie-break for equal support); the per-source top
    * list uses the bounded `top_k_by_score` aggregate keyed by the
    * hash, the phrase string re-attached by hash join.
    *
    * Scale shape: the distinct-shingle explode rides the scan; ONE
    * (source, hash) partial-aggregable count (the phrase carried via
    * min — equal-hash rows carry the same string); the per-source
    * top-k is a map-side bounded aggregate (a flooded source never
    * sorts its phrase domain — q69's argument); output ≤ sources·k
    * rows. */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    // spread (guide §2.5): the shingle explode + per-gram md5 above the
    // single-file scan dominates this query; interleaved A/B 2.3 -> 1.2 s
    val grams = Tables.documentsSpread(spark, sfDir)
      .select(col("source"), col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("source"), col("doc_id"),
        explode_outer(T.shingleSet(col("w"), BoilerShingleK)).as("shingle"))
      .filter(col("shingle").isNotNull)
    val counts = grams
      .select(col("source"), col("shingle"),
        H.md5Int60(col("shingle")).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n"), min(col("shingle")).as("shingle"))
      .filter(col("n") >= BoilerMinSupport)
      .localCheckpoint()
    val top = counts
      .groupBy(col("source"))
      // (score desc, id asc) buffer order = (support desc, hash asc)
      .agg(org.apache.spark.sql.graft.native.topKByScore(
        col("n").cast("double"), col("h"), BoilerTopK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("source"), (col("r0") + 1).cast("long").as("rank"),
        col("t")("id").as("h"))
    top.join(counts.select(col("source"), col("h"), col("n"), col("shingle")),
        Seq("source", "h"))
      .select(col("source"), col("rank"), col("n").as("n_docs"),
        col("shingle"))
      .orderBy("source", "rank")
  }

  /** q272_char_entropy — character-level Shannon entropy per document,
    * rolled up per language: Σ (c/n)·ln(n/c) over the doc's char
    * histogram in exact integer nano-nats — the alphabet-agnostic
    * randomness screen (near-zero = run-on repetition the
    * `compression_ratio` expression also catches, but this one is
    * oracle-gradable; near-ln|alphabet| = noise/base64 blobs) that
    * complements q247's behavioral entropy and q19/q54's token-level
    * features with a sub-token signal.
    *
    * Determinism: char counts exact (split on '' — identical char
    * semantics both engines on this corpus); each summand
    * floor-quantized to nano before the integer sum (q152's rule);
    * n = n_chars (asserted equal to len(text) in the suite's data).
    *
    * Scale shape: one (lang, doc, char) partial-aggregable count →
    * per-doc roll-up (same key prefix — AQE exchange reuse, q247's
    * note) → lang-domain aggregate; |langs| output rows. */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("lang"), col("doc_id"), col("n_chars"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val perDoc = counts
      .select(col("lang"), col("doc_id"),
        floor(col("c").cast("double") / col("n_chars").cast("double")
          * log(col("n_chars").cast("double") / col("c").cast("double"))
          * lit(1e9)).cast("long").as("t"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(sum(col("t")).as("entropy_nano"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(entropy_nano) div count(*)").as("mean_entropy_nano"),
        min(col("entropy_nano")).as("min_entropy_nano"),
        max(col("entropy_nano")).as("max_entropy_nano"))
      .orderBy("lang")
  }

  /** q273 marker vocabulary: the union of all stopword profiles —
    * high-frequency function words, the classic stylometric features
    * (content words track topic; function words track the author). */
  val DeltaMarkerWords: Seq[String] =
    StopwordProfiles.flatMap(_._2).distinct.sorted

  /** q273_burrows_delta — Burrows' Delta stylometry between sources:
    * per source the per-mille-of-ppm frequency of each marker word,
    * z-scored ACROSS sources per word, then Delta(s₁, s₂) = mean
    * |z₁ − z₂| over the marker vocabulary — the authorship /
    * style-distance measure (Burrows 2002) that clusters crawl
    * sources by REGISTER where q152/q213's content-distribution
    * drift can't separate topic from voice.
    *
    * Determinism: frequencies are exact integer ppm; per-word means
    * enter as exact integer deviations (dev = f·S − Σf); the only
    * float is the 6dp-rounded population stddev (q39's convention),
    * and z floors to nano before the pair averaging.
    *
    * Scale shape: one token-count aggregate filtered to the ≤40-word
    * marker set SCAN-SIDE (q75's IN-filter trick), a words×sources
    * grid (domain-bounded) for moments, one word-keyed pair join over
    * sources² rows; output C(S,2) rows. */
  def burrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val markers = DeltaMarkerWords
    val toksBySource = Tables.documents(spark, sfDir)
      .select(col("source"), explode(T.wsTokens(col("text"))).as("tok"))
    val totals = toksBySource.groupBy(col("source"))
      .agg(count(lit(1)).as("n_toks"))
    val freqs = toksBySource.filter(col("tok").isin(markers: _*))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    // dense (source × word) grid — an absent marker is frequency 0
    val grid = totals.crossJoin(
        broadcast(spark.createDataFrame(markers.map(Tuple1(_)))
          .toDF("tok")))
      .join(freqs, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        expr("coalesce(c, 0) * 1000000 div n_toks").as("f_ppm"))
      .localCheckpoint()
    val moments = grid.groupBy(col("tok"))
      .agg(count(lit(1)).as("s"), sum(col("f_ppm")).as("sf"),
        round(stddev_pop(col("f_ppm").cast("double")), 6).as("sd"))
    val z = grid.join(broadcast(moments), "tok")
      .filter(col("sd") > 0.0)
      .select(col("source"), col("tok"),
        floor((col("f_ppm") * col("s") - col("sf")).cast("double")
          / (col("s").cast("double") * col("sd")) * lit(1e9))
          .cast("long").as("z_nano"))
    val pairs = z.as("za")
      .join(z.as("zb"), col("za.tok") === col("zb.tok")
        && col("za.source") < col("zb.source"))
      .select(col("za.source").as("source_a"), col("zb.source").as("source_b"),
        abs(col("za.z_nano") - col("zb.z_nano")).as("d"))
    pairs.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_words"),
        expr("sum(d) div count(*)").as("delta_nano"))
      .orderBy("source_a", "source_b")
  }

  /** q261_readability — Flesch reading-ease per language: per doc the
    * word count, sentence count ([.!?]+ runs, floor 1) and syllable
    * estimate (vowel-group runs — the standard heuristic; exact
    * syllabification needs a dictionary and matters only in the
    * constant), folded through Flesch's 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W), then aggregated per language — the audience-level
    * readout (grade-school vs academic register) that q19's surface
    * quality features deliberately don't model, and the knob a
    * curriculum-ordering pipeline (easy→hard training schedules)
    * sorts on.
    *
    * Determinism: W/S/Y are exact integer counts from anchored
    * regexes valid in both engines; the score is computed in ONE
    * identical expression order both sides and floor-quantized to
    * micros (ties impossible off the midpoint grid); per-lang mean =
    * integer div of summed micros.
    *
    * Scale shape: three scan-local regexp counts + one lang-domain
    * partial-aggregable aggregate; output |langs| rows. */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(regexp_extract_all(col("text"), lit("[^ \\t\\n\\r]+"), lit(0)))
          .cast("long").as("w"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("s"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("y"))
      .filter(col("w") > 0)
      .select(col("lang"),
        // clamped at 0 (standard practice for degenerate run-on text)
        // so per-lang sums stay non-negative and integer `div` means
        // the same thing in Spark and DuckDB (lesson 49: trunc vs
        // floor division diverge on negatives)
        greatest(lit(0L), floor((lit(206.835)
          - lit(1.015) * (col("w").cast("double") / col("s").cast("double"))
          - lit(84.6) * (col("y").cast("double") / col("w").cast("double")))
          * lit(1e6)).cast("long")).as("flesch_micros"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("flesch_micros")).as("sum_micros"),
        sum(when(col("flesch_micros") >= 60000000L, 1L).otherwise(0L))
          .as("n_easy"))
      .select(col("lang"), col("n_docs"),
        expr("sum_micros div n_docs").as("mean_flesch_micros"), col("n_easy"))
      .orderBy("lang")
  }

  /** q295_llr_bigrams — Dunning log-likelihood-ratio collocations:
    * top-20 bigrams by the G² statistic over the 2×2 contingency of
    * (first word = a) × (second word = b) — the collocation measure
    * that FIXES q50's PMI bias toward rare pairs (PMI ranks a
    * 2-occurrence pair of 2-occurrence words at the top; LLR weights
    * evidence by count, so the top of this list is the corpus's
    * actual phrase inventory, which is what a tokenizer-merge or
    * boilerplate-phrase pass wants).
    *
    * Determinism: all four cell counts are exact integers from one
    * bigram histogram and its two marginals; each k·ln(kN/(RC)) term
    * is floor-micro-quantized before the integer sum (q280's
    * convention — cross-engine ln agrees to ~1 ulp and the 1e-6
    * floor absorbs it); ordering on the integer statistic with the
    * bigram string as total tie-break.
    *
    * Scale shape: the bigram histogram rides the token scan (one
    * keyed aggregate); marginals roll up FROM the histogram (never a
    * second corpus pass) and broadcast-join back; top-20 is a
    * TakeOrdered. */
  def llrBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .select(explode_outer(T.shingles(col("w"), 2)).as("bigram"))
      .filter(col("bigram").isNotNull)
      .groupBy(col("bigram")).agg(count(lit(1)).as("k11"))
      .withColumn("a", split(col("bigram"), "_").getItem(0))
      .withColumn("b", split(col("bigram"), "_").getItem(1))
      .localCheckpoint()
    val la = big.groupBy(col("a")).agg(sum(col("k11")).as("ra"))
    val rb = big.groupBy(col("b")).agg(sum(col("k11")).as("cb"))
    val nn = big.agg(sum(col("k11")).as("nn"))
    def term(k: Column, row: Column, cc: Column): Column =
      when(k > 0, floor(k.cast("double")
        * log((k.cast("double") * col("nn").cast("double"))
          / (row.cast("double") * cc.cast("double"))) * lit(1e6))
        .cast("long")).otherwise(lit(0L))
    big.join(broadcast(la), "a").join(broadcast(rb), "b")
      .crossJoin(broadcast(nn))
      .select(col("bigram"), col("k11"), col("ra"), col("cb"), col("nn"),
        (col("ra") - col("k11")).as("k12"),
        (col("cb") - col("k11")).as("k21"),
        (col("nn") - col("ra") - col("cb") + col("k11")).as("k22"))
      .select(col("bigram"), col("k11"),
        (lit(2L) * (term(col("k11"), col("ra"), col("cb"))
          + term(col("k12"), col("ra"), col("nn") - col("cb"))
          + term(col("k21"), col("nn") - col("ra"), col("cb"))
          + term(col("k22"), col("nn") - col("ra"), col("nn") - col("cb"))))
          .as("llr_micros"))
      .orderBy(col("llr_micros").desc, col("bigram").asc)
      .limit(20)
  }

  /** q296_jsd_sources — pairwise Jensen-Shannon divergence between the
    * unigram distributions of every source pair: the symmetric,
    * bounded (≤ ln 2) companion of q152's KL — the "which two crawls
    * actually differ in CONTENT" matrix (q184 measures literal shared
    * documents; this measures distributional distance even when no
    * document is shared), and the standard pre-merge check before
    * pooling two corpora into one training mix.
    *
    * The identity that keeps it one intersection join: the
    * disjoint-support mass contributes exactly ln 2 · (1 − Σ_common p)
    * per side, so only terms present in BOTH sources need the
    * pairwise log terms — no outer join, no densified vocab grid.
    *
    * Determinism: p, q are exact integer-count ratios; each common
    * summand floor-nano-quantizes before the integer sum (q280's ln
    * convention); the disjoint-mass terms are two more floors of
    * exact-ratio doubles; the final halving is integer division.
    *
    * Scale shape: one (source, term) count riding the token scan
    * (checkpointed — both join sides read it), totals roll up from it
    * and broadcast back, the pair frame is a term-keyed equi-join
    * bounded by sources² per term; |sources|²/2 output rows. */
  def jsdSources(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = Tables.documents(spark, sfDir)
      .select(col("source"), explode_outer(T.wsTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val st = tc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = tc.select(col("source").as("sa"), col("term"), col("c").as("ca"))
      .join(broadcast(st.select(col("source").as("sa"), col("n").as("na"))), "sa")
    val b = tc.select(col("source").as("sb"), col("term"), col("c").as("cb"))
      .join(broadcast(st.select(col("source").as("sb"), col("n").as("nb"))), "sb")
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    a.join(b, "term").filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("ca"), col("cb"),
        floor(pa * log(lit(2.0) * pa / (pa + pb)) * lit(1e9))
          .cast("long").as("ta"),
        floor(pb * log(lit(2.0) * pb / (pa + pb)) * lit(1e9))
          .cast("long").as("tb"))
      .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_common"), sum(col("ca")).as("ia"),
        sum(col("cb")).as("ib"), sum(col("ta")).as("sa_nano"),
        sum(col("tb")).as("sb_nano"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_common"),
        ((col("sa_nano") + col("sb_nano")
          + floor(log(lit(2.0)) * (col("na") - col("ia")).cast("double")
            / col("na").cast("double") * lit(1e9)).cast("long")
          + floor(log(lit(2.0)) * (col("nb") - col("ib")).cast("double")
            / col("nb").cast("double") * lit(1e9)).cast("long")))
          .as("jsd2_nano"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        expr("jsd2_nano div 2").as("jsd_nano"))
      .orderBy("source_a", "source_b")
  }

  /** q302_naive_bayes — a multinomial Naive Bayes language classifier
    * TRAINED from the corpus (Laplace-smoothed token likelihoods +
    * class priors on the md5-even half) and EVALUATED on the held-out
    * half, emitting the confusion matrix. This is the fastText-style
    * trained-classifier curation stage (CCNet/GPT-3-style quality and
    * language filters are exactly this shape) that q18/q65's fixed
    * lexicons approximate — the engine content is train/score/eval as
    * ONE plan over the corpus, no model file round-trip.
    *
    * Per test doc d and class l the score is
    *   ln P(l) + Σ_t c_dt·ln(c_tl + 1) − m_d·ln(n_l + V)
    * (Laplace-smoothed multinomial likelihood split so that only
    * terms with c_tl > 0 need the join — the unseen-term mass folds
    * into the m_d·ln(n_l + V) closed form, like q296's disjoint-mass
    * identity).
    *
    * Determinism: every ln floor-micro-quantizes from exact integer
    * counts before any sum; scores are integer sums; the argmax
    * tie-breaks lang-ascending via min(struct(−score, lang)).
    *
    * Scale shape: the (term, class) count table rides the train-half
    * token scan (checkpointed — likelihood join, class totals, and
    * vocab size all read it); class priors/denominators collapse to a
    * ≤|langs|-row broadcast; scoring is ONE term-keyed equi-join
    * (each term matches ≤|langs| rows) + a (doc, class) aggregate;
    * the confusion rollup is ≤|langs|² rows. No per-class scan, no
    * all-pairs stage — at 100 TB this is two token scans and one
    * bounded keyed join. */
  def naiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("is_train",
        pmod(H.md5Int28(concat(lit("nb_"), col("doc_id").cast("string"))),
          lit(2)) === 0)
    val toks = docs
      .select(col("doc_id"), col("lang"), col("is_train"),
        explode_outer(T.wsTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
    val trainTc = toks.filter(col("is_train"))
      .groupBy(col("term"), col("lang")).agg(count(lit(1)).as("ctl"))
      .localCheckpoint()
    val classTotals = trainTc.groupBy(col("lang")).agg(sum(col("ctl")).as("nl"))
    val vocab = trainTc.agg(countDistinct(col("term")).as("v"))
    val priors = docs.filter(col("is_train"))
      .groupBy(col("lang")).agg(count(lit(1)).as("dl"))
    val total = docs.filter(col("is_train")).agg(count(lit(1)).as("dt"))
    val classFrame = classTotals.join(priors, "lang")
      .crossJoin(vocab).crossJoin(total)
      .select(col("lang").as("clang"),
        floor(log(col("dl").cast("double") / col("dt").cast("double"))
          * lit(1000000.0)).cast("long").as("prior_micros"),
        floor(log((col("nl") + col("v")).cast("double")) * lit(1000000.0))
          .cast("long").as("lnden_micros"))
    val testTc = toks.filter(!col("is_train"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("cdt"))
      .localCheckpoint()
    val docm = testTc.groupBy(col("doc_id"), col("lang").as("true_lang"))
      .agg(sum(col("cdt")).as("m"))
    val matched = testTc
      .join(trainTc.select(col("term"), col("lang").as("clang"),
        floor(log((col("ctl") + lit(1L)).cast("double")) * lit(1000000.0))
          .cast("long").as("lnnum_micros")), "term")
      .groupBy(col("doc_id"), col("clang"))
      .agg(sum(col("cdt") * col("lnnum_micros")).as("ms"))
    docm.crossJoin(broadcast(classFrame))
      .join(matched, Seq("doc_id", "clang"), "left")
      .select(col("doc_id"), col("true_lang"), col("clang"),
        (col("prior_micros") - col("m") * col("lnden_micros")
          + coalesce(col("ms"), lit(0L))).as("score_micros"))
      .groupBy(col("doc_id"), col("true_lang"))
      .agg(min(struct((-col("score_micros")).as("ns"), col("clang").as("l")))
        .as("best"))
      .select(col("true_lang"), col("best").getField("l").as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "pred_lang")
  }

  /** q316_yules_k — per-source lexical-richness constants: Yule's K
    * (10⁴·(Σc² − N)/N², the repeat-rate characteristic that is
    * length-INVARIANT where raw type/token ratios are not) and
    * Herdan's C (ln V / ln N), plus the hapax count. K spikes on
    * template/boilerplate sources (few types dominate the token
    * mass) and is the classic single-number "is this crawl
    * vocabulary-degenerate?" screen next to q148's growth curve.
    *
    * Determinism: N, V, hapax, and Σc² are exact BIGINTs off one
    * (source, term) count; K floor-milli-quantizes one integer-ratio
    * double; C floor-micro-quantizes ln V / ln N.
    *
    * Scale shape: one (source, term) count riding the token scan,
    * one source rollup; |sources| rows. */
  def yulesK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"), explode_outer(T.wsTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("n_hapax"),
        sum(col("c") * col("c")).as("s2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        floor((col("s2") - col("n_tokens")).cast("double") * lit(10000000.0)
          / (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .cast("long").as("yule_k_milli"),
        floor(log(col("n_types").cast("double"))
          / log(col("n_tokens").cast("double")) * lit(1000000.0))
          .cast("long").as("herdan_c_micro"))
      .orderBy("source")

  /** q317 burstiness knobs: minimum document frequency (rarer terms
    * have undefined dispersion at corpus scale) and report length. */
  val BurstMinDf = 20L
  val BurstTopK = 20

  /** q317_term_burstiness — per-term index of dispersion (variance-to-
    * mean ratio of the per-document count, zeros included — Church &
    * Gale 1995's burstiness): Poisson-distributed function words sit
    * at VMR ≈ 1, topical/keyword terms clump into few documents and
    * score ≫ 1. This is the distributional keyword detector that
    * complements q34 (rarity) and q305 (centrality) — and the screen
    * for boilerplate terms whose VMR explodes because one template
    * repeats them hundreds of times in a handful of docs.
    *
    * Determinism: T = Σc and S2 = Σc² are exact BIGINTs per term
    * (zero docs contribute exactly nothing to either, which the VMR
    * identity var/mean = S2/T − T/N absorbs in closed form — no
    * densified doc×term grid); one floored double per term; the
    * report is an integer TakeOrdered.
    *
    * Scale shape: one (doc, term) count riding the token scan, one
    * term rollup joined with a broadcast 1-row doc count;
    * [[BurstTopK]] rows. */
  def termBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode_outer(T.wsTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("df") >= BurstMinDf)
      .crossJoin(broadcast(nd))
      .select(col("term"), col("df"), col("total"),
        floor((col("s2").cast("double") / col("total").cast("double")
          - col("total").cast("double") / col("n_docs").cast("double"))
          * lit(1000000.0)).cast("long").as("vmr_micro"))
      .orderBy(col("vmr_micro").desc, col("term").asc)
      .limit(BurstTopK)
  }

  /** q319 hashing-trick width (the classic 2⁸ toy width so collisions
    * are actually observable at corpus vocab sizes). */
  val FhBuckets = 256L

  /** q319_feature_hashing — the hashing-trick audit: every distinct
    * term hashes into [[FhBuckets]] buckets (md5, the engine's
    * cross-engine hash convention) and the report grades the
    * vectorizer BEFORE a model trains on it: occupied buckets,
    * worst-case load, collision rate, the χ² uniformity statistic of
    * the load histogram, and how much token MASS the heaviest bucket
    * absorbs (type-collisions are harmless if the colliding types
    * are rare — mass concentration is what actually distorts a
    * hashed feature space).
    *
    * Determinism: bucket = md5-28(term) mod B on distinct terms;
    * every report field is integer arithmetic over exact counts
    * except χ², one floored double over two BIGINTs.
    *
    * Scale shape: one (term) count riding the token scan, one
    * bucket rollup (≤[[FhBuckets]] rows), one 1-row fold. */
  def featureHashing(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = Tables.documents(spark, sfDir)
      .select(explode_outer(T.wsTokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("mass"))
    val buckets = tc
      .select(pmod(H.md5Int28(concat(lit("fh_"), col("term"))), lit(FhBuckets))
        .as("bucket"), col("mass"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("load"), sum(col("mass")).as("bmass"))
    buckets.agg(sum(col("load")).as("n_terms"),
        count(lit(1)).as("occupied"),
        max(col("load")).as("max_load"),
        sum(col("load") * col("load")).as("s2"),
        sum(col("bmass")).as("n_tokens"),
        max(col("bmass")).as("max_bucket_mass"))
      .select(col("n_terms"), lit(FhBuckets).as("n_buckets"), col("occupied"),
        col("max_load"),
        expr("(n_terms - occupied) * 1000000 div n_terms").as("collision_ppm"),
        floor((lit(FhBuckets.toDouble) * col("s2").cast("double")
          / col("n_terms").cast("double") - col("n_terms").cast("double"))
          * lit(1000000.0)).cast("long").as("chi2_micro"),
        expr("max_bucket_mass * 1000000 div n_tokens").as("max_mass_ppm"))
  }

  /** q320 report depth: frequencies-of-frequencies r = 1..10 (SGT's
    * unsmoothed Turing estimates are only trusted at small r, where
    * N_r is large). */
  val GtMaxR = 10

  /** q320_good_turing — the Good-Turing frequency-of-frequencies
    * table over word-TRIGRAM types (the unigram vocabulary here is
    * tiny and saturated — min count 26, no rare mass — while the
    * trigram spectrum has the heavy singleton tail GT exists for):
    * for r = 1..[[GtMaxR]], how many types occur exactly r times
    * (N_r) and the Turing-smoothed adjusted count
    * r* = (r+1)·N_{r+1}/N_r — plus the N₁/N missing-mass estimate
    * (the probability the NEXT trigram is unseen). This is the
    * quantitative basis under every smoothing scheme the engine
    * ships (q234's backoff, q250's table) and the standard "how much
    * of this corpus is singleton noise?" readout.
    *
    * Determinism: the count-of-counts histogram is exact; r* and the
    * missing mass are single floored doubles over BIGINTs; the
    * N_{r+1} lookup is a 1-step lag join on the tiny r domain, not a
    * window.
    *
    * Scale shape: one (trigram) count riding the token scan, one
    * count-histogram rollup (≤|distinct counts| rows), one self-join
    * on r+1 over the ≤[[GtMaxR]]-row report domain. */
  def goodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .select(explode_outer(T.shingles(col("w"), 3)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col("c").as("r")).agg(count(lit(1)).as("nr"))
      .localCheckpoint()
    val tot = tc.agg(sum(col("r") * col("nr")).as("n_tokens"))
    tc.filter(col("r") <= GtMaxR)
      .join(tc.select((col("r") - 1).as("r"), col("nr").as("nr_next")), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("nr"), coalesce(col("nr_next"), lit(0L)).as("nr_next"),
        floor((col("r") + 1).cast("double")
          * coalesce(col("nr_next"), lit(0L)).cast("double")
          / col("nr").cast("double") * lit(1000000.0)).cast("long")
          .as("r_star_micro"),
        when(col("r") === 1,
          expr("nr * 1000000 div n_tokens")).otherwise(lit(null).cast("long"))
          .as("missing_mass_ppm"))
      .orderBy("r")
  }

  /** q325 target class for the PR sweep. */
  val PrClass = "en"

  /** q325_pr_curve — the precision/recall/F1 operating curve of the
    * q18 language classifier for the [[PrClass]] class, one row per
    * confidence threshold ("predict en iff the argmax is en AND its
    * profile-hit score ≥ t"). q263 grades calibration of the
    * SCORES; this grades the DECISIONS available at each cutoff —
    * the curve an operator reads to pick the threshold where a
    * lang-filter keeps 95% precision, and the eval-tier completion
    * for thresholded classifiers (ROC exists for the dedup detector,
    * q279).
    *
    * Determinism: thresholds are the distinct integer scores of
    * en-predicted docs; tp/fp come from one reverse cumsum over that
    * score domain; P, R, F1 are exact integer ppm (F1 =
    * 2·tp·10⁶ div (2tp + fp + fn) — no float ever).
    *
    * Scale shape: the q18 scorer is scan-local; one (score,
    * correctness) histogram, one reverse-cumsum window over the
    * bounded score domain (whitelisted), broadcast 1-row class
    * total; ≤|distinct scores| output rows. */
  def prCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = langId(spark, sfDir)
      .select(col("labeled_lang"), col("predicted_lang"), col("score"))
    val pos = scored.agg(
      sum((col("labeled_lang") === PrClass).cast("long")).as("n_true"))
    val hist = scored.filter(col("predicted_lang") === PrClass)
      .groupBy(col("score").as("t"))
      .agg(sum((col("labeled_lang") === PrClass).cast("long")).as("tp1"),
        sum((col("labeled_lang") =!= PrClass).cast("long")).as("fp1"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    hist
      .withColumn("tp", sum(col("tp1")).over(w))
      .withColumn("fp", sum(col("fp1")).over(w))
      .crossJoin(broadcast(pos))
      .select(col("t").as("threshold"), col("tp"), col("fp"),
        (col("n_true") - col("tp")).as("fn"),
        expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
        expr("tp * 1000000 div n_true").as("recall_ppm"),
        expr("2 * tp * 1000000 div (2 * tp + fp + (n_true - tp))").as("f1_ppm"))
      .orderBy("threshold")
  }

  /** q332 sketch geometry and query depth. */
  val CmDepth = 4
  val CmWidth = 256L
  val CmTopK = 20

  /** q332_count_min — Count-Min sketch audit (Cormode & Muthukrishnan
    * 2005): build a [[CmDepth]]×[[CmWidth]] counter grid over the
    * word-TRIGRAM stream (the unigram vocab is 31 types — nothing
    * would ever collide; the ~10⁴-type trigram stream exercises the
    * sketch), then point-query the [[CmTopK]] true heaviest
    * types and report each estimate against its exact count. CM's
    * one-sided guarantee (est ≥ true, excess ≤ εN w.h.p.) is what
    * makes it THE streaming frequency sketch; the audit measures the
    * actual overestimate this corpus induces at this geometry — the
    * number that picks the width before a deployment trusts sketch
    * counts (q116's heavy hitters keep exact counts; the sketch is
    * the O(d·w)-memory path).
    *
    * Determinism: rows are md5-hashed (the engine's cross-engine
    * convention); counters, estimates (min over rows), and errors
    * are exact integers.
    *
    * Scale shape: one (term) count riding the token scan
    * (checkpointed — grid build and query set read it); the grid is
    * a ≤d·w-row aggregate that BROADCASTS to the query join; the
    * query set is a TakeOrdered head; [[CmTopK]] output rows. */
  def countMin(spark: SparkSession, sfDir: String): DataFrame = {
    def hashes(term: Column): Column = array((0 until CmDepth).map(i =>
      struct(lit(i).as("i"),
        pmod(H.md5Int28(concat(lit(s"cm${i}_"), term)), lit(CmWidth)).as("c"))): _*)
    val tc = Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .select(explode_outer(T.shingles(col("w"), 3)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("mass"))
      .localCheckpoint()
    val counters = tc
      .select(explode(hashes(col("term"))).as("h"), col("mass"))
      .groupBy(col("h.i").as("i"), col("h.c").as("c"))
      .agg(sum(col("mass")).as("cnt"))
    tc.orderBy(col("mass").desc, col("term").asc).limit(CmTopK)
      .select(col("term"), col("mass"), explode(hashes(col("term"))).as("h"))
      .select(col("term"), col("mass"), col("h.i").as("i"), col("h.c").as("c"))
      .join(broadcast(counters), Seq("i", "c"))
      .groupBy(col("term"), col("mass"))
      .agg(min(col("cnt")).as("est"))
      .select(col("term"), col("mass").as("true_mass"), col("est").as("est_mass"),
        (col("est") - col("mass")).as("overestimate"),
        expr("(est - mass) * 1000000 div mass").as("err_ppm"))
      .orderBy(col("true_mass").desc, col("term").asc)
  }

  /** q336_source_cosine — the source×source tf-idf cosine matrix over
    * word-TRIGRAM features: each source is one "document", weights
    * are tf·ln(NS/df) (terms shared by every source weigh exactly 0
    * and drop), and every unordered pair gets its cosine. The
    * IR-standard companion of q296's JSD — JSD compares probability
    * MASS, tf-idf cosine compares DISTINCTIVE content, and sources
    * that agree on one but not the other differ precisely in their
    * shared boilerplate.
    *
    * Determinism: weights floor-milli-quantize one ln over exact
    * integers; dot products and norms are integer sums; each cosine
    * is one floored double over three integers. The pair spine is
    * densified so no-overlap pairs report 0, not absence.
    *
    * Scale shape: one (source, trigram) count riding the token scan
    * (checkpointed — df rollup and both join sides read it); the
    * pair frame is a term-keyed equi-join bounded by sources² per
    * term; norms broadcast; |sources|²/2 output rows. */
  def sourceCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = Tables.documents(spark, sfDir)
      .select(col("source"), T.wsTokens(col("text")).as("w"))
      .select(col("source"), explode_outer(T.shingles(col("w"), 3)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val nsrc = tc.agg(countDistinct(col("source")).as("ns"))
    val dfr = tc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wts = tc.join(dfr, "term").crossJoin(broadcast(nsrc))
      .select(col("source"), col("term"),
        floor(col("tf").cast("double")
          * log(col("ns").cast("double") / col("df").cast("double"))
          * lit(1000.0)).cast("long").as("w"))
      .filter(col("w") > 0)
      .localCheckpoint()
    val norms = wts.groupBy(col("source")).agg(sum(col("w") * col("w")).as("n2"))
    val dots = wts.select(col("source").as("sa"), col("term"), col("w").as("wa"))
      .join(wts.select(col("source").as("sb"), col("term"), col("w").as("wb")),
        "term")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(sum(col("wa") * col("wb")).as("dot"))
    val spine = tc.select(col("source")).distinct()
    spine.select(col("source").as("sa"))
      .crossJoin(spine.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
      .join(dots, Seq("sa", "sb"), "left")
      .join(broadcast(norms.select(col("source").as("sa"), col("n2").as("na"))), "sa")
      .join(broadcast(norms.select(col("source").as("sb"), col("n2").as("nb"))), "sb")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        floor(coalesce(col("dot"), lit(0L)).cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
          * lit(1000000.0)).cast("long").as("cos_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** q344_mcc — per-class Matthews correlation of the q18 classifier:
    * one-vs-rest TP/FP/FN/TN per language and the MCC, the single
    * confusion summary that stays honest under the 15-25% class
    * imbalance where accuracy (q114's diagonal) and even F1 (q325's
    * sweep) mislead — MCC is high only when ALL four cells are
    * right, which is why it is the recommended default for
    * imbalanced evaluation.
    *
    * Determinism: the four cells are exact integers off one scan of
    * the scan-local q18 scorer; MCC is one double over them
    * (products in doubles — n² terms would square past ppm needs,
    * not BIGINT range, but the double tree is fixed), floored to
    * micro.
    *
    * Scale shape: one (true, pred) contingency aggregate
    * (≤|langs|² rows, checkpointed — all class rollups read it),
    * one per-class fold; |langs| rows. */
  def mcc(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = langId(spark, sfDir)
      .groupBy(col("labeled_lang").as("t"), col("predicted_lang").as("p"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val langs = grid.select(col("t").as("lang")).distinct()
    val cells = langs.crossJoin(broadcast(grid))
      .groupBy(col("lang"))
      .agg(sum(when(col("t") === col("lang") && col("p") === col("lang"),
          col("n")).otherwise(0L)).as("tp"),
        sum(when(col("t") =!= col("lang") && col("p") === col("lang"),
          col("n")).otherwise(0L)).as("fp"),
        sum(when(col("t") === col("lang") && col("p") =!= col("lang"),
          col("n")).otherwise(0L)).as("fn"))
    val tot = grid.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("lang"), col("tp"), col("fp"), col("fn"),
        (col("total") - col("tp") - col("fp") - col("fn")).as("tn"))
      .select(col("lang"), col("tp"), col("fp"), col("fn"), col("tn"),
        // MCC's own convention: any empty margin (e.g. a class the
        // argmax never predicts) ⇒ MCC = 0, not a 0/0
        when(col("tp") + col("fp") === 0 || col("tp") + col("fn") === 0 ||
          col("tn") + col("fp") === 0 || col("tn") + col("fn") === 0, lit(0L))
          .otherwise(floor((col("tp").cast("double") * col("tn").cast("double")
            - col("fp").cast("double") * col("fn").cast("double"))
            / sqrt((col("tp") + col("fp")).cast("double")
              * (col("tp") + col("fn")).cast("double")
              * (col("tn") + col("fp")).cast("double")
              * (col("tn") + col("fn")).cast("double"))
            * lit(1000000.0)).cast("long")).as("mcc_micro"))
      .orderBy("lang")
  }

  /** q303_cond_entropy — corpus entropy rate: the conditional entropy
    * H(w₂|w₁) = H(w₁,w₂) − H(w₁) of the next token given the current
    * one, plus the implied bigram-LM perplexity. This is the
    * information-theoretic summary of how REPETITIVE the corpus is at
    * the token level — the number that drops when boilerplate floods
    * a crawl (q286 finds WHICH phrases; this measures the aggregate
    * predictability they cause), and the lower bound any LM trained
    * on the corpus can hope to reach on it.
    *
    * Determinism: both entropies sum floor-nano-quantized
    * c/N·ln(N/c) terms over exact integer histogram counts (the q296
    * convention — integer sums are order-independent); the
    * subtraction and the one exp for perplexity are fixed expression
    * trees over those integers.
    *
    * Scale shape: the bigram histogram rides the token scan
    * (checkpointed — the marginal, the total, and the entropy fold
    * all read it); the first-token marginal rolls up FROM it; one
    * broadcast 1-row total; 1-row output. */
  def condEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val pc = Tables.documents(spark, sfDir)
      .select(T.wsTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(slice(col("w"), lit(1), size(col("w")) - 1).as("s1"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("s2"))
      .select(explode(arrays_zip(col("s1"), col("s2"))).as("z"))
      .select(col("z.s1").as("a"), col("z.s2").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = pc.agg(sum(col("c")).as("n_pairs"),
      count(lit(1)).as("v_bigrams"))
    def entNano(counts: DataFrame, cCol: String): Column =
      sum(floor(col(cCol).cast("double") / col("n_pairs").cast("double")
        * log(col("n_pairs").cast("double") / col(cCol).cast("double"))
        * lit(1000000000.0)).cast("long"))
    val hb = pc.crossJoin(broadcast(tot))
      .agg(entNano(pc, "c").as("h_bigram_nano"))
    val ma = pc.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val h1 = ma.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("v_first"),
        entNano(ma, "ca").as("h_first_nano"))
    tot.crossJoin(broadcast(hb)).crossJoin(broadcast(h1))
      .select(col("n_pairs"), col("v_bigrams"), col("v_first"),
        col("h_bigram_nano"), col("h_first_nano"),
        (col("h_bigram_nano") - col("h_first_nano")).as("h_cond_nano"))
      .select(col("n_pairs"), col("v_bigrams"), col("v_first"),
        col("h_bigram_nano"), col("h_first_nano"), col("h_cond_nano"),
        floor(exp(col("h_cond_nano").cast("double") / lit(1000000000.0))
          * lit(1000000.0)).cast("long").as("ppl_micros"))
  }

  /** q352_lm_generalization_gap — the SPLIT-EXCHANGEABILITY audit that
    * q350's conformal guarantee and every train/test evaluation stand
    * on: a Laplace-smoothed unigram LM trained on q99's train split,
    * evaluated on train AND test — per-split mean negative
    * log-likelihood, their gap, and the test OOV share. For a random
    * split the gap should sit at ~0 (both splits draw the same
    * distribution); a materially positive gap means the split is NOT
    * exchangeable (temporal drift, per-source clustering, leakage
    * repair gone wrong) and every downstream metric is suspect. The
    * null-audit complement of q79 (which scores docs against the
    * corpus LM) and q152 (per-source KL): this one audits the SPLIT.
    *
    * Determinism: per-token terms −ln((cnt+1)/(T+V)) are computed
    * from exact integers (identical doubles both engines), floor-
    * quantized to nano BEFORE the integer sum (the q152/q247 rule);
    * averages and the gap are integer divisions.
    *
    * Scale shape: one token scan → (split, token) partial-aggregable
    * counts (vocabulary-bounded); the train LM joins back on the
    * token key (vocabulary-domain join, not a token-stream join);
    * 1-row output. Term magnitudes bound the integer sums to ~2⁶³ up
    * to ~10¹¹ tokens; past that the grid drops to micro. */
  def lmGeneralizationGap(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("tok"))
      .withColumn("bucket",
        pmod(H.md5Int28(concat(lit("spl_"), col("doc_id").cast("string"))), lit(1000)))
      .withColumn("split",
        when(col("bucket") < Sampling.TrainPerMille, lit("train"))
          .when(col("bucket") < Sampling.ValPerMille, lit("val"))
          .otherwise(lit("test")))
      .filter(col("split") =!= "val")
    val perTok = base.groupBy(col("split"), col("tok"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val trainCnt = perTok.filter(col("split") === "train")
      .select(col("tok"), col("n").as("cnt"))
    val stats = trainCnt.agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))
    val terms = perTok
      .join(trainCnt, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("split"), col("n"), col("v"),
        col("cnt").isNull.as("oov"),
        floor(-log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double")
          / (col("t") + col("v")).cast("double")) * lit(1000000000.0))
          .cast("long").as("term_nano"))
    val per = terms.groupBy(col("split"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("term_nano")).as("sum_nano"),
        sum(when(col("oov"), col("n")).otherwise(lit(0L))).as("n_oov"),
        max(col("v")).as("v"))
    per.groupBy()
      .agg(
        max(when(col("split") === "train", col("n_tokens"))).as("n_train_tokens"),
        max(when(col("split") === "test", col("n_tokens"))).as("n_test_tokens"),
        max(col("v")).as("vocab"),
        max(when(col("split") === "train", expr("sum_nano div n_tokens")))
          .as("train_nll_nano"),
        max(when(col("split") === "test", expr("sum_nano div n_tokens")))
          .as("test_nll_nano"),
        max(when(col("split") === "test", expr("n_oov * 1000000 div n_tokens")))
          .as("test_oov_ppm"))
      .select(col("n_train_tokens"), col("n_test_tokens"), col("vocab"),
        col("train_nll_nano"), col("test_nll_nano"),
        (col("test_nll_nano") - col("train_nll_nano")).as("gap_nano"),
        col("test_oov_ppm"))
  }

  /** q359 window width (tokens per TTR window). */
  val TtrWindow = 25

  /** q359_moving_ttr — windowed type-token ratio (the MTLD/MATTR family
    * of lexical-diversity scores): each doc's token stream splits into
    * consecutive complete [[TtrWindow]]-token windows, each window's
    * TTR = distinct/width, and the doc reports its window count and
    * mean/min/max window TTR. The LENGTH-INVARIANT diversity signal a
    * quality filter wants — raw TTR (q148's corpus curve shows why)
    * falls mechanically with length, so thresholding it punishes long
    * docs; fixed-window TTR compares docs of any length on one scale,
    * and the min window flags locally-degenerate stretches (loops,
    * keyword stuffing) that a doc-level mean hides. Docs shorter than
    * one window carry no signal and drop (lesson: report nothing over
    * windows that do not exist, not a 0/0).
    *
    * Determinism: windows are position arithmetic on the whitespace
    * token stream; TTRs are exact integer ppm (distinct·10⁶ div width).
    *
    * Scale shape: ONE doc-keyed exchange (`repartition(doc_id)` — the
    * q265 move) serves all three aggregate levels ((doc, win, term)
    * dedup → (doc, win) distinct count → per-doc stats, each grouping
    * a superset of the partition key); tokenize/posexplode are
    * scan-local with the token count bound in its own projection. */
  def movingTtr(spark: SparkSession, sfDir: String): DataFrame = {
    val W = TtrWindow
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n"),
        posexplode(col("w")).as(Seq("pos", "term")))
      .filter(col("pos") < expr(s"(n div $W) * $W"))
      .select(col("doc_id"), expr(s"pos div $W").as("win"), col("term"))
      .repartition(col("doc_id"))
    val winTtr = toks
      .groupBy(col("doc_id"), col("win"), col("term")).agg(count(lit(1)).as("m"))
      .groupBy(col("doc_id"), col("win")).agg(count(lit(1)).as("d"))
    winTtr.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("d")).as("sd"),
        min(col("d")).as("mind"),
        max(col("d")).as("maxd"))
      .select(col("doc_id"), col("n_windows"),
        expr(s"sd * 1000000 div ($W * n_windows)").as("mean_ttr_ppm"),
        expr(s"mind * 1000000 div $W").as("min_ttr_ppm"),
        expr(s"maxd * 1000000 div $W").as("max_ttr_ppm"))
      .orderBy("doc_id")
  }

  /** q360_lm_transfer — cross-source language-model transfer matrix:
    * train one add-1-smoothed unigram LM per source, score every
    * source's token stream under every model, and report the full
    * source×source cross-entropy grid with a per-row best-model flag —
    * the domain-transfer audit behind "can we drop source X and cover
    * it from Y" mixture decisions (q296's JSD measures distribution
    * distance symmetrically; cross-entropy prices the MODELING cost of
    * the transfer, which is what an LM pipeline pays). The diagonal
    * being each row's minimum is the self-consistency check; an
    * off-diagonal minimum flags a source whose text another source
    * models better — a labeling/provenance smell.
    *
    * Determinism: the q70/q352 convention — per-term ln of an exact
    * integer rational floors to nano-nats BEFORE the weighted sum
    * (lesson 58: floor-before-sum), so the grid is pure ≤2⁶³ integers.
    * Headroom is GUARDED, not just argued: num = Σ c·|lnp| ≤
    * t·ln(t+v)·10⁹, so at t = [[LmTransferMaxTokensPerSource]] = 10⁸
    * tokens and any vocabulary ≤ 10⁹ the sum stays ≤ ~2.1·10¹⁸ < 2⁶³
    * (all addends share a sign — lnp ≤ −1 always — so partial sums
    * never exceed the final magnitude either). A source past the
    * bound fails LOUDLY via an in-plan raise_error naming the source
    * and the fix (switch the per-term weight to per-million-token
    * shares) instead of silently wrapping.
    *
    * Scale shape: the corpus collapses to the (source, term) frame in
    * one partial-aggregable pass (checkpointed — it feeds the totals,
    * vocabulary, model and eval sides; the q31 multi-reference rule);
    * everything after lives on the sources×vocabulary domain. */
  def lmTransfer(spark: SparkSession, sfDir: String): DataFrame =
    lmTransferFrom(Tables.documents(spark, sfDir), LmTransferMaxTokensPerSource)

  /** q360 integer-headroom boundary: max tokens per source before the
    * nano-nat Σ c·|lnp| could approach 2⁶³ (see [[lmTransfer]]). */
  val LmTransferMaxTokensPerSource = 100000000L

  /** [[lmTransfer]] over an arbitrary (source, text) frame with an
    * explicit headroom bound (spec hook for the boundary behavior). */
  private[graft] def lmTransferFrom(docs: DataFrame, maxTokensPerSource: Long): DataFrame = {
    val tc = docs
      .select(col("source"), explode(T.wsTokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = tc.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val vocabN = tc.agg(countDistinct(col("term")).as("v"))
    val model = totals.crossJoin(tc.select(col("term")).distinct())
      .join(tc, Seq("source", "term"), "left")
      .crossJoin(broadcast(vocabN))
      .select(col("source").as("src_model"), col("term"),
        floor(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
          / (col("t") + col("v")).cast("double")) * lit(1000000000.0))
          .cast("long").as("lnp"))
    val ce = tc.select(col("source").as("src_eval"), col("term"), col("c"))
      .join(model, "term")
      .groupBy(col("src_eval"), col("src_model"))
      .agg((-sum(col("c") * col("lnp"))).as("num"))
      .join(totals.select(col("source").as("src_eval"), col("t")), "src_eval")
      .select(col("src_eval"), col("src_model"),
        // the guard wraps a COLUMN THE QUERY USES so pruning can't
        // drop it; raise_error fires per-row at eval time, before any
        // wrapped sum could have been trusted downstream
        when(col("t") > lit(maxTokensPerSource),
          raise_error(concat(
            lit("q360 lm_transfer integer headroom exceeded: source '"),
            col("src_eval"), lit("' has "), col("t"),
            lit(s" tokens > $maxTokensPerSource; switch the per-term " +
              "weight to per-million-token shares for this corpus")))
            .cast("long"))
          .otherwise(expr("num div t")).as("h_nano"))
    // best-model flag over the sources² domain (tiny — whitelist class)
    val byEval = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src_eval"))
    ce.withColumn("best", col("h_nano") === min(col("h_nano")).over(byEval))
      .orderBy("src_eval", "src_model")
  }

  /** q364 leakage gram width: 8 consecutive words — long enough that a
    * shared gram means copied text, not shared phrasing (the q51/q118
    * contamination convention). */
  val LeakageGramK = 8

  /** q364_source_gram_leakage — DIRECTIONAL cross-source text-reuse
    * matrix: for every ordered source pair (A, B), the fraction of A's
    * distinct 8-grams that also occur in B (containment of A in B, in
    * exact ppm) — the "did crawl B re-scrape crawl A" provenance audit.
    * Direction is the point: syndication/mirroring is asymmetric (B
    * holding 80% of A's grams while A holds 5% of B's means B contains
    * A, not vice versa), which q336's symmetric term-vector cosine and
    * q360's model-transfer grid cannot express; q276 audits SPLIT
    * leakage of near-dup pairs, not source-level directional reuse.
    *
    * Determinism: grams hash to md5-28 longs (identical expression in
    * the oracle — collisions, if any, are the SAME collisions on both
    * engines); counts and the ppm division are exact integers.
    *
    * Scale shape: ONE corpus pass builds the distinct (source,
    * gram-hash) frame, checkpointed (it feeds per-source totals and
    * both sides of the share join — the q31 multi-reference rule);
    * hashing shrinks the shuffled key from ~50-char strings to 8-byte
    * longs (q12's rule: hash BEFORE the shuffle when it shrinks
    * volume). The share count is a gram-keyed self-equi-join whose
    * per-gram fan-out is bounded by sources² (a gram present in all S
    * sources emits S² rows — S is a handful, so no hot key exists by
    * construction); the zero-filled matrix join runs on the broadcast
    * sources² domain. */
  def sourceGramLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT spread: r15 kept a spread here on a warm
    // interleaved A/B (2.4 -> 2.0 s), but the driver's cold 32-core run
    // contradicted it (2.07 -> 4 s, 8-core ratio 0.25 — anti-scaling):
    // the repartition inflates the partition count of the gram-keyed
    // self-join below, whose shuffle dominates this query
    val grams = Tables.documents(spark, sfDir)
      .select(col("source"), T.wsTokens(col("text")).as("w"))
      .select(col("source"), explode(T.shingleSet(col("w"), LeakageGramK)).as("g"))
      .select(col("source"), H.md5Int28(col("g")).as("h"))
      .distinct()
      .localCheckpoint()
    val totals = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val shared = grams.as("a")
      .join(grams.as("b"), col("a.h") === col("b.h")
        && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    broadcast(totals.select(col("source").as("src_a"), col("n_grams").as("n_grams_a")))
      .crossJoin(broadcast(totals.select(col("source").as("src_b"))))
      .filter(col("src_a") =!= col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_grams_a"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("containment_ppm",
        expr("n_shared * 1000000 div n_grams_a"))
      .orderBy("src_a", "src_b")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q18_langid"          -> (langId _),
    "q19_quality"         -> (quality _),
    "q20_tokencount"      -> (tokenCount _),
    "q21_fingerprint"     -> (fingerprint _),
    "q32_normalize"       -> (normalize _),
    "q34_tfidf"           -> (tfidf _),
    "q35_bigrams"         -> (bigrams _),
    "q49_langstats"       -> (langStats _),
    "q50_pmi"             -> (pmi _),
    "q54_repetition"      -> (repetition _),
    "q56_scrub"           -> (scrub _),
    "q65_char_langid"     -> (charLangId _),
    "q70_vocab_oov"       -> (vocabOov _),
    "q79_lm_score"        -> (lmScore _),
    "q90_chunk_passages"  -> (chunkPassages _),
    "q97_bpe_merges"      -> (bpeMerges _),
    "q98_ngram_novelty"   -> (ngramNovelty _),
    "q102_bpe_train"      -> (bpeTrain _),
    "q107_bpe_encode"     -> (bpeEncode _),
    "q114_lang_confusion" -> (langConfusion _),
    "q140_ngram_diversity" -> (ngramDiversity _),
    "q148_vocab_growth"   -> (vocabGrowth _),
    "q150_zipf_slope"     -> (zipfSlope _),
    "q152_source_drift"   -> (sourceDrift _),
    "q153_vocab_coverage" -> (vocabCoverage _),
    "q162_length_moments" -> (lengthMoments _),
    "q175_length_n50"     -> (lengthN50 _),
    "q197_vocab_churn"    -> (vocabChurn _),
    "q210_hill_tail"      -> (hillTail _),
    "q228_next_token"     -> (nextToken _),
    "q234_backoff_lm"     -> (backoffLm _),
    "q250_neg_sampling"   -> (negSampling _),
    "q261_readability"    -> (readability _),
    "q272_char_entropy"   -> (charEntropy _),
    "q273_burrows_delta"  -> (burrowsDelta _),
    "q286_boilerplate"    -> (boilerplate _),
    "q295_llr_bigrams"    -> (llrBigrams _),
    "q296_jsd_sources"    -> (jsdSources _),
    "q302_naive_bayes"    -> (naiveBayes _),
    "q303_cond_entropy"   -> (condEntropy _),
    "q316_yules_k"        -> (yulesK _),
    "q317_term_burstiness" -> (termBurstiness _),
    "q319_feature_hashing" -> (featureHashing _),
    "q320_good_turing"    -> (goodTuring _),
    "q325_pr_curve"       -> (prCurve _),
    "q332_count_min"      -> (countMin _),
    "q336_source_cosine"  -> (sourceCosine _),
    "q344_mcc"            -> (mcc _),
    "q352_lm_generalization_gap" -> (lmGeneralizationGap _),
    "q359_moving_ttr"     -> (movingTtr _),
    "q360_lm_transfer"    -> (lmTransfer _),
    "q364_source_gram_leakage" -> (sourceGramLeakage _)
  )
}
