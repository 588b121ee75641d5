package graft.operators

import graft.functions.{TextFunctions => T}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q72_inverted_index — SEGMENTED positional inverted index, the classic
  * MapReduce IR workload (and the shape of the reference's map→group→
  * reduce pipeline applied to retrieval): term → ordered posting list of
  * (doc_id, positions).
  *
  * The scale problem with the textbook `groupBy(term).collect_list(...)`
  * is the posting list itself: a stopword's postings are O(corpus) and
  * land in ONE aggregation buffer / ONE output cell. Real engines
  * (Lucene segments, Anserini/Hadoop index builds) shard postings by
  * document range, so the index here is keyed by (term, segment) with
  * segment = doc_id div [[Indexing.SegmentDocs]]:
  *
  *   - per-(term, segment) posting strings are bounded by the segment
  *     width — no aggregation buffer ever holds more than
  *     [[Indexing.SegmentDocs]] docs' postings regardless of term
  *     frequency (the stopword-skew guard);
  *   - postings within a segment are "doc:p1|p2" in doc_id order, the
  *     in-doc positions in token order — fully deterministic, so the
  *     DuckDB oracle compares the posting STRINGS byte-for-byte;
  *   - df/tf per (term, segment) are partial-aggregable counts; global
  *     df is one more bounded agg over (term, segment) rows.
  *
  * Query-time lookup is then (term, segment-range) — an equi-prefix scan
  * that parallelizes over segments, which is exactly how the 100 TB
  * index would be laid out as a bucketed/partitioned parquet table.
  */
object Indexing {

  /** Documents per index segment — caps every posting buffer. */
  val SegmentDocs = 100L

  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    invertedIndexFrom(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** [[invertedIndex]] over an arbitrary (doc_id, text) frame. */
  private[graft] def invertedIndexFrom(docs: DataFrame): DataFrame = {
    // (doc, position, token) — posexplode keeps the in-doc token order
    val toks = docs
      .select(col("doc_id"),
        posexplode(T.alphaTokens(col("text"))).as(Seq("pos", "term")))
    // one row per (term, doc): positions already sorted (ints ascending)
    val perDoc = toks
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("posting",
        concat(col("doc_id").cast("string"), lit(":"),
          array_join(col("positions"), "|")))
      .withColumn("segment", expr(s"doc_id div $SegmentDocs"))
    // segment posting string: docs in doc_id order inside the segment
    perDoc
      .groupBy(col("term"), col("segment"))
      .agg(count(lit(1)).as("seg_df"),
        sum(size(col("positions"))).cast("long").as("seg_tf"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("posting")))),
            e => e.getField("posting")),
          " ").as("postings"))
      .orderBy("term", "segment")
  }

  /** The fixed phrase queries (each exactly two corpus-vocabulary
    * words) and per-phrase result depth. */
  val PhraseQueries: Seq[String] = Seq("table hash", "customer join", "merge group")
  val PhraseTopK = 10

  /** q96_phrase_search — exact phrase retrieval, the query type the
    * POSITIONAL index (q72) stores positions for: a two-word phrase
    * matches where the words occupy ADJACENT token positions
    * (pos₂ = pos₁ + 1), and each phrase returns its top
    * [[PhraseTopK]] documents by occurrence count (ties on doc_id).
    *
    * Scale shape: the query-term membership filter rides the tokenize
    * projection, so only query-term postings ever reach a shuffle —
    * the posting-list join is keyed by (phrase, doc_id), meaning a
    * stopword-heavy phrase grows each doc's key group by its in-doc
    * tf, never by corpus df (the q72 segment lesson applied to
    * retrieval); the adjacency test is an equi-join on pos+1 inside
    * that key; per-phrase ranking is the native map-side top-k
    * aggregate ([[org.apache.spark.sql.graft.TopKByScore]]: count
    * DESC, doc_id ASC — the exchange carries phrases×k rows). */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(T.alphaTokens(col("text"))).as(Seq("pos", "term")))
    val q = PhraseQueries.map { p =>
      val Array(a, b) = p.split(" ", 2)
      (p, a, b)
    }.toDF("phrase", "w1", "w2")
    val t1 = toks.join(broadcast(q.select(col("phrase"), col("w1").as("term"))), "term")
      .select(col("phrase"), col("doc_id"), col("pos"))
    val t2 = toks.join(broadcast(q.select(col("phrase"), col("w2").as("term"))), "term")
      .select(col("phrase"), col("doc_id"), (col("pos") - 1).as("pos"))
    t1.join(t2, Seq("phrase", "doc_id", "pos"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .groupBy(col("phrase"))
      .agg(org.apache.spark.sql.graft.native
        .topKByScore(col("n_hits").cast("double"), col("doc_id"), PhraseTopK).as("top"))
      .select(col("phrase"), posexplode(col("top")).as(Seq("p", "s")))
      .select(col("phrase"), (col("p") + 1).cast("int").as("rank"),
        col("s.id").as("doc_id"), col("s.score").cast("long").as("n_hits"))
      .orderBy("phrase", "rank")
  }

  /** BM25 parameters (Robertson/Spärck Jones defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** The fixed retrieval query (terms from the corpus vocabulary). */
  val Bm25Query: Seq[String] = Seq("query", "join", "vector")
  val Bm25TopK = 20

  /** q75_bm25 — Okapi BM25 retrieval scoring against a fixed term
    * query: the ranking function the inverted index (q72) exists to
    * serve, and the classic tf·idf refinement with document-length
    * normalization (k1=[[Bm25K1]], b=[[Bm25B]]).
    *
    * Scale shape: the query-term filter is a scan-side `IN` predicate
    * applied post-tokenize, pre-shuffle (`term` is derived by the
    * explode, so nothing reaches the parquet scan as a pushed filter),
    * meaning tf aggregation still only shuffles matching rows; df and
    * the corpus stats (N, avgdl) are broadcast 1-row/
    * |query|-row aggregates; per-doc summation is partial-aggregable
    * keyed by doc_id; the final top-[[Bm25TopK]] is
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    * `ln` evaluates identically across engines in practice (the q34
    * precedent); scores round to 6dp. */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("term"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = terms.filter(col("term").isin(Bm25Query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dl, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("bm25"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** q121 fusion constants: the RRF smoothing constant (60 per Cormack/
    * Clarke/Buettcher 2009 — robust across collections, so fusers use
    * it unchanged), and list depth / fused depth. */
  val RrfC = 60
  val RrfK = 5

  /** q121_rrf_fusion — HYBRID retrieval via Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher, SIGIR 2009): for each query document
    * (`doc_id < 10`, the engine's held-out-query convention; `vec_id` ↔
    * `doc_id` aligned in the testdata), fuse two independent rankings of
    * the rest of the corpus —
    *
    *   - SEMANTIC: exact cosine top-[[RrfK]] over the embedding column
    *     ([[Similarity.annBruteForce]]'s ranking — at scale the probed
    *     IVF ranking drops in unchanged, same columns);
    *   - LEXICAL: top-[[RrfK]] by token-SET Jaccard overlap with the
    *     query document. Deliberately NOT bm25 here: Jaccard is exact
    *     rational arithmetic (|A∩B| / |A∪B| of integer counts), keeping
    *     every value on the ordering path bit-stable cross-engine,
    *     where idf's `log` is only ulp-reproducible after rounding;
    *
    * into `rrf(d) = Σ_list 1/([[RrfC]] + rank_list(d))`, keeping the
    * fused top-[[RrfK]]. This is the standard production shape for
    * "vector search + keyword search" hybrid relevance (RRF needs no
    * score calibration between the two lists — only ranks).
    *
    * Scale shape: the query side is a bounded set that broadcasts; the
    * lexical intersection is an equi-join on `term` against the
    * (doc, term) distinct-token frame (the q72 index's key — at 100 TB
    * the inverted index IS this join's right side, term-partitioned);
    * both per-query rankings and the fused ranking use the map-side
    * [[org.apache.spark.sql.graft.native.topKByScore]] aggregate, so
    * every exchange after the scans carries O(queries × k) rows. No
    * window over row data, no cartesian stage. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.native.topKByScore
    // one scan builds each doc's DISTINCT token set, materialized once:
    // the frame feeds three consumers (set sizes, query side, corpus
    // side) and would re-run the tokenizer per reference otherwise (the
    // q31 multi-reference lesson). At 100 TB the persisted q72 inverted
    // index IS this frame's term-keyed layout — swap it in as the
    // corpus side and the plan below is unchanged.
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), array_distinct(T.alphaTokens(col("text"))).as("terms"))
      .localCheckpoint()
    val sizes = base.select(col("doc_id"), size(col("terms")).cast("long").as("n_tok"))
    // explode_outer + null filter: plain explode synthesizes a size>0
    // pre-filter that re-inlines the array expression (NOTES lesson 36)
    val toks = base
      .select(col("doc_id"), explode_outer(col("terms")).as("term"))
      .filter(col("term").isNotNull)
    val qt = broadcast(toks.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("term")))
    val inter = qt.join(toks.select(col("doc_id").as("neighbor_id"), col("term")), "term")
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id").agg(count(lit(1)).as("ni"))
    val jac = inter
      .join(broadcast(sizes.select(col("doc_id").as("query_id"), col("n_tok").as("nq"))), "query_id")
      .join(sizes.select(col("doc_id").as("neighbor_id"), col("n_tok").as("nn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (col("ni").cast("double") /
          (col("nq") + col("nn") - col("ni")).cast("double")).as("j"))
    val lex = jac.groupBy(col("query_id"))
      .agg(topKByScore(col("j"), col("neighbor_id"), RrfK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("lex_rank"))
    val sem = Similarity.annBruteForce(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("int").as("sem_rank"))
    // ≤ 2k rows (queries × two lists), but its PLAN is both upstream
    // pipelines — materialize before the double reference below
    val fused = sem.join(lex, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"), col("sem_rank"), col("lex_rank"),
        (coalesce(lit(1.0) / (lit(RrfC) + col("sem_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0))).as("rrf"))
      .localCheckpoint()
    fused.groupBy(col("query_id"))
      .agg(topKByScore(col("rrf"), col("neighbor_id"), RrfK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("fused_rank"))
      .join(fused, Seq("query_id", "neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("fused_rank"),
        col("sem_rank"), col("lex_rank"),
        (floor(col("rrf") * lit(1e6) + lit(0.5)) / lit(1e6)).as("rrf"))
      .orderBy("query_id", "fused_rank")
  }

  /** q171 parameters: report threshold + the per-block pair cap. */
  val SparseSimThreshold = 0.9
  val SparseBlockCap = 200

  /** q171_sparse_cosine — LEXICAL near-duplicate pairs by TF-IDF cosine
    * over the term space: the sparse-vector similarity that catches
    * same-vocabulary rewrites shingle Jaccard (word ORDER-sensitive,
    * q12) and embedding cosine (model-dependent, q15) both miss — the
    * third leg of the near-dup triad, and the similarity BM25-era
    * dedup pipelines actually ran.
    *
    * Candidates block on each document's TOP TF-IDF term (argmax
    * blocking: near-identical term distributions share their argmax;
    * the standard prefix-filtering family's 1-prefix member), through
    * the salted [[CandidatePairs.boundedSelfJoin]] — same cap/skew
    * machinery as the LSH buckets, so a corpus-scale hot block never
    * floods a task. Like every blocked scheme the recall contract is
    * the blocker's (documented; raise to k-prefix blocking for more).
    *
    * Determinism: weights quantize to integer micros at the (doc,
    * term) level (tf·idf from exact counts — one division, one ln,
    * identical both engines), so dot products and norms are EXACT
    * integer sums (products ≤ ~7e13 × doc-len terms, inside BIGINT);
    * one final cosine division floors on the 1e-6 grid.
    *
    * Scale shape: weights are the q34 aggregates; the dot products
    * accumulate BLOCK-LOCALLY — every doc's postings carry its block
    * tag, and one salted (block, term) self-join
    * ([[CandidatePairs.boundedSelfJoinContrib]]) emits exactly one
    * wa·wb contribution per SHARED term of each same-block pair, which
    * a pair-keyed sum folds into dp. Work ∝ Σ_pairs |shared terms| —
    * the sf1 spot-bench caught the previous pair-list × full-posting
    * join at 23× the 10×-data cost (it shuffled |pairs| × |posting(a)|
    * rows, 110M at sf1, most matching nothing); this form moved
    * q171 75.7 → 17.1 s at sf1 (scaling factor 23× → 6.3× per 10×
    * data) and 3.1 → 2.7 s at sf0.1, with an identical pair set
    * (every candidate pair shares its block term, so the contribution
    * frame covers exactly the blocked pairs). */
  def sparseCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.wsTokens(col("text"))).as("term"))
    val tc = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tc"))
    val dl = tc.groupBy(col("doc_id")).agg(sum(col("tc")).as("dl"))
    val df_ = tc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = tc.join(dl, "doc_id").join(broadcast(df_), "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        floor((col("tc").cast("double") / col("dl").cast("double"))
          * log(col("n_docs") / col("df").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long").as("wi"))
      .localCheckpoint()
    // top-term (argmax) and norm in ONE partial-aggregable pass: the
    // previous row_number window paid exchange + per-partition sort and
    // the separate norm groupBy a second exchange over the same key.
    // min(struct(-wi, term)) orders by (wi desc, term asc) — exactly the
    // window's ordering, so the blocking term per doc is unchanged.
    val tn = w.groupBy(col("doc_id"))
      .agg(min(struct((-col("wi")).as("nwi"), col("term"))).as("m"),
        sum(col("wi") * col("wi")).as("n2"))
    val top1 = tn.select(col("m.term").as("bterm"), col("doc_id"))
    val norms = tn.select(col("doc_id"), col("n2"))
    // postings tagged with their doc's block: the (bterm, term) salted
    // self-join below emits one wa·wb row per shared term per same-block
    // pair — the dp contributions, never |pairs| × |posting| rows
    val bw = w.join(top1, "doc_id")
    val dots = CandidatePairs
      .boundedSelfJoinContrib(bw, Seq("bterm", "term"), "doc_id",
        Seq("wi"), SparseBlockCap)
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("wi_a") * col("wi_b")).as("dp"))
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("n2").as("nb")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        (floor(col("dp").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("cosine"))
      .filter(col("cosine") >= SparseSimThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** q215 KWIC window: ±2 tokens around the hit. */
  val KwicRadius = 2
  /** q215 query term (from the corpus vocabulary). */
  val KwicTerm = "vector"

  /** q215_kwic_snippets — keyword-in-context extraction: every
    * occurrence of the query term with its ±[[KwicRadius]]-token
    * window joined back into a snippet string — the search-result
    * highlighting step a retrieval stack runs after ranking (q75
    * decides WHICH docs; this renders WHY they matched). Positions
    * are the same token coordinates q72's positional postings store,
    * so at scale the occurrence list comes from the index, not a
    * rescan — here the scan-side form prices the index-free case.
    *
    * Scale shape: tokens bind once per doc (the multi-reference
    * lesson), the hit filter applies scan-side post-explode, and the
    * snippet is a per-hit array slice — zero shuffles before the
    * ordered output. */
  def kwicSnippets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), T.wsTokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), posexplode(col("w")).as(Seq("pos", "tok")))
      .filter(col("tok") === KwicTerm)
      .select(col("doc_id"), (col("pos") + 1).as("token_pos"),
        greatest(lit(1), col("pos") + 1 - KwicRadius).as("s"),
        least(size(col("w")), col("pos") + 1 + KwicRadius).as("e"), col("w"))
      .select(col("doc_id"), col("token_pos"),
        array_join(slice(col("w"), col("s"), col("e") - col("s") + 1), " ")
          .as("snippet"))
      .orderBy("doc_id", "token_pos")

  /** q206 context-window token budget. */
  val PackBudgetTokens = 150L

  /** q206_context_pack — RAG context assembly: the retrieval head
    * (q75's BM25 top-[[Bm25TopK]]) greedily PACKED into a
    * [[PackBudgetTokens]]-token context window in rank order — the
    * step between "ranked hits" and "what actually fits in the
    * prompt" that every retrieval-augmented serving stack runs. The
    * prefix rule (stop at the first overflow) keeps the packed set a
    * deterministic function of the ranking: rank order is total
    * (6dp score desc, doc_id asc), token counts are whitespace-exact,
    * and the cumulative sum runs over the ≤[[Bm25TopK]]-row head —
    * never the corpus.
    *
    * Scale shape: everything up to the head is q75's plan
    * (scan-filtered tf, broadcast stats, per-doc partial sums,
    * TakeOrderedAndProject); the pack adds one broadcast-sized join
    * for token counts and a cumulative window over the fixed-size
    * head (whitelisted — [[Bm25TopK]] rows by construction). */
  /** q207 autocomplete: prefix length and completions per prefix. */
  val AutoPrefixLen = 3
  val AutoTopK = 3

  /** q207_autocomplete — typeahead completion index: for every
    * [[AutoPrefixLen]]-char prefix, the top-[[AutoTopK]] corpus tokens
    * by frequency (count desc, token asc) — the serving table behind
    * search-box suggestions, built like a Lucene `suggest` FST but as
    * a plain keyed ranking over the vocabulary. Complements q72
    * (postings by term) and q96 (phrase lookup) with the
    * prefix-addressed third index axis.
    *
    * Scale shape: token counts are one partial-aggregable vocabulary
    * aggregate; the prefix is a scan-local substring of the VOCAB
    * frame (never corpus rows); ranking windows partition by prefix
    * over the vocab domain (the q70 rule); output ≤ 3 rows/prefix. */
  def autocomplete(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select(explode(T.alphaTokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("token")) >= AutoPrefixLen)
      .withColumn("prefix", substring(col("token"), 1, AutoPrefixLen))
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= AutoTopK)
      .select(col("prefix"), col("rnk").cast("int").as("rank"),
        col("token"), col("cnt"))
      .orderBy("prefix", "rank")
  }

  def contextPack(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = bm25(spark, sfDir)
    val ntok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(T.wsTokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.orderBy(col("bm25").desc, col("doc_id").asc)
    hits.join(ntok, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= PackBudgetTokens)
      .select(col("rnk").cast("int").as("rank"), col("doc_id"), col("bm25"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy("rank")
  }

  /** q244 known-item eval parameters: every Nth doc queries with its
    * [[KnownItemTerms]] globally-rarest tokens; rank cut for MRR. */
  val KnownItemEvery = 50
  val KnownItemTerms = 2
  val KnownItemTopK = 10

  /** q244_bm25_eval — KNOWN-ITEM retrieval evaluation of the BM25
    * ranking (q75 serves it; this measures it): every
    * [[KnownItemEvery]]th document issues its own
    * [[KnownItemTerms]]-rarest tokens (global df ascending, token
    * ascending — the most discriminative query its text can produce)
    * as a query, the corpus is BM25-ranked against it, and the graded
    * row reports where the document FOUND ITSELF — self-rank within
    * the top [[KnownItemTopK]] (−1 on a miss), reciprocal rank in
    * exact ppm, and the top-1 hit. Known-item self-retrieval is the
    * zero-annotation relevance evaluation (the doc is its own
    * relevant result by construction) — the retrieval twin of q109's
    * ANN recall and q241's CF hit-rate, completing the evaluation
    * tier across all three ranking families.
    *
    * Determinism: query-term selection and rankings use integer df/tf
    * with total tie orders; bm25 follows q75's exact conventions
    * (identical `ln` tree, 6dp-rounded score ranked with doc-id
    * ties); rr is integer ppm.
    *
    * Scale shape: the (doc, term, tf) frame checkpoints once and
    * feeds df/dl/query-selection/scoring; query terms are rare BY
    * SELECTION, so each query's candidate set is the union of two
    * short posting lists — the per-query ranking window is bounded by
    * those lists (the df-ascending choice doubles as the skew guard,
    * q181's argument). The per-query report (top-1 doc, self rank) is
    * ONE conditional aggregate over the ranked rows — the round-17
    * fold that removed the ranked checkpoint and its top1/self
    * join-back (every reference downstream of the window is single,
    * so the whole eval is one linear job after the doctf build;
    * measured 2.6 → ~1.6 s at sf0.1); everything else is keyed joins
    * and partial-aggregable sums. */
  def bm25Eval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doctf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = doctf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dft = doctf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("term").asc)
    val qterms = doctf.filter(col("doc_id") % KnownItemEvery === 0)
      .join(dft, "term")
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= KnownItemTerms)
      .select(col("doc_id").as("query_id"), col("term"), col("df"))
    val scored = qterms
      .join(doctf, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    // every query retrieves ≥1 candidate (it matches its own terms), so
    // the grouped frame covers exactly the query set; top-1 and self
    // rank come out of one conditional aggregate (rnk=1 is unique per
    // query; query==doc appears at most once)
    scored.withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= KnownItemTopK)
      .groupBy(col("query_id"))
      .agg(min(when(col("rnk") === 1, col("doc_id"))).as("top1_doc"),
        min(when(col("query_id") === col("doc_id"), col("rnk"))).as("sr"))
      .select(col("query_id"), col("top1_doc"),
        coalesce(col("sr"), lit(-1)).cast("int").as("self_rank"),
        when(col("sr").isNotNull,
          expr("1000000 div sr")).otherwise(lit(0L)).as("rr_ppm"))
      .orderBy("query_id")
  }

  /** q324 sweep: the five canonical (k1, b) corners around the
    * default — saturation low/high, length-normalization off/full. */
  val Bm25Grid: Seq[(Double, Double)] =
    Seq((0.6, 0.75), (1.2, 0.0), (1.2, 0.75), (1.2, 1.0), (2.0, 0.75))

  /** q324_bm25_grid — BM25 parameter tuning: q244's known-item MRR
    * evaluated at the [[Bm25Grid]] (k1, b) corners. k1 sets term-
    * frequency saturation, b sets length normalization — the two
    * knobs every search deployment tunes, and this measures them the
    * only defensible way (end-metric sweep on held-out known-item
    * queries) rather than by folklore defaults. Pairs with q315's
    * nprobe curve as the engine's parameter-tuning tier.
    *
    * Scale shape: the expensive prefix — doc-term counts, lengths,
    * document frequencies, query-term selection, and the scored
    * candidate join WITH the idf factored out — is built once and
    * checkpointed; ALL grid points then ride ONE pass (the q103
    * inline-explode move: each candidate row fans out ×|grid| with
    * its corner's saturation/normalization arithmetic, one aggregate
    * keyed by (corner, query, doc), one (corner, query)-partitioned
    * ranking window over the bounded candidate set) — the round-17
    * fold that replaced |grid| sequential re-aggregations of the
    * checkpoint (measured 4.35 → ~1.6 s at sf0.1; at scale one
    * 5×-wider exchange beats five passes over the candidates). A
    * 5-row corner spine left-join keeps zero-hit corners in the
    * output, which the per-corner global agg used to guarantee;
    * |grid| output rows. */
  def bm25Grid(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val doctf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = doctf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dft = doctf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("term").asc)
    val qterms = doctf.filter(col("doc_id") % KnownItemEvery === 0)
      .join(dft, "term")
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= KnownItemTerms)
      .select(col("doc_id").as("query_id"), col("term"), col("df"))
      .localCheckpoint()
    val joined = qterms.join(doctf, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) + 1.0))
      .select(col("query_id"), col("doc_id"), col("tf"), col("dl"),
        col("avgdl"), col("idf"))
      .localCheckpoint()
    val nq = qterms.select(col("query_id")).distinct().count()
    // each corner's k1/b enter as exact double literals; k1+1, 1−b are
    // single correctly-rounded ops, so the fused arithmetic is
    // bit-identical to the per-corner form (and to the oracle)
    val corners = Bm25Grid.map { case (k1, b) =>
      struct(lit((k1 * 1000).round).as("k1_milli"),
        lit((b * 1000).round).as("b_milli"),
        lit(k1 + 1.0).as("k1p1"), lit(k1).as("k1"),
        lit(1.0 - b).as("omb"), lit(b).as("b"))
    }
    val scored = joined
      .select(col("*"), explode(array(corners: _*)).as("g"))
      .withColumn("s",
        col("idf") * (col("tf") * col("g.k1p1")) /
          (col("tf") + col("g.k1") *
            (col("g.omb") + col("g.b") * col("dl") / col("avgdl"))))
      .groupBy(col("g.k1_milli").as("k1_milli"), col("g.b_milli").as("b_milli"),
        col("query_id"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"))
    val wr = Window.partitionBy(col("k1_milli"), col("b_milli"), col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
    val hits = scored.withColumn("rnk", row_number().over(wr))
      .filter(col("query_id") === col("doc_id") && col("rnk") <= KnownItemTopK)
      .groupBy(col("k1_milli"), col("b_milli"))
      .agg(count(lit(1)).as("n_hits"),
        sum(expr("1000000 div rnk")).as("sum_rr_ppm"))
    import joined.sparkSession.implicits._
    val spine = Bm25Grid.map { case (k1, b) => ((k1 * 1000).round, (b * 1000).round) }
      .toDF("k1_milli", "b_milli")
    spine.join(broadcast(hits), Seq("k1_milli", "b_milli"), "left")
      .select(col("k1_milli"), col("b_milli"), lit(nq).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("sum_rr_ppm"), lit(0L)).as("sum_rr_ppm"),
        expr(s"coalesce(sum_rr_ppm, 0) div $nq").as("mrr_ppm"))
      .orderBy("k1_milli", "b_milli")
  }

  /** q251_postings_compression — delta-varint compression audit of the
    * inverted index's posting lists (the Lucene/PforDelta storage
    * move): per term, the raw 8 B/doc_id cost vs the delta-encoded
    * LEB128 varint cost over the doc_id-sorted postings — sorted ids
    * make deltas small and varints make small integers cheap, which
    * is WHY posting lists store deltas; the audit prices that
    * decision on the actual corpus (q72 builds the index; q103/q189/
    * q219 price layouts — this prices the postings encoding). Varint
    * width is exact integer arithmetic on the delta's bit length via
    * the binary-string rendering (q236's `bin()` trick — no float
    * log), so the byte counts hash-match.
    *
    * Scale shape: one (term, doc_id) distinct (the posting build);
    * the delta lag partitions by term (per-task rows bounded by df —
    * at scale the q72 segment key bounds stopword lists); byte sums
    * partial-aggregable onto the vocabulary domain. */
  def postingsCompression(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("term"))
      .distinct()
    val w = Window.partitionBy(col("term")).orderBy(col("doc_id").asc)
    postings
      .withColumn("delta",
        col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(0L)))
      .select(col("term"),
        expr("(length(bin(delta)) + 6) div 7").cast("long").as("vbytes"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("vbytes")).as("varint_bytes"))
      .select(col("term"), col("df"), (col("df") * 8L).as("raw_bytes"),
        col("varint_bytes"),
        expr("(df * 8 - varint_bytes) * 1000000 div (df * 8)")
          .as("savings_ppm"))
      .orderBy("term")
  }

  /** q289 knobs: list depth and RBO persistence (Webber's p). */
  val RboDepth = 10
  val RboP = 0.9
  /** Per-depth RBO weights (1−p)·p^(i−1)/i scaled to nano — computed
    * once and INJECTED into both engines as identical double
    * literals (the PoissonCdf28 pattern). */
  val RboWeightsNano: Seq[Double] =
    (1 to RboDepth).map(i => (1.0 - RboP) * math.pow(RboP, i - 1) / i * 1e9)

  /** q289_rbo — rank-biased overlap (Webber, Moffat & Zobel 2010)
    * between the BM25 and TF-IDF rankings of each query term: RBO@10
    * with p = 0.9 — the top-weighted ranking-agreement measure built
    * for indefinite rankings (Kendall/Spearman need conjoint lists;
    * retrieval rankings aren't), answering "does BM25's length
    * normalization actually change what we'd serve" per term — the
    * measurement behind choosing between the q75 and q34 scorers
    * (and the metric a ranker migration gates on: RBO ≈ 1 means the
    * swap is invisible to users).
    *
    * Determinism: both scores rank on the floor-6dp integer grid
    * (q75's convention) with doc-id ties; depth weights are
    * precomputed double literals identical in both engines; per-depth
    * terms floor to nano before the integer sum.
    *
    * Scale shape: candidates per term are its posting rows (df-
    * bounded); both top-10s use the map-side bounded `top_k_by_score`
    * aggregate (no window over posting lists); the overlap table is
    * ≤ terms·10² rows; output |terms| rows. */
  def rbo(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(T.alphaTokens(col("text"))).as("term"))
    val dl = terms.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = terms.filter(col("term").isin(Bm25Query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dl, "doc_id")
      .join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"),
        floor(log(((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
          + 1.0)
          * (col("tf") * lit(Bm25K1 + 1.0))
          / (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B)
            + lit(Bm25B) * col("dl") / col("avgdl"))) * lit(1e6))
          .as("s_bm25"),
        floor(col("tf") * log(col("n_docs") / col("df")) * lit(1e6))
          .as("s_tfidf"))
      .localCheckpoint()
    def top(score: String): DataFrame = scored
      .groupBy(col("term"))
      .agg(org.apache.spark.sql.graft.native.topKByScore(
        col(score).cast("double"), col("doc_id"), RboDepth).as("t"))
      .select(col("term"), posexplode(col("t")).as(Seq("r0", "e")))
      .select(col("term"), col("e")("id").as("doc_id"),
        (col("r0") + 1).cast("long").as("rnk"))
    val pairs = top("s_bm25").withColumnRenamed("rnk", "ra")
      .join(top("s_tfidf").withColumnRenamed("rnk", "rb"),
        Seq("term", "doc_id"))
      .select(col("term"), greatest(col("ra"), col("rb")).as("m"))
    val spine = df_.select(col("term"))
      .crossJoin(spark.range(1, RboDepth + 1).select(col("id").as("i")))
    val ov = spine.join(
        pairs.select(col("term"),
          explode(sequence(col("m"), lit(RboDepth.toLong))).as("i"))
          .groupBy(col("term"), col("i")).agg(count(lit(1)).as("ov")),
        Seq("term", "i"), "left")
      .select(col("term"), col("i"), coalesce(col("ov"), lit(0L)).as("ov"))
    val weights = spark.createDataFrame(
      RboWeightsNano.zipWithIndex.map { case (w, i) => (i + 1L, w) })
      .toDF("i", "w")
    ov.join(broadcast(weights), "i")
      .select(col("term"),
        when(col("i") === RboDepth, col("ov")).otherwise(lit(0L))
          .as("ov10"),
        floor(col("ov") * col("w")).cast("long").as("t"))
      .groupBy(col("term"))
      .agg(max(col("ov10")).as("overlap_at_10"), sum(col("t")).as("rbo_nano"))
      .orderBy("term")
  }

  /** q271 knobs: query selection stride, needle geometry. */
  val SubstrQueryMod = 97L
  val SubstrNeedleStart = 11
  val SubstrNeedleLen = 12
  val SubstrGramLen = 6

  /** q271_substring_index — Rabin-Karp substring search over a
    * positional q-gram HASH index (Karp & Rabin 1987; Navarro &
    * Baeza-Yates' q-gram filtration): every doc whose id ≡ 0 mod
    * [[SubstrQueryMod]] queries with a [[SubstrNeedleLen]]-char slice
    * of its own text; the index is the native O(n) `rolling_hash`
    * stream ([[SubstrGramLen]]-byte windows, ONE codegen'd linear
    * pass emitting 8-byte keys — round-14 perf fix: per-position
    * `substring` seeks from the string head, an O(len²) pass that
    * also dragged the full text through the explode, measured 3× the
    * hash form); candidates must carry the needle's BOTH gram hashes
    * at a CONSISTENT start (pos − offset equal), then the classic
    * Rabin-Karp verification confirms each candidate start with ONE
    * length-12 substring compare — exactness restored at the cost of
    * |candidates|, not |corpus|. q96's phrase search is
    * token-positional; this is the character-level sibling that finds
    * matches crossing token boundaries (code search, DNA-style data,
    * no-whitespace CJK).
    *
    * Scale shape: the hash fan-out is scan-side (8-byte rows) and
    * immediately filtered by a BROADCAST join on the tiny needle-hash
    * set — the fan-out never crosses an exchange; the one shuffle
    * carries matching hash rows keyed (query, doc, start); the verify
    * joins text/needle back onto the BOUNDED candidate rows only.
    * Self-matches prove recall (every query finds its own doc at
    * [[SubstrNeedleStart]]). */
  def substringIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val needles = docs
      .filter(col("doc_id") % lit(SubstrQueryMod) === 0L
        && col("n_chars") >= lit(30L))
      .select(col("doc_id").as("query_id"),
        expr(s"substring(text, $SubstrNeedleStart, $SubstrNeedleLen)")
          .as("needle"))
      .localCheckpoint()
    val nh = org.apache.spark.sql.graft.native
      .rollingHash(col("needle"), SubstrGramLen)
    val qGrams = needles.select(col("query_id"),
      explode(array(
        struct(element_at(nh, 1).as("h"), lit(0L).as("goff")),
        struct(element_at(nh, SubstrGramLen + 1).as("h"),
          lit(SubstrGramLen.toLong).as("goff")))).as("g"))
      .select(col("query_id"), col("g.h").as("h"), col("g.goff").as("goff"))
    val positions = docs
      .select(col("doc_id"),
        posexplode_outer(org.apache.spark.sql.graft.native
          .rollingHash(col("text"), SubstrGramLen)).as(Seq("p0", "h")))
      .filter(col("h").isNotNull)
      .select(col("doc_id"), col("h"), (col("p0") + lit(1)).cast("long").as("pos"))
    val cand = positions.join(broadcast(qGrams), "h")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("goff")).as("start"), col("goff"))
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(countDistinct(col("goff")).as("ng"))
      .filter(col("ng") === 2L && col("start") >= 1L)
    // Rabin-Karp verify: one substring compare per CANDIDATE row
    val verified = cand
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .join(broadcast(needles), "query_id")
      .filter(expr(s"substring(text, start, $SubstrNeedleLen) = needle"))
    verified.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("query_id"), col("doc_id"), col("n_occurrences"),
        (col("query_id") === col("doc_id")).as("is_self"))
      .orderBy("query_id", "doc_id")
  }

  /** This module's graded queries, name → build; `SparkEntry.queries`
    * collects them. */
  private[graft] val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q72_inverted_index"  -> (invertedIndex _),
    "q75_bm25"            -> (bm25 _),
    "q96_phrase_search"   -> (phraseSearch _),
    "q121_rrf_fusion"     -> (rrfFusion _),
    "q171_sparse_cosine"  -> (sparseCosine _),
    "q206_context_pack"   -> (contextPack _),
    "q207_autocomplete"   -> (autocomplete _),
    "q215_kwic_snippets"  -> (kwicSnippets _),
    "q244_bm25_eval"      -> (bm25Eval _),
    "q251_postings_compression" -> (postingsCompression _),
    "q271_substring_index" -> (substringIndex _),
    "q289_rbo"            -> (rbo _),
    "q324_bm25_grid"      -> (bm25Grid _)
  )
}
