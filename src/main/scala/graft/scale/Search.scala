package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Let
import graft.sources.Tables

/** Corpus search & n-gram statistics for a training-data pipeline:
  * inverted-index construction, BM25 keyword ranking, corpus n-gram
  * frequency, and C4-style duplicated-span removal (the reference's
  * keyword filtering over scraped text — e.g. injury/status term scans in
  * src/analytics/engine.py and the scrapers' text matching — generalized
  * to ranked retrieval at corpus scale).
  *
  * Scale design: everything is one wide scan of `documents` plus
  * key-bounded aggregations. Term statistics shuffle on the term (vocab,
  * not corpus, cardinality); BM25 scoring is per-document arithmetic with
  * a one-row broadcast of global stats — no explode, no join against the
  * corpus; span dedup shuffles on the span hash exactly once.
  */
object Search {

  /** Tokens column (whitespace corpus convention, same as TextAnalysis). */
  private def toks(text: Column): Column = split(text, " ")

  // ---------------------------------------------------------------------
  // Inverted index
  // ---------------------------------------------------------------------

  /** Inverted index over the documents table: one row per term with
    * document frequency and the sorted posting list.
    *
    * The array-valued postings column is an EXPORT shape (small vocab /
    * top-of-index use). At 100 TB the index stays relational — the
    * (term, doc_id, tf) rows of [[termFrequencies]] ARE the index, range-
    * partitioned by term; collecting a posting list into one array row is
    * only sane when the list is bounded. */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))

  /** Relational index core: (term, doc_id, tf) — the scalable shape. */
  def termFrequencies(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** q_inverted_index: index over the corpus, ordered by term.
    *
    * Oracle-facing shape: the posting list is emitted as a scalar CSV
    * witness (`postings_csv`) rather than the array column — array cells
    * are not comparable by the cross-engine hash harness. The array-valued
    * [[invertedIndex]] remains the library export shape. */
  def invertedIndexQuery(spark: SparkSession, dir: String): DataFrame =
    invertedIndex(Tables.documents(spark, dir))
      .select(col("term"), col("df"),
        array_join(transform(col("postings"), d => d.cast("string")), ",")
          .as("postings_csv"))
      .orderBy("term")

  /** Incremental index maintenance: fold a document batch into an
    * existing (term, doc_id, tf) index. Re-ingesting a document
    * REPLACES its postings wholesale: an anti-join on doc_id retires
    * every old posting of the batch's documents (including terms the
    * new version no longer contains — per-(term,doc_id) upsert à la
    * [[graft.operators.Merge.upsertLatest]] could not retire those),
    * then the fresh postings union in. Incremental maintenance is
    * therefore CONVERGENT: the result equals rebuilding from scratch
    * over the final corpus state.
    *
    * Scale shape: the delta is batch-sized, the current index is
    * corpus-sized; both shuffles key on (term, doc_id) — in production
    * the index table is bucketed by term so the big side never
    * re-shuffles. This is the streaming-ingestion path of the search
    * family ([[graft.streaming.StreamDedup]] gates novelty upstream).
    */
  def indexUpsert(current: DataFrame, docsBatch: DataFrame): DataFrame = {
    val delta = termFrequencies(docsBatch)
    val batchDocs = docsBatch.select(col("doc_id")).distinct()
    // retire stale postings of re-ingested docs (terms dropped by edits)
    val retained = current
      .join(batchDocs, Seq("doc_id"), "left_anti")
    retained.unionByName(delta).select("term", "doc_id", "tf")
  }

  // ---------------------------------------------------------------------
  // BM25
  // ---------------------------------------------------------------------

  /** BM25 parameters (standard Robertson defaults). */
  val K1 = 1.2
  val B = 0.75

  /** BM25 ranking of the corpus for a fixed term set.
    *
    * Engine-portability choices (oracle = DuckDB must hash-match):
    *  - log-free idf: `(N − df + 0.5)/(df + 0.5)` — the classic BM25 idf
    *    without the `ln` wrap. `ln` is not IEEE-correctly-rounded and may
    *    differ in the last ulp across libm implementations; the rational
    *    form is division-only (correctly rounded). `ln` is monotone, so
    *    SINGLE-term rankings are identical to log-idf BM25; for
    *    multi-term queries the SUM of rational idfs can order documents
    *    differently from the sum of log idfs (monotone per addend is not
    *    monotone for the sum) — the engine DEFINES its score as the
    *    rational-idf sum, and the oracle pins exactly that definition
    *    (third-sourced in ThirdSourceSpec and recompute_text.py).
    *  - per-term scores are computed per document with `filter` HOF counts
    *    (no explode/shuffle), then summed in FIXED textual order
    *    (s0 + s1 + …): FP addition is order-sensitive, so both engines
    *    evaluate the identical expression tree.
    *  - the final score is rounded to 6 decimals (same guard as
    *    q_knn_cosine).
    *
    * Scale shape: one scan of documents computing per-doc tf via HOFs;
    * global stats (N, Σdl, per-term df) are ONE aggregate row broadcast
    * back; top-k is TakeOrderedAndProject. Zero wide shuffles.
    */
  def bm25(docs: DataFrame, terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(toks(col("text")), x => x === lit(t))).cast("long").as(s"tf_$i")
    }
    val base = docs.select(
      (col("doc_id") +: size(toks(col("text"))).cast("long").as("dl") +: tfCols): _*)

    val statAggs =
      count(lit(1)).as("n") +: sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)

    val scored = base.crossJoin(broadcast(stats))
    val avgdl = col("sum_dl").cast("double") / col("n").cast("double")
    def termScore(i: Int): Column = {
      val tf = col(s"tf_$i").cast("double")
      val idf = (col("n").cast("double") - col(s"df_$i").cast("double") + lit(0.5)) /
        (col(s"df_$i").cast("double") + lit(0.5))
      val denom = tf + lit(K1) * (lit(1.0) - lit(B) + lit(B) * (col("dl").cast("double") / avgdl))
      when(col(s"tf_$i") > 0, idf * (tf * lit(K1 + 1.0)) / denom).otherwise(lit(0.0))
    }
    val total = terms.indices.map(termScore).reduce(_ + _)
    scored
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(total, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Default query terms for the oracle entry (present in the synthetic
    * vocab at every SF). */
  val DefaultTerms: Seq[String] = Seq("spark", "window", "hash")

  /** q_bm25: top-20 documents for [[DefaultTerms]]. */
  def bm25Query(spark: SparkSession, dir: String): DataFrame =
    bm25(Tables.documents(spark, dir), DefaultTerms)

  /** Reciprocal-rank fusion of the lexical and semantic rankings
    * (q_rrf): BM25 top-50 for [[DefaultTerms]] fused with the
    * cosine top-50 around query vector 0 by RRF(d) = Σ 1/(60 + rank) —
    * the standard hybrid-retrieval merge (rank-based, so the two
    * incomparable score scales never touch). A RAG stack runs exactly
    * this between its keyword index and its vector index.
    *
    * Both input rankings are already engine-deterministic (rounded
    * scores, id tiebreaks); ranks are row_numbers over the two 50-row
    * frames (bounded); each RRF term is one division and the sum is a
    * fixed two-term tree, so the fused ordering replays exactly. Scale
    * shape: the two top-50s are TakeOrderedAndProject over one corpus
    * scan each; the fusion join touches ≤ 100 rows. */
  def rrfQuery(spark: SparkSession, dir: String,
               kRrf: Int = 60, topIn: Int = 50, topOut: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25(Tables.documents(spark, dir), DefaultTerms, topIn)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc,
          col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    val sem = Similarity.knnBruteForce(spark, dir, 0L, topIn)
      .withColumn("r_sem",
        row_number().over(Window.orderBy(col("cos_sim").desc,
          col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_sem"))
    lex.join(sem, Seq("doc_id"), "outer")
      .select(col("doc_id"), col("r_lex"), col("r_sem"),
        (coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_lex").cast("double")),
          lit(0.0)) +
         coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_sem").cast("double")),
          lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topOut)
  }

  // ---------------------------------------------------------------------
  // N-gram frequency
  // ---------------------------------------------------------------------

  /** Corpus n-gram counts (with multiplicity — unlike [[Dedup.shingles]]
    * these are frequency statistics, not set signatures). Top-k by count
    * with a deterministic tiebreak.
    *
    * Guarded explicitly for docs shorter than n tokens: Spark's
    * `sequence(1, 0)` infers a NEGATIVE step and yields [1, 0] rather
    * than an empty range, so short docs must short-circuit to an empty
    * array before `sequence` is evaluated. */
  def ngramCounts(docs: DataFrame, n: Int = 2): DataFrame = {
    // Let-bound: the gram lambda referencing a bare split would re-split
    // the text once per gram position (see graft.functions.Let).
    val grams = Let.bind(toks(col("text")))(t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
    docs
      .select(explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))
  }

  /** q_top_ngrams: 50 most frequent bigrams. TakeOrderedAndProject over
    * a vocab²-bounded aggregate — the shuffle key is the n-gram, never
    * the corpus row. */
  def topNgrams(spark: SparkSession, dir: String,
                n: Int = 2, k: Int = 50): DataFrame =
    ngramCounts(Tables.documents(spark, dir), n)
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)

  // ---------------------------------------------------------------------
  // Duplicated-span removal (C4-style)
  // ---------------------------------------------------------------------

  /** Span width (tokens) for duplicated-span removal. */
  val SpanTokens = 10

  /** C4-style duplicated-span removal: cut every document into
    * consecutive [[SpanTokens]]-token spans, keep only the globally FIRST
    * occurrence of each span text (ordered by doc_id, then span index),
    * and reassemble each document from its surviving spans.
    *
    * This is the cross-document boilerplate scrub of a web-corpus
    * pipeline (C4 §2.2 removes repeated ≥3-sentence spans; the corpus
    * here has no sentence punctuation, so fixed token windows stand in
    * for sentences).
    *
    * Output per document: total spans, spans kept, and the md5 of the
    * reassembled text (the cleaned text itself is reassembled in the
    * aggregation; only its fingerprint is emitted so the result stays
    * slim — at 100 TB the fingerprint is what routes to the rewrite job).
    *
    * Scale shape: narrow span explode (fan-out = n_tokens/10), ONE
    * shuffle on the span text for the global first occurrence, one
    * groupBy doc_id to reassemble. No self-join, no O(n²). The first
    * occurrence is an argmin AGGREGATE (`min(struct(doc_id, span_idx))`
    * — partial-combining, so a boilerplate span duplicated across
    * millions of documents collapses map-side), NOT a ranked window,
    * which would funnel each hot span's every instance through one
    * partition — and the skew is exactly where the duplicates are.
    */
  def spanDedup(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val spans = docs
      .select(col("doc_id"), t.as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), floor((size(col("toks")) - 1) / lit(SpanTokens)).cast("long")))
          .as("span_idx"),
        col("toks"))
      .select(col("doc_id"), col("span_idx"),
        concat_ws(" ",
          slice(col("toks"), (col("span_idx") * SpanTokens + 1).cast("int"), lit(SpanTokens)))
          .as("span"))

    val firstWins = spans
      .groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.span_idx").as("span_idx"), col("span"))

    val totals = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val kept = firstWins
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
            s => s.getField("span"))).as("clean_text"))

    totals.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"))
  }

  /** q_span_dedup over the documents table, ordered by doc_id. */
  def spanDedupQuery(spark: SparkSession, dir: String): DataFrame =
    spanDedup(Tables.documents(spark, dir)).orderBy("doc_id")

  // ---------------------------------------------------------------------
  // Vocabulary construction
  // ---------------------------------------------------------------------

  /** Frequency-ranked vocabulary over unigrams + bigrams — the "count,
    * cut, rank, assign contiguous ids" job that precedes any tokenizer /
    * embedding-table build (BPE merges operate on exactly this table).
    *
    * Ids are assigned by (count desc, gram asc) — a unique total order —
    * via [[graft.operators.Ranking.distributedGlobalRank]]: a naive
    * `row_number().over(Window.orderBy(...))` funnels the whole vocab
    * through ONE partition; the distributed rank is a range sort plus a
    * parts-sized offset broadcast, so it survives a 1B-entry vocab (the
    * n-gram vocab BEFORE the min-count cut is corpus-sized — the cut
    * happens upstream of the rank precisely so the expensive path is the
    * cheap aggregate, not the sort).
    */
  def vocabBuild(docs: DataFrame, minCount: Long = 2L): DataFrame = {
    val t = toks(col("text"))
    // Let-bound for the same reason as ngramCounts.
    val bigrams = Let.bind(t)(ts =>
      when(size(ts) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(ts) - 1),
          i => concat_ws(" ", slice(ts, i, lit(2))))))
    val grams = docs.select(explode(t).as("gram"), lit(1L).as("n"))
      .unionByName(docs.select(explode(bigrams).as("gram"), lit(2L).as("n")))
    val counted = grams
      .groupBy("gram", "n").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    graft.operators.Ranking
      .distributedGlobalRank(counted,
        Seq(col("cnt").desc, col("gram").asc), rankCol = "token_id", nCol = "__vocab")
      .select(col("token_id"), col("gram"), col("n"), col("cnt"))
  }

  /** q_vocab over the documents table, ordered by token id. */
  def vocabQuery(spark: SparkSession, dir: String): DataFrame =
    vocabBuild(Tables.documents(spark, dir)).orderBy("token_id")

  // ---------------------------------------------------------------------
  // Collocation mining (PMI-shaped)
  // ---------------------------------------------------------------------

  /** PMI-shaped collocation mining (q_pmi): rank adjacent word pairs by
    * association strength score = c_xy·N / (c_x·c_y) — the monotone
    * argument of pointwise mutual information (log omitted: log is not
    * IEEE-portable across engines and is order-preserving, so the ranking
    * is identical). High score = the pair co-occurs far more than its
    * parts' frequencies predict — the phrase-detection pass (word2vec
    * §4's phrase step) every corpus pipeline runs before tokenization.
    *
    * Exactness: all counts are exact longs; the products stay well under
    * 2^63 (c_xy ≤ N, and c_xy·N at 10×-sf0.1 is ~1e11); score is one
    * cast-and-divide of exact integers — a single IEEE op both engines
    * perform identically. minCount kills the unstable low-frequency tail
    * (classic PMI pathology: hapax pairs score highest).
    *
    * Scale shape: two token-keyed aggregates (vocab cardinality, map-side
    * combining), one bigram→unigram join per side keyed on the token, a
    * one-row broadcast for N, TakeOrderedAndProject top-k. The corpus is
    * scanned twice (unigrams + bigrams) and never self-joined. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 100): DataFrame = {
    // The unigram table feeds THREE consumers (N, the w1 join, the w2
    // join) — materialize once or the corpus tokenize+agg re-runs per
    // plan branch.
    val uni = Silver.scratch(ngramCounts(docs, 1), "pmi_uni") // (ngram, cnt)
    val nTotal = uni.agg(sum(col("cnt")).as("n_total"))
    val bi = ngramCounts(docs, 2)
      .filter(col("cnt") >= minCount)
      .select(col("ngram").as("bigram"), col("cnt").as("c_xy"),
        split(col("ngram"), " ").getItem(0).as("w1"),
        split(col("ngram"), " ").getItem(1).as("w2"))
    bi
      .join(uni.select(col("ngram").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .join(uni.select(col("ngram").as("w2"), col("cnt").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .withColumn("score",
        (col("c_xy") * col("n_total")).cast("double") /
          (col("c1") * col("c2")).cast("double"))
      .select("bigram", "c_xy", "c1", "c2", "score")
      .orderBy(col("score").desc, col("bigram").asc)
      .limit(topK)
  }

  /** q_pmi over the documents table. */
  def pmiQuery(spark: SparkSession, dir: String): DataFrame =
    pmiCollocations(Tables.documents(spark, dir))

  // ---------------------------------------------------------------------
  // Vocabulary coverage / OOV rate
  // ---------------------------------------------------------------------

  /** Per-document out-of-vocabulary rate (q_oov) against the corpus-built
    * unigram vocabulary (tokens seen ≥ minCount times corpus-wide) — the
    * tokenizer-coverage report run before committing to a vocab: docs
    * with high OOV mass are either foreign, noisy, or evidence the vocab
    * cut is too aggressive.
    *
    * Scale shape: term frequencies shuffle on the token; vocab membership
    * is a token-keyed left join of two token-keyed frames (co-partitioned
    * by the same key — AQE may broadcast the vocab side when small); the
    * per-doc rollup shuffles on doc_id. `oov_rate` is one IEEE division
    * of exact longs. */
  def oovRate(docs: DataFrame, minCount: Long = 3L): DataFrame = {
    // tf feeds both the vocab cut and the membership join — materialize.
    val tf = Silver.scratch(termFrequencies(docs), "oov_tf") // (term, doc_id, tf)
    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("c"))
      .filter(col("c") >= minCount).select(col("term"), lit(1).as("in_vocab"))
    tf.join(vocab, Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
  }

  /** q_oov over the documents table, ordered by doc_id. */
  def oovQuery(spark: SparkSession, dir: String): DataFrame =
    oovRate(Tables.documents(spark, dir)).orderBy("doc_id")

  // ---------------------------------------------------------------------
  // TF-IDF keyword extraction
  // ---------------------------------------------------------------------

  /** Per-document top-k keywords by tf-idf (q_tfidf) — the keyword-
    * extraction pass behind document tagging and related-content joins.
    * Like [[bm25]], the idf is the RATIONAL form N/df rather than
    * log(N/df): log is not IEEE-portable across engines; the rational
    * form keeps score = tf·N/df a single cast-and-divide of exact longs.
    * (Unlike a per-term monotone rescale this does reweight tf against
    * df cross-term — the rational variant is its own documented scoring
    * function, not a claim of log-tf-idf ordering.)
    *
    * Scale shape: term frequencies and document frequencies shuffle on
    * the token; N is a one-row broadcast; the per-doc top-k executes
    * through the custom [[graft.plans.TopKPerKey]] operator — map-side
    * bounded heaps below the exchange, so the shuffle carries at most
    * k rows per (partition, doc), never the full posting mass. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    // tf feeds both the df aggregate and the scoring join — materialize.
    val tf = Silver.scratch(termFrequencies(docs), "tfidf_tf")
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .select("doc_id", "term", "tf", "df", "score")
    graft.plans.TopKPerKey(scored, k,
      keys = Seq(col("doc_id")),
      order = Seq(col("score").desc, col("term").asc))
  }

  /** q_tfidf over the documents table. */
  def tfidfQuery(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(Tables.documents(spark, dir)).orderBy("doc_id", "term")

  // ---------------------------------------------------------------------
  // Zipf coverage curve
  // ---------------------------------------------------------------------

  /** Vocabulary coverage curve (q_coverage): what fraction of all token
    * OCCURRENCES the top-N types cover, at N ∈ {100, 1000, 10000} — the
    * Zipf curve every vocab-size decision reads ("a 10k vocab covers
    * 97%"). Frequency ranks come from the two-pass
    * [[graft.operators.Ranking.distributedGlobalRank]] (no single-
    * partition window over the vocab); coverage at each cutoff is one
    * conditional aggregate over the ranked type table, with the corpus
    * total as a one-row broadcast. `share` is the single IEEE division. */
  def coverageCurve(docs: DataFrame,
                    cutoffs: Seq[Long] = Seq(100L, 1000L, 10000L)): DataFrame = {
    val counted = docs.select(explode(toks(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.Ranking.distributedGlobalRank(
      counted, Seq(col("cnt").desc, col("tok").asc),
      rankCol = "rnk", nCol = "__n")
    val total = ranked.agg(sum(col("cnt")).as("total"))
    val cuts = docs.sparkSession
      .createDataFrame(cutoffs.map(Tuple1(_))).toDF("cutoff")
    ranked.crossJoin(broadcast(cuts))
      .groupBy("cutoff")
      .agg(sum(when(col("rnk") <= col("cutoff"), col("cnt"))
        .otherwise(lit(0L))).as("covered"))
      .crossJoin(broadcast(total))
      .withColumn("share", col("covered").cast("double") / col("total"))
      .select("cutoff", "covered", "share")
      .orderBy("cutoff")
  }

  /** q_coverage over the documents table. */
  def coverageQuery(spark: SparkSession, dir: String): DataFrame =
    coverageCurve(Tables.documents(spark, dir))

  // ---------------------------------------------------------------------
  // Keyness (distinctive vocabulary)
  // ---------------------------------------------------------------------

  /** Distinctive-vocabulary ranking (q_keyness): which tokens are
    * characteristic of the English slice vs the rest of the corpus —
    * corpus-comparison "keyness", scored as smoothed relative risk
    * score = a·(N_rest+1) / ((b+1)·N_en) (a,b = token counts in each
    * slice, N = slice token totals). The log-likelihood G² the
    * literature uses needs log (not IEEE-portable); relative risk keeps
    * every product an exact long and the score a single cast-and-divide,
    * and the +1 smoothing keeps slice-exclusive tokens finite. Minimum
    * combined count 20 kills the hapax tail.
    *
    * Scale shape: two token-keyed aggregates via one conditional pass,
    * one-row broadcast totals, TakeOrderedAndProject top-k. */
  def keyness(docs: DataFrame, minCount: Long = 20L, topK: Int = 50): DataFrame = {
    val tok = Silver.scratch(
      docs.select((col("lang") === "en").as("is_en"),
        explode(toks(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(sum(when(col("is_en"), 1L).otherwise(0L)).as("a"),
          sum(when(col("is_en"), 0L).otherwise(1L)).as("b")),
      "keyness_tok") // feeds the totals and the scoring
    val totals = tok.agg(sum(col("a")).as("n_en"), sum(col("b")).as("n_rest"))
    tok.filter(col("a") + col("b") >= minCount)
      .crossJoin(broadcast(totals))
      .withColumn("score",
        (col("a") * (col("n_rest") + 1)).cast("double") /
          ((col("b") + 1) * col("n_en")).cast("double"))
      .select("tok", "a", "b", "score")
      .orderBy(col("score").desc, col("tok").asc)
      .limit(topK)
  }

  /** q_keyness over the documents table. */
  def keynessQuery(spark: SparkSession, dir: String): DataFrame =
    keyness(Tables.documents(spark, dir))

  /** Vocabulary growth curve (q_heaps): distinct-token count after each
    * decile of the corpus in doc order — the Heaps'-law measurement that
    * sizes tokenizer vocab and predicts how much new text still adds new
    * types. The quadratic "recount per prefix" is avoided the adoption-
    * curve way: each TYPE collapses to the rank of its first containing
    * doc (one min-aggregate over the exploded tokens joined to the doc
    * rank), per-rank first-occurrence counts accumulate via
    * [[graft.operators.Ranking.distributedCumSum]], and the ten decile
    * readings are conditional aggregates over that doc-bounded frame. */
  def heapsCurve(spark: SparkSession, dir: String,
                 deciles: Int = 10): DataFrame = {
    import graft.operators.Ranking
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val ranked = Silver.scratch(
      Ranking.distributedGlobalRank(docs.select(col("doc_id")),
        Seq(col("doc_id").asc), rankCol = "r", nCol = "n"),
      "heaps_rank") // joined against the exploded tokens AND the totals
    val firstRank = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(ranked, "doc_id")
      .groupBy("tok").agg(min(col("r")).as("fr"))
    val perRank = firstRank.groupBy("fr").agg(count(lit(1)).as("c"))
    val cum = Ranking.distributedCumSum(perRank, Seq(col("fr").asc), Seq("c"))
    val tot = ranked.agg(max(col("n")).as("n_docs"))
    val readings = (1 to deciles).map { i =>
      max(when(col("fr") <= expr(s"($i * n_docs + ${deciles - 1}) div $deciles"),
        col("cum_c"))).as(s"v$i")
    }
    val wide = cum.crossJoin(broadcast(tot))
      .agg(first(col("n_docs")).as("n_docs"), readings: _*)
    // unpivot the ten readings into (decile, docs_cutoff, vocab_size)
    val stackArgs = (1 to deciles).map { i =>
      s"${i}L, ($i * n_docs + ${deciles - 1}) div $deciles, coalesce(v$i, 0L)"
    }.mkString(", ")
    wide.selectExpr(
      s"stack($deciles, $stackArgs) as (decile, docs_cutoff, vocab_size)")
      .orderBy("decile")
  }

  /** Rank-biased overlap, p = 1/2, k = 10 (q_rbo): how similar are two
    * top-k rankings — here the top-10 revenue parts of the first vs
    * second half of the order history (the "did the leaderboard
    * actually change?" metric for search/recs regression testing,
    * top-weighted where plain set overlap is not).
    *
    * RBO(1/2) = Σ_{d=1..k} 2⁻ᵈ·ov_d/d (truncated form). With k = 10
    * every term times 2¹⁰·2520 (lcm(1..10)) is an EXACT integer —
    * 2520/d divides evenly for all d ≤ 10 — so the sum accumulates as
    * longs in any order and ONE terminal division by 2 580 480 emits
    * the float. Per-half top-10s come from TakeOrderedAndProject (never
    * a full sort); ranks within each 10-row result use the counting
    * self-join (the q_movers device — no window anywhere); overlaps at
    * every depth come from a 10-row depth spine vs the ≤10-row common
    * frame. Everything after the two fact aggregates is constant-size. */
  def rboQuery(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
          .as("day"))
    val bounds = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val perHalf = Silver.scratch(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long").as("v"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .crossJoin(broadcast(bounds))
        .withColumn("half",
          when(col("day") * 2 <= col("d0") + col("d1"), lit("h1"))
            .otherwise(lit("h2")))
        .groupBy(col("l_partkey").as("part"), col("half"))
        .agg(sum(col("v")).as("rev")),
      "rbo_halves") // feeds both per-half top-k selections
    def rankedTop(h: String): DataFrame = {
      val t = perHalf.filter(col("half") === h).select(col("part"), col("rev"))
        .orderBy(col("rev").desc, col("part").asc).limit(k)
      t.as("a").join(broadcast(t.as("b")),
          col("b.rev") > col("a.rev") ||
            (col("b.rev") === col("a.rev") && col("b.part") < col("a.part")),
          "left")
        .groupBy(col("a.part").as("part"))
        .agg((count(col("b.part")) + 1).as("r"))
    }
    val common = rankedTop("h1").select(col("part"), col("r").as("ra"))
      .join(rankedTop("h2").select(col("part"), col("r").as("rb")), "part")
      .select(col("part"), greatest(col("ra"), col("rb")).as("dmin"))
    val spine = spark.range(1, k + 1).select(col("id").as("d"))
    val ov = spine.join(broadcast(common), col("dmin") <= col("d"), "left")
      .groupBy("d").agg(count(col("part")).as("ov"))
    ov.select(col("d"), col("ov"),
        expr("(2520 div d) * shiftleft(1L, cast(10 - d as int)) * ov")
          .as("term"))
      .agg(sum(col("term")).as("rbo_scaled"),
        max(when(col("d") === k.toLong, col("ov"))).as("overlap_at_k"))
      .select(lit(k.toLong).as("k"), col("overlap_at_k"), col("rbo_scaled"),
        (col("rbo_scaled").cast("double") / lit(2580480.0)).as("rbo"))
  }

  // ---------------------------------------------------------------------
  // TextRank keyword extraction
  // ---------------------------------------------------------------------

  /** TextRank keyword extraction (q_textrank): Mihalcea & Tarau's
    * graph-based keyword ranker — PageRank over the word-adjacency
    * graph (an undirected edge per DISTINCT adjacent token pair in the
    * corpus) — the unsupervised keyword pass of a corpus curation
    * pipeline (contrast [[pmiCollocations]], which scores PAIRS by
    * association; TextRank scores single terms by graph centrality:
    * a term matters when it neighbors other terms that matter).
    *
    * Reuses [[graft.operators.PageRank.pagerank]] verbatim — the
    * integer-quantized power iteration is node-type-generic (string
    * word nodes here, long entity keys there), so the engine-portable
    * arithmetic and the per-iteration lineage cuts come for free.
    *
    * Scale shape: one corpus tokenize into distinct adjacent pairs
    * (vocab²-bounded, map-side combining), then `iters` edge-keyed
    * shuffle joins — the graph is vocab-sized, never corpus-sized.
    * Self-loops are dropped (w→w from stuttered text would let a term
    * vote for itself). */
  def textrankQuery(spark: SparkSession, dir: String,
                    iters: Int = 3, topK: Int = 30): DataFrame = {
    val pairs = ngramCounts(Tables.documents(spark, dir), 2)
      .select(split(col("ngram"), " ").getItem(0).as("w1"),
        split(col("ngram"), " ").getItem(1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .distinct()
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .unionAll(pairs.select(col("w2").as("src"), col("w1").as("dst")))
    graft.operators.PageRank.pagerank(edges, iters = iters)
      .select(col("node").as("term"), col("rank"))
      .orderBy(col("rank").desc, col("term").asc)
      .limit(topK)
  }

  // ---------------------------------------------------------------------
  // Positional index / phrase search
  // ---------------------------------------------------------------------

  /** Phrase search through a POSITIONAL index (q_phrase_search): find
    * every occurrence of the corpus' top bigram by joining the
    * (term, doc, position) index against itself on (doc, pos+1) — the
    * mechanism behind quoted-phrase queries, which the docfreq-only
    * [[invertedIndex]] cannot answer. The result is SELF-WITNESSING:
    * the positional join's total must equal the plain n-gram counter's
    * count for the same bigram — two completely different plans, one
    * number.
    *
    * Scale shape: the positional index is one tokenize pass shuffled by
    * term (exactly the inverted-index build); the phrase join touches
    * only the two terms' posting rows (term-selective), never the
    * corpus. */
  def phraseSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val phrase = ngramCounts(docs, 2)
      .orderBy(col("cnt").desc, col("ngram").asc).limit(1)
      .select(col("ngram").as("phrase"), col("cnt").as("witness_count"))
    val pos = Silver.scratch(
      docs.select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "term"))),
      "ph_pos") // the positional index: feeds both phrase-term probes
    val p = pos.crossJoin(broadcast(phrase))
      .filter(col("term") === split(col("phrase"), " ").getItem(0))
      .select(col("doc_id"), col("pos"), col("phrase"), col("witness_count"))
    // the true-size index is over the broadcast threshold at sf0.1, but
    // sort-merging it measured 2.2× slower than broadcasting it
    val bc = Pregel.broadcastState(spark, Silver.rows(pos))
    val matches = p.join(
        Pregel.state(pos.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("term").as("t2")), bc),
        Seq("doc_id", "pos"))
      .filter(col("t2") === split(col("phrase"), " ").getItem(1))
    matches.groupBy(col("phrase"), col("witness_count"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_occurrences"))
      .select(col("phrase"), col("n_docs"), col("total_occurrences"),
        col("witness_count"),
        (col("total_occurrences") === col("witness_count")).as("index_exact"))
  }

  /** Vocabulary coverage curve (q_vocab_coverage): for each power-of-two
    * vocabulary budget k, the share of corpus TOKEN MASS the top-k types
    * cover — the table a tokenizer-size decision reads (Zipf corpora
    * saturate fast: the elbow of this curve IS the economic vocab size,
    * and the residual 1 − coverage is the OOV mass a k-type vocab eats
    * as <unk>).
    *
    * Types are ranked by the unique (count desc, token asc) order via
    * the distributed two-pass rank; cumulative mass by ONE
    * [[graft.operators.Ranking.distributedCumSum]] over the same order
    * (range exchange + broadcast offsets — no single-partition window
    * over the type table, which is corpus-vocabulary-sized). The output
    * filter keeps only ranks that are powers of two — ≤ 64 rows at any
    * corpus size; coverage is one division of exact longs. */
  /** Chao1 unseen-vocabulary estimate (q_chao1): from the singleton and
    * doubleton type counts, the estimated TRUE vocabulary size
    * Ŝ = S_obs + f₁²/(2f₂) and Good's sample coverage Ĉ = 1 − f₁/N —
    * the "how much vocabulary have we NOT seen yet" answer that decides
    * whether another crawl epoch is worth running (the species-richness
    * estimator applied to token types).
    *
    * Two map-side aggregates (type counts, then frequency-of-frequency
    * counts on the vocab-sized frame); each estimate is one division of
    * exact longs. */
  def chao1Query(spark: SparkSession, dir: String): DataFrame = {
    // Bigram types: the unigram vocab of this corpus is closed (31
    // types, no singletons — Chao1 degenerates); the open bigram space
    // is where unseen-mass estimation is meaningful.
    val types = ngramCounts(Tables.documents(spark, dir), 2)
    types.agg(
        count(lit(1)).as("s_obs"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("s_obs"), col("n_tokens"), col("f1"), col("f2"),
        // bias-corrected form: defined even at f2 = 0
        (col("s_obs").cast("double") +
          (col("f1") * (col("f1") - 1L)).cast("double") /
            (lit(2L) * (col("f2") + 1L)).cast("double")).as("chao1"),
        (lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double"))
          .as("coverage_hat"))
  }

  /** Good–Turing discount table (q_good_turing): for raw frequencies
    * r = 1..10, the frequency-of-frequencies N_r and the adjusted count
    * r∗ = (r+1)·N_{r+1}/N_r — the smoothing table under every classic
    * LM estimator (and the direct companion to the Kneser–Ney
    * continuation counts, q_kn_counts). The discount ratio r∗ over r
    * (< 1 in the Zipf head) quantifies how much probability mass the
    * raw counts steal from unseen events.
    *
    * Frequency-of-frequencies is one vocab-sized aggregate; the r/r+1
    * pairing is a self-join on the ≤10-row table (no window needed);
    * r* is one division of exact longs per row. */
  def goodTuringQuery(spark: SparkSession, dir: String,
                      maxR: Int = 10): DataFrame = {
    val freqOfFreq = Silver.scratch(
      ngramCounts(Tables.documents(spark, dir), 2)
        .filter(col("cnt") <= maxR + 1)
        .groupBy(col("cnt").as("r"))
        .agg(count(lit(1)).as("n_r")),
      "gt_fof") // feeds both sides of the r -> r+1 pairing
    freqOfFreq.filter(col("r") <= maxR)
      .join(freqOfFreq.select((col("r") - 1L).as("r"), col("n_r").as("n_r1")),
        Seq("r"), "left")
      .select(col("r"), col("n_r"), coalesce(col("n_r1"), lit(0L)).as("n_r1"),
        (((col("r") + 1L) * coalesce(col("n_r1"), lit(0L))).cast("double") /
          col("n_r").cast("double")).as("r_star"))
      .withColumn("discount", col("r_star") / col("r").cast("double"))
      .orderBy("r")
  }

  def vocabCoverageQuery(spark: SparkSession, dir: String): DataFrame = {
    val types = ngramCounts(Tables.documents(spark, dir), 1)
      .select(col("ngram").as("tok"), col("cnt"))
    // r15 (guide §2.4, the q_wasserstein device + riding totals): the
    // rank is the running count of a ones column, so ONE distributedCumSum
    // pass over the unique (cnt desc, tok asc) order yields k = cum_one
    // (1-based, identical to distributedGlobalRank over the same order),
    // cum_cnt, AND the grand totals (n_types, total_toks) via the offsets
    // broadcast the cumsum already builds. The old shape paid a second
    // full range exchange for the rank and re-ran the tokenize+aggregate
    // subtree for the totals crossJoin.
    val cum = graft.operators.Ranking.distributedCumSum(
      types.withColumn("one", lit(1L)),
      Seq(col("cnt").desc, col("tok").asc), Seq("cnt", "one"), totals = true)
      .withColumn("k", col("cum_one"))
    cum
      // k a power of two: exactly one bit set — portable bit arithmetic
      .filter(expr("k & (k - 1)") === 0L && col("k") > 0L)
      .select(col("k"), col("tok").as("kth_type"), col("cnt").as("kth_cnt"),
        col("cum_cnt"), col("tot_one").as("n_types"),
        col("tot_cnt").as("total_toks"),
        (col("cum_cnt").cast("double") / col("tot_cnt").cast("double"))
          .as("coverage"))
      .orderBy("k")
  }
}
