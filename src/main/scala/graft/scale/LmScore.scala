package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring (the CCNet recipe, Wenzek et al.
  * 2020: score web documents by LM perplexity, keep the head of the
  * distribution): a bigram model with add-k smoothing trained on a
  * reference corpus, then per-document cross-entropy / perplexity.
  *
  * Scale shape: the model is two count tables keyed by (w1) and (w1, w2) —
  * vocab- and bigram-vocab-bounded, never corpus-bounded. Scoring joins
  * the document bigram stream against them on the n-gram key (shuffle
  * keyed by n-gram, the same bounded key space as [[Search.ngramCounts]])
  * and reduces per doc_id. No driver-side model object, no broadcast of a
  * vocab²-sized table — at 100 TB the model IS a table and the join is
  * the lookup.
  *
  * Composes with [[TextAnalysis.qualityTrim]]/`qualityTrimApproxFrom` for
  * the percentile keep/drop decision over the emitted perplexity column.
  * Spec-verified against a driver-side reference implementation
  * (`ln` is not IEEE-correctly-rounded across engines, so this family is
  * deliberately spec-gated, not DuckDB-oracle-gated — the same reasoning
  * that keeps BM25's idf log-free).
  */
object LmScore {

  /** Trained model: history counts (w1 → c1, where c1 counts w1 only as
    * a bigram HISTORY, i.e. c1 = Σ_w2 c12 — document-final occurrences
    * carry no outgoing transition and are excluded, so the smoothed
    * P(·|w1) sums to exactly 1: standard bigram MLE), bigram counts
    * ((w1, w2) → c12), and the vocabulary size for smoothing. */
  final case class Model(unigrams: DataFrame, bigrams: DataFrame, vocabSize: Long)

  private def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Per-row exploded (w1, w2) bigram pairs of a documents frame. */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("doc_id"), t.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Train on a reference corpus. The two count tables are materialized
    * ([[Silver.materialize]] — persisted silver tables in production):
    * `vocabSize` already forces the unigram aggregation, and every later
    * `perplexity` call re-reads the counts instead of re-scanning the
    * reference corpus per scoring run. */
  def train(reference: DataFrame): Model = {
    // Silver names are unique PER CALL (same rule as
    // EntityResolution.resolve): the Model lazily re-reads these parquet
    // tables, so a later or concurrent train() sharing
    // spark.graft.silver.dir must never overwrite parts under a live
    // Model's count tables.
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val bi = Silver.materialize(bigramPairs(reference)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")),
      s"lm_bigrams_$uid")
    // History counts derive FROM the bigram table (c1 = Σ_w2 c12), not
    // from raw token counts — counting document-final occurrences of w1
    // in the denominator would make Σ_w2 P(w2|w1) < 1 (a silent
    // deviation from the standard bigram MLE that shifts perplexities
    // vs other implementations).
    val uni = Silver.materialize(
      bi.groupBy("w1").agg(sum(col("c12")).as("c1")), s"lm_unigrams_$uid")
    // V for smoothing = distinct tokens participating in any bigram
    // (w1 ∪ w2) — model-table-bounded, no extra corpus scan; a token can
    // only ever be predicted as a w2 outcome, so outcome-space V is the
    // right normalizer.
    val v = bi.select(col("w1").as("w"))
      .unionByName(bi.select(col("w2").as("w")))
      .agg(countDistinct(col("w"))).head.getLong(0)
    // Degenerate corpus (no 2-token document anywhere) → V would be 0
    // and every smoothed p = k/0 = +Inf, scoring garbage as perplexity
    // 0. Floor at 1 so probabilities stay finite (uniform over the
    // single pseudo-outcome).
    Model(uni, bi, math.max(v, 1L))
  }

  /** q_lm_counts: the model's INTEGER count tables over the documents
    * corpus — (w1, w2, c12) bigram counts joined with the w1 history
    * counts (c1 = Σ_w2 c12). This is the engine-portable face of the LM
    * family: everything here is exact integer arithmetic, so it
    * oracle-checks against DuckDB even though the `ln`-based perplexity
    * itself stays spec-gated. `minCount` trims the long tail to keep the
    * oracle result bounded. */
  def countsQuery(spark: SparkSession, dir: String,
                  minCount: Long = 5L): DataFrame = {
    val m = train(graft.sources.Tables.documents(spark, dir))
    m.bigrams.join(m.unigrams, Seq("w1"))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"), col("c1"))
      .orderBy("w1", "w2")
  }

  /** Per-document cross-entropy (bits/bigram) and perplexity under the
    * model with add-k smoothing: P(w2|w1) = (c12 + k) / (c1 + k·V).
    * Unseen unigrams/bigrams contribute their smoothed floor. Documents
    * with fewer than 2 tokens emit no row (no bigram evidence). */
  def perplexity(docs: DataFrame, model: Model, k: Double = 0.5): DataFrame = {
    require(k > 0, "add-k smoothing requires k > 0")
    val scored = bigramPairs(docs)
      .join(model.unigrams, Seq("w1"), "left")
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .select(col("doc_id"),
        ((coalesce(col("c12"), lit(0L)) + k) /
          (coalesce(col("c1"), lit(0L)) + k * model.vocabSize)).as("p"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(log(2.0, col("p"))) / count(lit(1))).as("cross_entropy_bits"))
      .withColumn("perplexity", pow(lit(2.0), col("cross_entropy_bits")))
  }

  /** Kneser–Ney continuation counts (q_kn_counts): for the corpus'
    * top-30 words, the raw unigram count against the CONTINUATION
    * count N₁₊(·w) = "how many distinct words precede w" — the insight
    * behind KN smoothing (the best classical LM smoother): "Francisco"
    * is frequent but continues only "San", so its unigram backoff mass
    * should be tiny. continuation_p = N₁₊(·w) / |distinct bigram
    * types| is the exact KN lower-order distribution.
    *
    * Everything is distinct-counting over the bigram-type frame (vocab²-
    * bounded, map-side combining); the only float op is the one
    * division. The diagnostic column `ratio` (continuation over raw)
    * flags the Francisco-shaped words. */
  def knCountsQuery(spark: SparkSession, dir: String,
                    topK: Int = 30): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val bi = Silver.scratch(
      Search.ngramCounts(docs, 2)
        .select(split(col("ngram"), " ").getItem(0).as("w1"),
          split(col("ngram"), " ").getItem(1).as("w2"),
          col("cnt")),
      "kn_bi") // feeds the type total, both diversity counts
    val types = bi.agg(count(lit(1)).as("n_types"))
    val cont = bi.groupBy(col("w2").as("word"))
      .agg(count(lit(1)).as("n_cont"))
    val succ = bi.groupBy(col("w1").as("word"))
      .agg(count(lit(1)).as("n_succ"))
    val uni = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("raw_cnt"))
    uni.join(cont, Seq("word"), "left").join(succ, Seq("word"), "left")
      .crossJoin(types)
      .select(col("word"), col("raw_cnt"),
        coalesce(col("n_cont"), lit(0L)).as("n_cont"),
        coalesce(col("n_succ"), lit(0L)).as("n_succ"),
        (coalesce(col("n_cont"), lit(0L)).cast("double") /
          col("n_types").cast("double")).as("continuation_p"),
        (coalesce(col("n_cont"), lit(0L)).cast("double") /
          col("raw_cnt").cast("double")).as("ratio"))
      .orderBy(col("raw_cnt").desc, col("word").asc)
      .limit(topK)
  }
}
