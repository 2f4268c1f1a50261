package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Training-data pipeline operators beyond dedup/quality (builder brief):
  * the three jobs every LLM corpus build runs after cleaning —
  * deterministic train/valid/test splitting, token-budget sequence
  * packing, and benchmark-contamination detection. All pure expressions
  * with exact DuckDB oracles (the split hash is the same md5-prefix
  * device as [[Dedup.simhash]]).
  */
object TrainingData {

  /** Deterministic 0..99 bucket from a key: first 15 hex chars of md5 as
    * a 60-bit int, mod 100. Engine-portable and stable across runs —
    * splits never shift when the corpus grows (unlike `rand(seed)`,
    * which reshuffles with partitioning). */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long"), lit(100L))

  /** Split assignment: train < `trainPct` ≤ valid < `validTo` ≤ test. */
  def splitOf(key: Column, trainPct: Int = 80, validTo: Int = 90): Column = {
    val b = hashBucket(key)
    when(b < trainPct, "train").when(b < validTo, "valid").otherwise("test")
  }

  /** Deterministic uniform in [0, 1) from a key: first 13 hex chars of
    * md5 = a 52-bit integer — exactly representable in a double, so the
    * division is a single correctly-rounded IEEE op and every engine
    * computes the identical value. The continuous companion of
    * [[hashBucket]]. */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 13), 16, 10).cast("double") /
      lit(4503599627370496.0) // 2^52

  /** Deterministic weighted Bernoulli keep: true iff
    * uniform(key) < weight. Per-ROW acceptance probabilities (quality
    * scores, per-source mixture weights, temperature-scaled priors) with
    * zero coordination — no sort, no count, no RNG state; membership is
    * reproducible from the key alone, so a re-run (or a different
    * cluster) keeps exactly the same rows, and downstream joins against
    * a previous epoch's sample stay consistent. Complements
    * [[sourceMix]] (hard per-source budgets) and [[stratifiedSample]]
    * (exact-k per stratum). */
  def bernoulliKeep(key: Column, weight: Column): Column =
    hashUniform(key) < weight

  /** q_sample_split: stratified split accounting per (lang, split) —
    * the sanity check run after any split job (counts + volume per
    * stratum). One groupBy, no shuffle beyond it. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), splitOf(col("doc_id")).as("split"), col("n_chars"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars").cast("long")).as("chars"))
      .orderBy("lang", "split")

  /** q_seq_pack: pack documents into fixed-token-budget training
    * sequences — contiguous greedy packing in (lang, doc_id) order:
    * a doc's sequence id is its starting token offset divided by the
    * budget. The window is partitioned per lang (per-stratum running
    * sum); at 100 TB the stratum key would be (lang, shard) to bound
    * partition width, same expression shape. */
  def sequencePack(spark: SparkSession, dir: String,
                   tokenBudget: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .withColumn("seq_id",
        floor((col("cum_tokens") - col("tokens")) / tokenBudget).cast("long"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("docs"), sum(col("tokens")).as("tokens"))
      .orderBy("lang", "seq_id")
  }

  /** q_contamination: benchmark-overlap detection — which candidate
    * training docs share at least one word 3-gram with the held-out set
    * (doc_id ≡ 0 mod 97 plays the benchmark here). The join key is the
    * shingle, so cost is bounded by posting lists (the benchmark side is
    * tiny and broadcastable), never |train|×|bench|. */
  def contamination(spark: SparkSession, dir: String,
                    benchMod: Int = 97): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(Dedup.shingles(col("toks"))).as("sh"))
    val bench = docs.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .select(col("sh")).distinct()
    docs.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(countDistinct(col("sh")).as("shared_shingles"))
      .orderBy("doc_id")
  }

  /** q_curation: the composed end-to-end curation pipeline — the full
    * pre-training data build run as ONE query, every stage's per-document
    * verdict surfaced and oracle-checked:
    *
    *  1. `q_pass`   — Gopher quality gate ([[TextAnalysis.gopherQualityFlags]])
    *  2. `lang_ok`  — language-ID keep (en, [[TextAnalysis.langIdHeuristic]])
    *  3. `exact_keep` — exact dedup keep-first (fingerprint window; one
    *     shuffle on the fingerprint)
    *  4. `near_keep`  — near-dup prune: corpus-wide SimHash clusters
    *     ([[Dedup.dupClusters]]), non-canonical members dropped
    *  5. `decon_ok`   — benchmark decontamination: held-out docs
    *     (doc_id ≡ 0 mod 97) and any candidate sharing ≥ 3 word-3-grams
    *     with them ([[contamination]]) are excluded
    *  6. `kept` = 1 ∧ 2 ∧ 3 ∧ 4 ∧ 5
    *
    * Stages compute their drop-sets INDEPENDENTLY over the corpus and
    * compose by anti-join semantics (left joins against small drop
    * lists) — the production shape: each stage is restartable and
    * auditable on its own, and the final verdict row per document is the
    * lineage record a 100 TB curation run has to emit anyway. No stage
    * adds a shuffle beyond what it needs alone; the drop-list joins key
    * on doc_id (broadcast at test SF, minimal exchange at scale).
    *
    * Note: the synthetic corpus has no natural exact duplicates, so
    * `exact_keep` is uniformly true here — the fingerprint keep-first
    * FALSE branch is separately oracle-witnessed by q_exact_dups, which
    * plants duplicates for exactly that reason. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val flags = TextAnalysis.gopherQualityFlags(col("text"))
    val base = docs
      .withColumn("q_pass", flags.getField("pass"))
      .withColumn("lang_ok", TextAnalysis.langIdHeuristic(col("text")) === "en")
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
    val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
    val exact = base.withColumn("exact_keep", row_number().over(w) === 1)
    val nonCanon = Dedup.nonCanonicalDocs(spark, dir)
      .select(col("doc_id"), lit(true).as("__nd"))
    val contaminated = contamination(spark, dir)
      .filter(col("shared_shingles") >= 3).select(col("doc_id"), lit(true).as("__ct"))
    exact
      .join(nonCanon, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("near_keep", col("__nd").isNull)
      .withColumn("decon_ok",
        col("__ct").isNull && pmod(col("doc_id"), lit(97)) =!= 0)
      .withColumn("kept", col("q_pass") && col("lang_ok") && col("exact_keep") &&
        col("near_keep") && col("decon_ok"))
      .select("doc_id", "source", "q_pass", "lang_ok", "exact_keep",
        "near_keep", "decon_ok", "kept")
      .orderBy("doc_id")
  }

  /** Temperature-scaled source mixing: sampling rates derived FROM the
    * corpus counts as p_i ∝ n_i^α (α = 1 preserves the natural mix;
    * α → 0 flattens toward uniform — the multilingual/multi-source
    * rebalancing knob of every pretraining recipe). α = ½ here, because
    * n^½ = sqrt(n) is an IEEE-754 correctly-rounded operation — unlike
    * pow(n, α) generally, whose libm result may differ between engines
    * by an ulp.
    *
    * Determinism of the normalizer: Σ_j sqrt(n_j) over doubles would
    * depend on summation order (window/partial-agg trees regroup
    * additions), so the weights are QUANTIZED first — sq_i =
    * ⌊sqrt(n_i)·10⁶⌋ as integers — and the denominator is their exact
    * associative integer sum. The acceptance rate is then the fixed
    * operation sequence min(1, target·sq_i / den / n_i), every step a
    * single correctly-rounded double op, and membership is the same
    * hash-uniform Bernoulli as [[bernoulliKeep]] — reproducible across
    * engines, runs, and cluster sizes.
    *
    * Scale shape: one count aggregate (cardinality = #sources), the
    * integer normalizer folded in the same tiny frame, broadcast back
    * onto the corpus for a filter — one wide scan, no second shuffle. */
  def temperatureMix(spark: SparkSession, dir: String,
                     targetDocs: Long = 300L): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", floor(sqrt(col("n_docs").cast("double")) * 1000000d).cast("long"))
    val den = counts.agg(sum(col("sq")).as("den"))
    val rates = counts.crossJoin(broadcast(den))
      .withColumn("rate",
        least(lit(1.0), lit(targetDocs.toDouble) * col("sq").cast("double") /
          col("den").cast("double") / col("n_docs").cast("double")))
    d.join(broadcast(rates), "source")
      .filter(hashUniform(col("doc_id")) < col("rate"))
      .groupBy("source", "n_docs", "sq", "rate")
      .agg(count(lit(1)).as("docs_kept"))
      .orderBy("source")
  }

  /** Source mixing: cap every source at a per-source token budget by
    * deterministic hash downsampling — the mixture-weights step of a
    * pretraining corpus build (oversampled sources are thinned; sources
    * under budget pass whole). Keep probability = min(1, target/total)
    * as a CONTINUOUS double against [[hashUniform]] — an integer-percent
    * bucket (the original formulation) floors to 0 as soon as a source
    * exceeds 100× the budget, silently emptying the mix; caught by the
    * 30×-inflation sweep, where every keep_pct quantized to zero. The
    * ratio is one correctly-rounded IEEE divide on both engines, so
    * membership stays exactly reproducible. The per-source totals are a
    * tiny aggregate broadcast back onto the corpus — one wide scan, one
    * broadcast join, no second shuffle of the documents. */
  def sourceMix(spark: SparkSession, dir: String,
                targetTokens: Long = 800L): DataFrame = {
    // Both the totals aggregate and the keep-filter consume this frame;
    // materialize the slim (source, doc_id, tokens) projection once so
    // the heavy text column is scanned and tokenized a single time.
    val d = Silver.materialize(Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tokens")),
      "source_mix_tokens")
    val rate = d.groupBy("source").agg(sum("tokens").as("total"))
      .select(col("source"),
        least(lit(1.0),
          lit(targetTokens.toDouble) / col("total").cast("double")).as("keep_rate"))
    d.join(broadcast(rate), "source")
      .filter(hashUniform(col("doc_id")) < col("keep_rate"))
      .groupBy("source", "keep_rate")
      .agg(count(lit(1)).as("docs_kept"), sum("tokens").as("tokens_kept"))
      .orderBy("source")
  }

  /** q_weighted_sample: per-language acceptance-probability sampling via
    * [[bernoulliKeep]] — the temperature-style mixture reweighting of a
    * multilingual corpus build (high-resource languages thinned harder).
    * Emits the kept rows with their uniform draw so membership itself is
    * oracle-checked, then the caller aggregates; here per-lang keep
    * accounting. Embarrassingly parallel: a filter, then one groupBy. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val weight = when(col("lang") === "en", 0.3)
      .when(col("lang") === "de", 0.5)
      .otherwise(0.9)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), weight.as("w"),
        hashUniform(col("doc_id")).as("u"))
      .filter(col("u") < col("w"))
      .groupBy("lang", "w")
      .agg(count(lit(1)).as("docs_kept"),
        min(col("u")).as("min_u"), max(col("u")).as("max_u"))
      .orderBy("lang")
  }

  /** PPS (probability-proportional-to-size) sampling audit
    * (q_pps_sample): Poisson-PPS over customers with inclusion
    * probability p_i = min(1, k·v_i/V) on spend v_i, realized by the
    * deterministic [[hashUniform]] coin — then the Horvitz–Thompson
    * total recovered from the sample and compared to the truth. The
    * estimator audit a sampling-based profiler runs before trusting
    * sampled dashboards at 100 TB (where exact totals are a luxury).
    *
    * The HT arithmetic is EXACT: certainty units (k·v_i ≥ V) enter at
    * face value; each sampled non-certainty unit contributes v_i/p_i =
    * V/k, so k·estimate = k·Σ_cert v + m·V is an integer identity —
    * emitted via two single divisions (estimate, relative error). One
    * customer-grain aggregate (materialized once — it feeds the total
    * and the sample pass), then one-row arithmetic. */
  def ppsSampleQuery(spark: SparkSession, dir: String,
                     k: Long = 100L): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = Silver.scratch(
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).as("v")),
      "pps_per") // feeds the universe total and the sampling pass
    val tot = per.agg(sum(col("v")).as("big_v"), count(lit(1)).as("n"))
    per.crossJoin(broadcast(tot))
      .select(col("o_custkey"), col("v"), col("big_v"), col("n"),
        (lit(k).cast(d38) * col("v").cast(d38)).as("kv"),
        hashUniform(col("o_custkey")).as("u"))
      .select(col("v"), col("big_v"), col("n"),
        when(col("kv") >= col("big_v").cast(d38), lit("cert"))
          .when(col("u") <
            col("kv").cast("string").cast("double") /
              col("big_v").cast(d38).cast("string").cast("double"),
            lit("sampled"))
          .otherwise(lit("out")).as("status"))
      .groupBy("big_v", "n")
      .agg(
        sum(when(col("status") === "cert", 1L).otherwise(0L)).as("n_cert"),
        sum(when(col("status") === "cert", col("v")).otherwise(0L))
          .as("cert_v"),
        sum(when(col("status") === "sampled", 1L).otherwise(0L))
          .as("n_sampled"))
      .select(col("n"), col("n_cert"), col("n_sampled"),
        col("big_v").as("true_total_cents"),
        ((lit(k).cast(d38) * col("cert_v").cast(d38) +
            col("n_sampled").cast(d38) * col("big_v").cast(d38))
          .cast("string").cast("double") / lit(k.toDouble)).as("est_cents"),
        (((lit(k).cast(d38) * col("cert_v").cast(d38) +
            col("n_sampled").cast(d38) * col("big_v").cast(d38)) -
           lit(k).cast(d38) * col("big_v").cast(d38))
          .cast("string").cast("double") /
         (lit(k).cast(d38) * col("big_v").cast(d38))
          .cast("string").cast("double")).as("rel_err"))
  }

  /** Deterministic per-stratum subsample: the k docs with the smallest
    * md5 hash within each stratum. Hash order is corpus-growth-stable
    * (a doc's rank only moves when NEW docs hash below it — unlike
    * rand(), the sample stays reproducible across engines and runs) —
    * the eval/debug subset selection every corpus build needs.
    *
    * Executes through the custom [[graft.plans.TopKPerKey]] operator:
    * per-partition bounded heaps combine map-side, so each stratum ships
    * at most numPartitions·k rows through the exchange instead of the
    * whole stratum (the window-rank formulation shuffles everything). */
  def stratifiedSample(docs: DataFrame, k: Int, strata: Column): DataFrame =
    graft.plans.TopKPerKey(
      docs.withColumn("h", md5(col("doc_id").cast("string"))),
      k, keys = Seq(strata), order = Seq(col("h").asc, col("doc_id").asc))

  /** q_group_sample: 5 hash-selected documents per language. */
  def groupSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    stratifiedSample(
      Tables.documents(spark, dir).select(col("lang"), col("doc_id")),
      k, col("lang"))
      .select(col("lang"), col("doc_id"), col("h"))
      .orderBy("lang", "doc_id")

  /** Token-budget chunking with overlap — the context-window prep step:
    * each document becomes ⌈n/(budget−overlap)⌉ chunks of ≤ `budget`
    * tokens, consecutive chunks sharing `overlap` tokens. Start offsets
    * are a `sequence` + `explode` (narrow — no shuffle, no UDF); fan-out
    * is bounded by budget/(budget−overlap) ≈ 1.1× rows at the default
    * ratio, so the op scales linearly in corpus tokens. Chunk content is
    * fingerprinted (md5 of the token slice) rather than re-emitted — at
    * 100 TB you verify and route chunks by hash, not by copying text
    * through every downstream shuffle. */
  def chunk(docs: DataFrame, budget: Int = 100, overlap: Int = 10): DataFrame = {
    require(overlap < budget, s"overlap $overlap must be < budget $budget")
    val step = budget - overlap
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // start bound n−overlap−1 (not n−1): a start inside the previous
      // chunk's overlap region would emit a chunk whose content is fully
      // contained in its predecessor — duplicate training data. The last
      // kept start still covers to the end: next_start > n−overlap−1 ⇒
      // start+budget ≥ n.
      .select(col("doc_id"), col("toks"), col("n_tokens"),
        explode(sequence(lit(0L),
          greatest(col("n_tokens") - (overlap + 1), lit(0L)),
          lit(step.toLong))).as("start_tok"))
      .select(
        col("doc_id"),
        (col("start_tok") / step).cast("long").as("chunk_id"),
        col("start_tok"),
        least(lit(budget.toLong), col("n_tokens") - col("start_tok")).as("chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("start_tok") + 1).cast("int"), lit(budget)))).as("chunk_md5"))
  }

  /** q_chunks: chunk accounting over the documents table. */
  def chunkDocs(spark: SparkSession, dir: String,
                budget: Int = 100, overlap: Int = 10): DataFrame =
    chunk(Tables.documents(spark, dir), budget, overlap)
      .orderBy("doc_id", "chunk_id")

  /** q_length_buckets — padding-aware training-batch construction: docs
    * bucketed by token-length band, ordered longest-first within the
    * band, grouped into fixed-size batches; per batch the padded-token
    * waste (`n·max − Σ tokens`) is the quantity a dataloader minimizes.
    * The batch-assembly dual of [[sequencePack]]: packing concatenates to
    * a budget, bucketing batches like-lengths to shrink padding.
    *
    * Scale shape: the per-band rank is NOT a `Window.partitionBy(bucket)`
    * row_number — length bands are few and heavily populated, so each
    * band would funnel through one reducer. Instead ONE
    * [[graft.operators.Ranking.distributedGlobalRank]] over the composite
    * order (bucket, tokens desc, doc_id) — a parallel range sort — and
    * the in-band index is the global rank minus the band's minimum rank
    * (a bands-sized broadcast). Every stage holds at most one range
    * partition.
    */
  def batchByLength(docs: DataFrame,
                    bandWidth: Long = 32L, batchSize: Int = 8): DataFrame = {
    val lengths = docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
      .withColumn("bucket", floor(col("tokens") / bandWidth).cast("long"))
    val ranked = graft.operators.Ranking.distributedGlobalRank(
      lengths, Seq(col("bucket").asc, col("tokens").desc, col("doc_id").asc))
    val bandStart = ranked.groupBy("bucket").agg(min(col("rank")).as("rank0"))
    ranked.join(broadcast(bandStart), "bucket")
      .withColumn("batch_id",
        floor((col("rank") - col("rank0")) / batchSize).cast("long"))
      .groupBy("bucket", "batch_id")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("tokens")).as("max_tokens"),
        sum(col("tokens")).as("sum_tokens"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** q_length_buckets over the documents table, ordered by batch. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    batchByLength(Tables.documents(spark, dir)).orderBy("bucket", "batch_id")

  /** q_importance — DSIR-shaped importance reweighting (Xie et al. 2023,
    * public): score each raw document by how target-like its token
    * distribution is, for importance resampling toward a target domain.
    * DSIR's per-feature weight is log(p_target/p_raw); logs are not
    * IEEE-portable across engines, so the weight here is the RATIONAL
    * quantized ratio
    *
    *   w(f) = (Q · (ct(f)+1) · Tr)  div  ((cr(f)+1) · Tt),   Q = 1e6
    *
    * (add-one smoothed, ≈ Q·p_t(f)/p_r(f)) and a document's score is the
    * exact integer Σ_f c_doc(f)·w(f) — same ordering intent, zero FP.
    * The products run in decimal(38,0) (HUGEINT oracle-side): (ct+1)·Tr
    * overflows Long beyond ~10⁶-token corpora. At much larger corpora
    * shrink Q — the score is homogeneous in it.
    *
    * Target here = the `lang = 'en'` slice (domain adaptation toward
    * English); any predicate slots in.
    *
    * Scale shape: everything is token-keyed — per-(doc, token) counts and
    * per-token target/raw counts are map-side-combining aggregates, the
    * weight table joins back on the token key (posting-list join, never
    * doc×doc), totals ride a one-row broadcast. */
  def importance(docs: DataFrame, isTarget: Column): DataFrame = {
    val toks = docs
      .select(col("doc_id"), isTarget.cast("long").as("t"),
        explode(split(col("text"), " ")).as("tok"))
    val docTok = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val fc = toks
      .groupBy("tok")
      .agg(count(lit(1)).as("cr"), sum(col("t")).as("ct"))
    val totals = fc.agg(
      sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val d38 = "decimal(38,0)"
    val w = fc.crossJoin(broadcast(totals))
      .select(col("tok"),
        expr(s"CAST((CAST(1000000 AS $d38) * (ct + 1) * tr) div ((CAST(cr AS $d38) + 1) * tt) AS BIGINT)")
          .as("w"))
    docTok.join(w, "tok")
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c") * col("w")).as("score"))
      .withColumn("mean_w", expr("score div n_tokens"))
  }

  /** q_importance over the documents table (target = English slice). */
  def importanceScores(spark: SparkSession, dir: String): DataFrame =
    importance(Tables.documents(spark, dir), col("lang") === "en")
      .orderBy("doc_id")

  /** q_shuffle — deterministic epoch shuffle: assign every document a
    * contiguous position 1..N in a pseudo-random but REPLAYABLE order
    * (md5 of salt‖doc_id, doc_id tiebreak). The dataloader-side
    * requirement `rand()` cannot meet: the same (corpus, epoch) must
    * yield the same permutation on every run and every partitioning, and
    * positions must be gapless so readers can range-split them. One
    * [[graft.operators.Ranking.distributedGlobalRank]] — a parallel
    * range sort over the hash — no single-partition window anywhere. */
  def epochShuffle(docs: DataFrame, epoch: Int): DataFrame =
    graft.operators.Ranking.distributedGlobalRank(
      docs.select(col("doc_id"),
        md5(concat(lit(s"epoch$epoch:"), col("doc_id"))).as("shuffle_key")),
      Seq(col("shuffle_key").asc, col("doc_id").asc),
      rankCol = "pos")
      .select(col("doc_id"), col("shuffle_key"), col("pos"))

  /** q_shuffle over the documents table (epoch 1), ordered by position. */
  def shuffleQuery(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir), epoch = 1).orderBy("pos")

  /** Per-source dataset card (q_dataset_card) — the "datasheet" summary
    * published next to every released training corpus: per source, the
    * document count, token mass, language spread, English share, and
    * mean document length. One slim scan feeding two keyed aggregates
    * (the language spread is the two-level no-Expand distinct); the
    * source-keyed join at the end is |sources|-bounded. `avg_tokens` is
    * exact integer division; `en_share` is the single IEEE division. */
  def datasetCard(docs: DataFrame): DataFrame = {
    // Feeds the base rollup AND the language-spread rollup — materialize
    // so the corpus tokenize runs once.
    val d = Silver.scratch(
      docs.select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks")),
      "card_docs")
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val langs = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(count(lit(1)).as("n_langs"))
    base.join(langs, "source")
      .withColumn("avg_tokens", expr("n_tokens div n_docs"))
      .withColumn("en_share", col("n_en").cast("double") / col("n_docs"))
      .select("source", "n_docs", "n_tokens", "n_langs", "avg_tokens", "en_share")
      .orderBy("source")
  }

  /** q_dataset_card over the documents table. */
  def datasetCardQuery(spark: SparkSession, dir: String): DataFrame =
    datasetCard(Tables.documents(spark, dir))

  /** Largest-remainder budget allocation (q_allocation): split a fixed
    * sampling budget of `k` slots across sources proportional to their
    * doc counts, Hamilton-method exact — base_i = ⌊k·n_i/N⌋, then the
    * k−Σbase leftover slots go to the largest remainders (ties to the
    * lexicographically-first source). Everything is integer arithmetic
    * over the dimension-sized per-source frame; the remainder rank is a
    * counting self-join (the q_movers idiom), not a window. Σalloc = k
    * by construction — the spec pins it. */
  def budgetAllocation(spark: SparkSession, dir: String,
                       k: Long = 10000L): DataFrame = {
    val counts = Silver.scratch(
      Tables.documents(spark, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs")),
      "alloc_counts") // feeds totals, rank join, and the output
    val tot = counts.agg(sum(col("n_docs")).as("n_total"),
      count(lit(1)).as("n_sources"))
    val withBase = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($k * n_docs) div n_total"))
      .withColumn("rem", expr(s"$k * n_docs - base * n_total"))
    val ranked = withBase.as("a").join(withBase.as("b"),
        col("b.rem") > col("a.rem") ||
          (col("b.rem") === col("a.rem") && col("b.source") < col("a.source")),
        "left")
      .groupBy(col("a.source").as("source"))
      .agg(first(col("a.n_docs")).as("n_docs"),
        first(col("a.base")).as("base"),
        first(col("a.rem")).as("rem"),
        count(col("b.source")).as("n_better"))
    val leftover = withBase.agg((lit(k) - sum(col("base"))).as("leftover"))
    ranked.crossJoin(broadcast(leftover))
      .withColumn("extra", col("n_better") < col("leftover"))
      .withColumn("alloc",
        col("base") + when(col("extra"), 1L).otherwise(0L))
      .select("source", "n_docs", "base", "rem", "extra", "alloc")
      .orderBy("source")
  }

  /** Deterministic negative sampling (q_neg_sample): for every observed
    * (customer, part) purchase pair, `m` hash-derived candidate parts,
    * minus any that are themselves observed positives for that customer
    * (the anti-join every contrastive-training pipeline needs). The
    * candidate generator is the [[hashBucket]] md5 construction over
    * "u|p|i", so the sample is reproducible on any engine and any run —
    * no RNG state, no seed plumbing. Fan-out is exactly m per positive
    * BEFORE the filter (bounded, never data-dependent); the anti-join is
    * one shuffle on (customer, part). */
  def negativeSampling(spark: SparkSession, dir: String,
                       m: Int = 3): DataFrame = {
    val positives = Silver.scratch(
      Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("part"))
        .distinct(),
      "neg_pos") // feeds the generator and the anti-join
    val maxPart = Tables.part(spark, dir)
      .agg(max(col("p_partkey")).as("max_part"))
    val cands = positives.crossJoin(broadcast(maxPart))
      .select(col("user"), col("part"),
        explode(sequence(lit(1), lit(m))).as("i"), col("max_part"))
      .withColumn("neg_part",
        pmod(conv(substring(md5(concat_ws("|",
            col("user"), col("part"), col("i"))), 1, 15), 16, 10)
          .cast("long"), col("max_part")) + 1L)
    // the anti-join's build side is the materialized positives frame:
    // broadcast when it fits, which saves exchanging the m×-exploded
    // candidate frame; over the broadcast threshold at sf0.1, sort-merging
    // it measured 1.3× slower
    val bc = Pregel.broadcastState(spark, Silver.rows(positives))
    cands.join(Pregel.state(
        positives.select(col("user"), col("part").as("neg_part")), bc),
        Seq("user", "neg_part"), "left_anti")
      .select(col("user"), col("part"), col("i").cast("long").as("i"),
        col("neg_part"))
      .orderBy("user", "part", "i")
  }

  /** Hashing-trick collision profile (q_feature_hash): hash the corpus
    * vocabulary into `buckets` feature slots and report the bucket-load
    * histogram — the collision report that decides whether 2^k features
    * are enough before anyone trains on hashed features. Loads come from
    * one distinct-token pass + one bucket aggregate; the histogram is an
    * aggregate of THAT (buckets-bounded) frame, and the empty-bucket row
    * is computed from totals, not materialized. */
  def featureHashProfile(spark: SparkSession, dir: String,
                         buckets: Int = 64): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val load = toks
      .withColumn("bucket",
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .groupBy("bucket").agg(count(lit(1)).as("load"))
    val hist = load.groupBy("load").agg(count(lit(1)).as("n_buckets"))
    val zero = hist.agg((lit(buckets.toLong) - sum(col("n_buckets")))
        .as("n_buckets"))
      .select(lit(0L).as("load"), col("n_buckets"))
      .filter(col("n_buckets") > 0)
    hist.unionByName(zero).orderBy("load")
  }

  /** Split-leakage audit (q_split_leakage): per split, how many docs
    * share a content fingerprint with a DIFFERENT split — the
    * decontamination check run after [[splitOf]] assignment (hash splits
    * are leak-free only if content identity and the split key agree;
    * exact duplicates under different doc_ids leak). Two-level
    * aggregates throughout: (fp, split) cells, fp-level split counts,
    * then the per-split rollup — nothing rescans the doc stream. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val cells = Silver.scratch(
      Tables.documents(spark, dir)
        .select(TextAnalysis.fingerprint(col("text")).as("fp"),
          splitOf(col("doc_id")).as("split"))
        .groupBy("fp", "split").agg(count(lit(1)).as("n")),
      "leak_cells") // feeds the fp-level count and the rollup
    val fpSplits = cells.groupBy("fp")
      .agg(count(lit(1)).as("n_splits"))
    cells.join(fpSplits, "fp")
      .groupBy("split")
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("n_splits") > 1, col("n")).otherwise(0L))
          .as("n_leaked_docs"))
      .withColumn("leak_rate",
        col("n_leaked_docs").cast("double") / col("n_docs").cast("double"))
      .orderBy("split")
  }

  /** k-fold cross-validation assignment audit (q_xval_folds): the
    * deterministic md5-bucket fold id (the [[splitOf]] family — rerun-
    * and partitioning-stable, so folds never leak between runs) plus
    * the per-fold class-balance table that decides whether plain
    * k-fold suffices or stratified folds are needed. One doc-stream
    * aggregate; the fold-total join broadcasts k rows back. */
  def xvalFolds(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // Fold = 60-bit md5 hash mod k DIRECTLY — composing through
    // hashBucket's mod-100 is non-uniform whenever k does not divide 100
    // (k=3 would load fold 0 with ~3% extra mass in the very report that
    // audits fold balance). Identical assignment for any k | 100, so the
    // default k=5 oracle is unchanged.
    val folds = Tables.documents(spark, dir)
      .select(col("lang"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"), lit(k.toLong)).as("fold"),
        col("n_chars"))
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars").cast("long")).as("chars"))
    val tot = folds.groupBy("fold").agg(sum(col("docs")).as("fold_docs"))
    folds.join(broadcast(tot), "fold")
      .select(col("fold"), col("lang"), col("docs"), col("chars"),
        col("fold_docs"),
        (col("docs").cast("double") / col("fold_docs").cast("double"))
          .as("lang_share"))
      .orderBy("fold", "lang")
  }

  /** Balanced output sharding (q_shards): assign every document to one
    * of `nShards` output files so the shards carry near-equal bytes —
    * the write-side twin of [[batchByLength]]. Round-robin over the
    * size-DESCENDING order (the classic LPT greedy's streaming
    * approximation: the k largest docs land on k different shards, and
    * each following wave fills in reverse wave order) — positions come
    * from [[graft.operators.Ranking.distributedGlobalRank]], never a
    * global window, so the assignment is one range exchange at any
    * corpus size. Emits the per-shard manifest a writer job consumes:
    * doc count, total/min/max bytes, and the balance ratio vs the ideal
    * equal split. */
  def balancedShards(spark: SparkSession, dir: String,
                     nShards: Int = 8): DataFrame = {
    val ranked = graft.operators.Ranking.distributedGlobalRank(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id").asc), rankCol = "r", nCol = "__n")
    val shards = ranked
      .withColumn("shard", (col("r") - 1L) % nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
    val tot = shards.agg(sum(col("total_chars")).as("grand"))
    shards.crossJoin(broadcast(tot))
      .withColumn("balance_ratio",
        (col("total_chars") * nShards).cast("double") /
          col("grand").cast("double"))
      .select("shard", "n_docs", "total_chars", "min_chars", "max_chars",
        "balance_ratio")
      .orderBy("shard")
  }

  /** Greedy maximum-coverage document selection (q_max_cover): pick up
    * to `k` documents that together cover the most VOCABULARY — the
    * submodular facility-location pass of data curation (the lexical
    * dual of [[graft.scale.Similarity.kcenterSelect]]'s geometric
    * spread; greedy is the classic (1−1/e)-approximation). Selection
    * stops early when no document adds a new term — the output carries
    * however many picks saturate the corpus.
    *
    * Per round: ONE pass over the distinct (doc, term) frame (anti-join
    * the covered-term set, count per doc, argmax with doc_id ties) —
    * k passes total; the covered set only grows and is re-materialized
    * per round (the iterative lineage cut). Exact counts throughout. */
  def maxCoverSelect(spark: SparkSession, dir: String,
                     k: Int = 5): DataFrame = {
    // coverage units are BIGRAMS: the unigram vocab saturates in one
    // pick on a small closed vocabulary, which tests nothing
    val bigrams = graft.functions.Let.bind(split(col("text"), " "))(t =>
      when(size(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", slice(t, i, lit(2))))))
    val d = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(bigrams)).as("term")),
      "mc_terms") // feeds every greedy round
    var covered = d.select(col("term")).limit(0)
    var sel: DataFrame = null
    for (i <- 1 to k) {
      val gain = d
        .join(covered, Seq("term"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("gain"))
        .select(col("doc_id"), col("gain"), lit(i.toLong).as("pick"))
        .orderBy(col("gain").desc, col("doc_id").asc).limit(1)
      sel = if (sel == null) Silver.scratch(gain, "mc_sel")
        else Silver.scratch(sel.unionAll(gain), "mc_sel")
      // r14: accumulate the NEW pick's terms instead of re-deriving the
      // whole covered set from all picks — broadcast one-row pick join +
      // narrow union, and NO distinct: left_anti has existence
      // semantics, so duplicate covered terms cannot change the gain
      // counts (saves the per-round re-join + vocab-sized distinct
      // shuffle; covered grows by ≤ one document's term list per round)
      covered = Silver.scratch(
        covered.unionAll(
          d.join(broadcast(sel.filter(col("pick") === i.toLong)
            .select("doc_id")), "doc_id")
            .select("term")),
        "mc_covered")
    }
    sel.select(col("pick"), col("doc_id"), col("gain")).orderBy("pick")
  }

  /** Greedy knapsack corpus selection under a token budget
    * (q_budget_select): order documents by lexical value density
    * (distinct terms per token — the cheap quality proxy), take the
    * prefix whose cumulative token cost fits 20% of the corpus — the
    * "best data for a fixed compute budget" pass (DoReMi/DSIR-adjacent
    * reweighting reduces to exactly this shape under a hard budget).
    *
    * The ratio is ONE division of exact counts (identical both
    * engines); the prefix comes from [[graft.operators.Ranking
    * .distributedCumSum]] under the unique (ratio, doc_id) order — no
    * single-partition window — and the budget is integer arithmetic
    * off the exact total. Reported per source: how the greedy
    * selection redistributes the mix. */
  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("cost"),
          size(array_distinct(split(col("text"), " "))).cast("long")
            .as("value"))
        .withColumn("ratio",
          col("value").cast("double") / col("cost").cast("double")),
      "bs_docs") // feeds the budget total and the ranked prefix
    // r15: the corpus-cost total rides the cumsum's offsets broadcast
    // (totals=true) — no second pass over the docs scratch (guide §2.4).
    val cum = graft.operators.Ranking.distributedCumSum(docs,
      Seq(col("ratio").desc, col("doc_id").asc), Seq("cost"), totals = true)
    cum
      .filter(col("cum_cost") <= expr("tot_cost div 5"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_selected"), sum(col("cost")).as("tokens_used"),
        sum(col("value")).as("value_sum"))
      .orderBy("source")
  }

  /** Rendezvous (highest-random-weight) sharding (q_rendezvous): every
    * document goes to the node minimizing md5(doc:node) over `nNodes`
    * stateless nodes — no ring, no lookup table, and when a node dies
    * ONLY its documents move (the rendezvous guarantee consistent
    * hashing approximates with vnodes). The query assigns twice — all
    * nodes, then with node 0 removed — and reports per node the before/
    * after counts; the invariant "survivor counts only grow" is the
    * minimal-movement proof, witnessed per node.
    *
    * One corpus pass per assignment (the argmin is an 8-way expression,
    * not a join); exact counts; hash strings compare identically in
    * both engines. */
  def rendezvousQuery(spark: SparkSession, dir: String,
                      nNodes: Int = 8): DataFrame = {
    // argmin as least-of-hashes + a CASE chain (portable: DuckDB's
    // least() doesn't order structs; varchar md5s compare identically)
    def owner(exclude: Int): Column = {
      val ns = (0 until nNodes).filter(_ != exclude)
      def hash(n: Int) = md5(concat_ws(":", col("doc_id"), lit(n)))
      val hmin = least(ns.map(hash): _*)
      ns.foldRight(lit(null).cast("long")) { (n, acc) =>
        when(hash(n) === hmin, lit(n.toLong)).otherwise(acc)
      }
    }
    val assigned = Tables.documents(spark, dir)
      .select(col("doc_id"), owner(-1).as("node"), owner(0).as("node_after"))
    val before = assigned.groupBy("node").agg(count(lit(1)).as("n_docs"))
    val after = assigned.groupBy(col("node_after").as("node"))
      .agg(count(lit(1)).as("n_after"))
    before.join(after, Seq("node"), "left")
      .select(col("node"), col("n_docs"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (coalesce(col("n_after"), lit(0L)) >= col("n_docs") ||
          col("node") === 0L).as("only_grows"))
      .orderBy("node")
  }

  /** Weak-supervision labeler diagnostics (q_weak_labels): three
    * rule-based labeling functions over the corpus (is-English,
    * long-document, token-rich — each votes +1/−1 or ABSTAINS 0) and
    * the Snorkel-style pairwise analysis: overlap (both vote) and
    * conflict (vote differently) per labeler pair, self-pairs carrying
    * coverage. This is the data-programming QA table read before
    * trusting any label model — high conflict ⇒ a labeler is noise.
    * All cells are exact counts; the rate is one division. */
  def weakLabelsQuery(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Silver.scratch(
      Tables.documents(spark, dir).select(
        when(col("lang") === "en", 1L).otherwise(-1L).as("l1"),
        when(col("n_chars") > 400L, 1L)
          .when(col("n_chars") < 250L, -1L).otherwise(0L).as("l2"),
        when(size(split(col("text"), " ")) > 80, 1L)
          .when(size(split(col("text"), " ")) < 50, -1L).otherwise(0L)
          .as("l3")),
      "wl_votes") // feeds all six pair aggregates
    val pairs = for {
      a <- 1 to 3; b <- a to 3
    } yield labeled.agg(
        sum(when(col(s"l$a") =!= 0L && col(s"l$b") =!= 0L, 1L).otherwise(0L))
          .as("n_overlap"),
        sum(when(col(s"l$a") =!= 0L && col(s"l$b") =!= 0L &&
          col(s"l$a") =!= col(s"l$b"), 1L).otherwise(0L)).as("n_conflict"))
      .select(lit(s"l$a").as("lf_a"), lit(s"l$b").as("lf_b"),
        col("n_overlap"), col("n_conflict"),
        when(col("n_overlap") > 0L, col("n_conflict").cast("double") /
          col("n_overlap").cast("double")).as("conflict_rate"))
    pairs.reduce(_ unionAll _).orderBy("lf_a", "lf_b")
  }

  /** Padding-waste audit of fixed-size batching (q_padding_waste): the
    * token cost of padding every batch to its longest member, under the
    * two classic batching orders — arrival (doc_id) vs length-sorted —
    * quantifying what length-bucketed batching saves before anyone
    * builds the dataloader (sorted batching routinely reclaims 10-30%
    * of step FLOPs on mixed-length corpora).
    *
    * Per strategy: documents get the distributed two-pass global rank
    * under the strategy's unique order, batch = (rank−1) div 16, and
    * each batch's waste is cnt·max − sum over exact token counts —
    * a batch-keyed map-side-combining aggregate, so the shuffle moves
    * one row per batch. Efficiency = Σtokens / Σpadded is the single
    * terminal division. Two corpus passes (one per strategy), zero
    * windows over raw docs. */
  def paddingWasteQuery(spark: SparkSession, dir: String,
                        batchSize: Int = 16): DataFrame = {
    val docs = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")),
      "pad_docs") // feeds both strategy rankings
    def strategy(name: String, order: Seq[Column]): DataFrame =
      graft.operators.Ranking.distributedGlobalRank(
          docs, order, rankCol = "r", nCol = "__n")
        .withColumn("batch", expr(s"(r - 1) div $batchSize"))
        .groupBy("batch")
        .agg(count(lit(1)).as("cnt"), max(col("n_tok")).as("mx"),
          sum(col("n_tok")).as("toks"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("toks")).as("total_tokens"),
          sum(col("cnt") * col("mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          (col("padded_tokens") - col("total_tokens")).as("waste_tokens"),
          (col("total_tokens").cast("double") /
            col("padded_tokens").cast("double")).as("efficiency"))
    strategy("arrival", Seq(col("doc_id").asc))
      .unionAll(strategy("sorted",
        Seq(col("n_tok").asc, col("doc_id").asc)))
      .orderBy("strategy")
  }
}
