package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Let
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline (builder brief +
  * SURVEY.md §7.4 #8): token counting, quality scoring, language ID,
  * fingerprinting. All core metrics are pure Column expressions
  * (whole-stage-codegen friendly, no UDFs in the hot path).
  */
object TextAnalysis {

  /** Whitespace tokenization (corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Mean token length derived from char count minus separators —
    * avoids a second pass over the tokens. */
  def avgTokenLen(text: Column): Column = {
    val cnt = tokenCount(text)
    (length(text).cast("long") - (cnt - 1)).cast("double") / cnt
  }

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => Stopwords.map(s => t === s).reduce(_ || _))).cast("long")

  /** Punctuation character count (shared class with the DuckDB oracle). */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  /** Composite quality score in [0,1]: lexical diversity damped by
    * stopword density — the length/punct/stopword-ratio family the brief
    * asks for, collapsed to one deterministic double. */
  def qualityScore(text: Column): Column = {
    val cnt = tokenCount(text)
    val uniqRatio = uniqueTokenCount(text).cast("double") / cnt
    val stopRatio = stopwordCount(text).cast("double") / cnt
    uniqRatio * (lit(1.0) - stopRatio)
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text. Stable join key for exact dedup across sources. */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Gopher-style quality filter flags (Rae et al. 2021 §A1.1 heuristics,
    * public): per-document rule booleans + overall pass, as one
    * expression struct — the standard pre-training quality gate shape.
    * Thresholds parameterized; defaults follow the paper. */
  def gopherQualityFlags(text: Column,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                         maxSymbolWordRatio: Double = 0.1,
                         minAlphaWordRatio: Double = 0.8): Column = {
    val toks = tokens(text)
    val nWords = size(toks).cast("double")
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nWords
    val symbolCnt = (length(text) -
      length(regexp_replace(text, "[#…]|\\.\\.\\.", ""))).cast("double")
    val alphaWords = size(filter(toks, t => t.rlike("\\p{L}"))).cast("double")
    val stopHits = stopwordCount(text)
    val wordCountOk = nWords >= minWords && nWords <= maxWords
    val meanLenOk = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val symbolOk = symbolCnt / nWords <= maxSymbolWordRatio
    val alphaOk = alphaWords / nWords >= minAlphaWordRatio
    val stopOk = stopHits >= 2
    struct(
      wordCountOk.as("word_count_ok"),
      meanLenOk.as("mean_word_len_ok"),
      symbolOk.as("symbol_ratio_ok"),
      alphaOk.as("alpha_ratio_ok"),
      stopOk.as("stopword_ok"),
      (wordCountOk && meanLenOk && symbolOk && alphaOk && stopOk).as("pass"))
  }

  /** In-document repetition: fraction of duplicate lines (paragraph-level
    * repetition signal from the same heuristic family). */
  def duplicateLineFraction(text: Column): Column =
    // Let-bound: `lines` is referenced three times below; unbound, the
    // split+filter would run three times per row (see graft.functions.Let).
    Let.bind(filter(split(text, "\n"), l => l.rlike("\\S")))(lines =>
      when(size(lines) === 0, 0.0).otherwise(
        (size(lines) - size(array_distinct(lines))).cast("double") / size(lines)))

  /** Rolling-hash document sketch (winnowing-style): polynomial rolling
    * hash over character n-grams, keep the k smallest distinct hashes.
    * Sketch overlap ≈ content overlap; robust to small edits anywhere in
    * the document. Deterministic UDF. */
  private def rollingSketch(text: String, k: Int, n: Int): Array[Long] = {
    if (text == null || text.length < n) return Array.empty
    val B = 1000003L
    var bp = 1L // B^(n-1), wrapping
    var i = 0
    while (i < n - 1) { bp *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < n) { h = h * B + text.charAt(i); i += 1 }
    val seen = scala.collection.mutable.TreeSet[Long](h)
    i = n
    while (i < text.length) {
      h = (h - text.charAt(i - n) * bp) * B + text.charAt(i)
      seen += h
      if (seen.size > k) seen -= seen.last
      i += 1
    }
    seen.toArray
  }

  private lazy val sketchUdf =
    udf((text: String, k: Int, n: Int) => rollingSketch(text, k, n))

  /** k-min rolling-hash fingerprint column (char `n`-grams). */
  def rollingFingerprint(text: Column, k: Int = 8, n: Int = 16): Column =
    sketchUdf(text, lit(k), lit(n))

  /** Sketch overlap ratio in [0,1] between two fingerprints. */
  def sketchOverlap(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(a), size(b)).cast("double")

  /** Winnowing parameters: token k-grams, window of w gram hashes, hot
    * fingerprint df-cap, min shared fingerprints to report a pair. */
  val WinnowK = 6
  val WinnowW = 8
  val WinnowMaxDf = 50
  val WinnowMinShared = 2

  /** Winnowing fingerprint set (Schleimer–Wilkerson–Aiken / MOSS): hash
    * every k-token gram, slide a w-wide window over the positional hash
    * sequence, keep each window's minimum. Unlike the k-min sketch above
    * ([[rollingFingerprint]]), winnowing carries a COVERAGE GUARANTEE:
    * any shared token run of length ≥ k+w-1 yields ≥ 1 shared
    * fingerprint, at expected density 2/(w+1) — the property plagiarism
    * and near-dup detectors rely on. Pure Column expressions (no UDF);
    * the md5-hex lexicographic minimum is engine-portable, the same
    * portability precedent as the MinHash signatures
    * ([[Dedup.minhashSignatures]]). Docs with fewer than k+w-1 tokens
    * produce an empty set (too short to winnow). */
  def winnowFingerprints(text: Column, k: Int = WinnowK, w: Int = WinnowW): Column = {
    // Both the token split and the gram-hash array are [[Let.bind]]-bound:
    // a naive `transform(seq, j => array_min(slice(grams, j, w)))` would
    // re-evaluate the ENTIRE md5 gram array for every window start
    // (O(m²) md5 calls per document; measured 5.4 s → 1.1 s for
    // 750 ×50-token docs when bound).
    val toks = tokens(text)
    val m0 = size(toks) - (k - 1) // gram count (guard; one cheap split)
    // CaseWhen evaluates only the matching branch, so the descending
    // sequence() a short doc would produce is never constructed.
    when(m0 >= w,
      Let.bind(toks) { ts =>
        val m = size(ts) - (k - 1)
        Let.bind(transform(sequence(lit(1), m),
            i => md5(concat_ws(" ", slice(ts, i, lit(k)))))) { gs =>
          array_distinct(transform(sequence(lit(1), m - (w - 1)),
            j => array_min(slice(gs, j, lit(w)))))
        }
      })
      .otherwise(typedlit(Seq.empty[String]))
  }

  /** The q_winnow_pairs input corpus: 1-in-10 document sample plus
    * planted order-preserving mutations (doc_id % 20 == 0 re-keyed +30M
    * with ~1/16 of token TYPES dropped by a portable md5 coin — long
    * identical runs survive, so the coverage guarantee fires). Exposed
    * for the spec's independent false-positive check. */
  def winnowCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), col("text"))
    // Order-preserving token drop: winnowing is positional, so the
    // planted copy must keep surviving tokens in sequence (contrast the
    // set-semantics plant in Dedup.prefixJoinQuery). base_id renamed
    // before the lambda for the same alias-shadowing reason documented
    // there.
    val planted = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .withColumnRenamed("doc_id", "base_id")
      .select((col("base_id") + 30000000L).as("doc_id"),
        array_join(filter(split(col("text"), " "),
          t => substring(md5(concat(col("base_id").cast("string"), lit("|"), t)), 1, 1) =!= "0"),
          " ").as("text"))
    base.unionByName(planted)
  }

  /** q_winnow_pairs: near-dup pairs by shared winnowing fingerprints over
    * [[winnowCorpus]]. Each fingerprint row explodes once into a
    * [[Silver]] scratch table; hot fingerprints (df > [[WinnowMaxDf]])
    * are dropped before the self-join — the same df-cap that keeps the
    * shingle join ([[Dedup.jaccardPairsFrom]]) from going quadratic on
    * boilerplate, replayed exactly in the oracle. Output (d1, d2,
    * shared), pairs with ≥ [[WinnowMinShared]] shared fingerprints. */
  def winnowPairsQuery(spark: SparkSession, dir: String): DataFrame = {
    val corpus = winnowCorpus(spark, dir)
    val fps = Silver.scratch(
      corpus.select(col("doc_id"),
        explode(winnowFingerprints(col("text"))).as("fp")),
      "winnow_fp")
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= lit(WinnowMaxDf))
    val keyed = fps.join(rare.select("fp"), "fp")
    keyed.as("x").join(keyed.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= WinnowMinShared)
      .orderBy("d1", "d2")
  }

  /** Heuristic language ID: CJK script detection, then per-language
    * stopword voting. Pure expression (no UDF); returns a 2-letter code or
    * 'und'. The synthetic corpus's `lang` column is a random label over a
    * shared English vocabulary, so this is spec-tested on real multilingual
    * samples rather than oracle-checked.
    */
  def langIdHeuristic(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "is", "with", "for"),
      "de" -> Seq("der", "die", "das", "und", "nicht", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "dans"),
      "es" -> Seq("el", "los", "las", "es", "y", "en"))
    val toks = array_distinct(split(lower(text), "[^\\p{L}]+"))
    val votes = markers.map { case (code, ws) =>
      struct(
        size(array_intersect(toks, array(ws.map(lit): _*))).as("hits"),
        lit(code).as("code"))
    }
    val best = array_max(array(votes: _*))
    // Kana before Han: Hiragana/Katakana are exclusively Japanese, so any
    // kana → "ja" even when Han (shared by both languages) is also
    // present; Han alone → "zh". The old single cjk→"zh" bucket misrouted
    // every Japanese document into the Chinese stratum.
    when(text.rlike("[\\p{IsHiragana}\\p{IsKatakana}]"), lit("ja"))
      .when(text.rlike("\\p{IsHan}"), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("code"))
      .otherwise(lit("und"))
  }

  /** q_lang_id: [[langIdHeuristic]] applied per document — the vote is
    * pure relational math (distinct letter-run tokens ∩ per-language
    * marker lists, argmax with the struct tie-break: highest hits, then
    * lexicographically largest code), so DuckDB replays it exactly
    * (list_intersect + a CASE ladder in fr>es>en>de order). The corpus
    * is English-vocabulary synthetic, so the interesting outcome space
    * is en vs und plus the stray short-marker hits ('en'/'es'/'y' are
    * Spanish markers) — the tie-break path does fire. */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), langIdHeuristic(col("text")).as("lang_id"))
      .orderBy("doc_id")

  /** Per-document stats + fingerprint (oracle-checked). */
  def docStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      tokenCount(t).as("token_cnt"),
      uniqueTokenCount(t).as("uniq_cnt"),
      avgTokenLen(t).as("avg_token_len"),
      (stopwordCount(t).cast("double") / tokenCount(t)).as("stop_ratio"),
      qualityScore(t).as("quality_score"),
      fingerprint(t).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Per-document quality gate (oracle-checked): Gopher flags flattened
    * to boolean columns. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val flags = gopherQualityFlags(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      flags.getField("word_count_ok").as("word_count_ok"),
      flags.getField("mean_word_len_ok").as("mean_word_len_ok"),
      flags.getField("symbol_ratio_ok").as("symbol_ratio_ok"),
      flags.getField("alpha_ratio_ok").as("alpha_ratio_ok"),
      flags.getField("stopword_ok").as("stopword_ok"),
      flags.getField("pass").as("pass"))
      .orderBy("doc_id")
  }

  /** PII patterns for redaction. Deliberately RE2-safe (no lookaround,
    * no backreferences, greedy simple classes only) so Java regex (Spark)
    * and RE2 (DuckDB, and the Go/Rust scanners a corpus pipeline pairs
    * with) produce byte-identical matches — a redaction step whose output
    * differs per engine poisons downstream dedup fingerprints. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d[\\d ]{6,14}\\d"

  /** Redact emails, IPv4s, and international-format phone numbers with
    * typed placeholders. Application order matters (emails before phones
    * so digit runs inside addresses aren't half-eaten): email → ip →
    * phone. Pure codegen expression — no UDF in the per-document path. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of matches for a PII pattern (pre-redaction audit metric). */
  def piiCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern)).cast("long")

  /** q_pii_redact: round-trip PII scrubbing oracle. The corpus text is
    * clean by construction, so each doc gets deterministic synthetic PII
    * (derived from doc_id) appended; the operator under test then
    * redacts it. DuckDB rebuilds the same injected text and applies the
    * same RE2 patterns — any cross-engine divergence in regex semantics
    * or replacement order breaks the md5 match. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      lit(" contact p"), col("doc_id"), lit("@mail.example.com now from 10.0."),
      pmod(col("doc_id"), lit(256L)), lit("."), pmod(col("doc_id"), lit(100L)),
      lit(" or call +1555000"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("txt"))
      .select(
        col("doc_id"),
        piiCount(col("txt"), EmailRe).as("n_emails"),
        piiCount(col("txt"), Ipv4Re).as("n_ips"),
        piiCount(col("txt"), PhoneRe).as("n_phones"),
        md5(redactPii(col("txt"))).as("redacted_md5"),
        length(redactPii(col("txt"))).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  /** BPE-ish pre-tokenization regex: letter runs, digit runs, and symbol
    * runs, each optionally absorbing one leading space — the GPT-2
    * pre-tokenizer shape minus its lookahead (RE2-safe, so Spark/Java and
    * DuckDB/RE2 count identically; see [[EmailRe]] rationale). Against
    * whitespace counting this splits "v2.0!" into [v, 2, ., 0, !] — the
    * token-budget difference is exactly what an LLM cost estimate needs. */
  val BpeIshRe = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count (pure codegen regexp_count, no UDF). */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeIshRe)).cast("long")

  /** q_token_stats: whitespace vs BPE-ish token accounting. The corpus
    * text is pure lowercase words, where the two tokenizers agree — so
    * each doc gets a deterministic mixed-content suffix (version string,
    * price, punctuation derived from doc_id) appended before counting;
    * `fertility` = chars per BPE-ish token, the cost metric tokenizer
    * comparisons report. Single scan, per-row expressions only. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      lit(" v"), pmod(col("doc_id"), lit(10L)), lit("."), pmod(col("doc_id"), lit(7L)),
      lit(", cost $"), pmod(col("doc_id"), lit(100L)), lit("!"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("txt"))
      .select(
        col("doc_id"),
        size(split(col("txt"), " ")).cast("long").as("ws_tokens"),
        bpeishTokenCount(col("txt")).as("bpe_tokens"),
        length(col("txt")).cast("long").as("chars"))
      .withColumn("fertility",
        round(col("chars").cast("double") / col("bpe_tokens").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language (q_fertility): corpus-level
    * tokens-per-word and chars-per-token by `lang` — the number a
    * tokenizer evaluation reports per language (a high tokens/word
    * stratum is under-served by the vocabulary and inflates its
    * training cost). Same injected mixed-content suffix and BPE-ish
    * regex as [[tokenStats]], but rolled up over each language stratum:
    * all three counters sum exactly in longs, and the two ratios are
    * one terminal double division each. One scan, one 5-row shuffle. */
  def fertilityByLang(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      lit(" v"), pmod(col("doc_id"), lit(10L)), lit("."), pmod(col("doc_id"), lit(7L)),
      lit(", cost $"), pmod(col("doc_id"), lit(100L)), lit("!"))
    Tables.documents(spark, dir)
      .select(col("lang"), injected.as("txt"))
      .select(col("lang"),
        size(split(col("txt"), " ")).cast("long").as("ws"),
        regexp_count(col("txt"), lit(BpeIshRe)).cast("long").as("bpe"),
        length(col("txt")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("chars")).as("chars"))
      .withColumn("tokens_per_word",
        col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
      .withColumn("chars_per_token",
        col("chars").cast("double") / col("bpe_tokens").cast("double"))
      .orderBy("lang")
  }

  /** q_quality_trim: percentile-based quality trimming accounting — per
    * language, how many documents survive dropping the bottom `minPct`
    * by [[qualityScore]], and the lowest surviving score. percent_rank
    * is ordered by the score alone (ties share a rank in both engines,
    * so the cut is deterministic without a tiebreak column).
    *
    * Scale: the window partitions by language — strata are few and
    * wide, so at 100 TB the same cut comes from one approx-quantile
    * pass per stratum ([[graft.operators.Approx.quantiles]]) broadcast
    * back as a threshold, not a full per-stratum sort; the exact window
    * form here is the oracle-checkable spec of the semantics. */
  def qualityTrim(spark: SparkSession, dir: String,
                  minPct: Double = 0.2): DataFrame =
    qualityTrimFrom(Tables.documents(spark, dir), minPct)

  /** [[qualityTrim]] over an explicit (lang, doc_id, text) frame. */
  def qualityTrimFrom(docs: DataFrame, minPct: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("lang"), col("doc_id"), qualityScore(col("text")).as("qs"))
      .withColumn("pr", percent_rank().over(
        Window.partitionBy(col("lang")).orderBy(col("qs"))))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs_total"),
        sum(when(col("pr") >= minPct, 1L).otherwise(0L)).as("docs_kept"),
        round(min(when(col("pr") >= minPct, col("qs"))), 6).as("min_kept_score"))
      .orderBy("lang")
  }

  /** The cluster-scale form of [[qualityTrimFrom]]: instead of a full
    * per-stratum sort for percent_rank, ONE pass computes each stratum's
    * `minPct` quantile with a mergeable GK sketch (fixed memory,
    * map-side combinable), and the tiny (lang → threshold) frame
    * broadcasts back onto the corpus as a plain filter. No window, no
    * per-stratum sort — the only wide operation left is the slim
    * quantile aggregate. Keep/drop decisions may differ from the exact
    * cut only for docs within the sketch's rank-error band of the
    * threshold (bounded by `accuracy`). */
  def qualityTrimApproxFrom(docs: DataFrame, minPct: Double = 0.2,
                            accuracy: Int = 10000): DataFrame = {
    val scored = docs
      .select(col("lang"), col("doc_id"), qualityScore(col("text")).as("qs"))
    val thresholds = scored.groupBy("lang")
      .agg(percentile_approx(col("qs"), lit(minPct), lit(accuracy)).as("qs_cut"))
    scored.join(broadcast(thresholds), "lang")
      .filter(col("qs") >= col("qs_cut"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_kept"),
        round(min(col("qs")), 6).as("min_kept_score"))
      .orderBy("lang")
  }

  /** q_repetition: Gopher-style in-document repetition signals — the
    * filters that catch boilerplate/spam the perplexity-free way
    * (Rae et al. 2021 §A1.1: top-n-gram fraction, duplicate-n-gram
    * fraction). Per document:
    *   - `top_word_frac`   — tokens taken by the single most frequent
    *     token (Gopher cuts docs where the top word is > 7.5% after
    *     stopword exclusion);
    *   - `top_bigram_frac` — occurrences of the most frequent bigram
    *     over all bigram occurrences (> 18% → cut);
    *   - `dup_trigram_frac`— fraction of trigram occurrences that are
    *     repeats of an earlier trigram (> 16% → cut).
    *
    * All three are (doc_id, gram) aggregates: the shuffle key is
    * doc-local, so partition width is bounded by document length — no
    * corpus-wide hotspot at 100 TB. Ratios are long/long single IEEE
    * divisions (correctly rounded, so exact cross-engine).
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    def grams(n: Int): Column =
      if (n == 1) col("toks")
      else when(size(col("toks")) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
    def perDoc(n: Int): DataFrame = docs
      .select(col("doc_id"), explode(grams(n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as(s"max_$n"), sum(col("c")).as(s"tot_$n"),
        count(lit(1)).as(s"distinct_$n"))
    perDoc(1).join(perDoc(2), "doc_id").join(perDoc(3), "doc_id")
      .select(
        col("doc_id"),
        (col("max_1").cast("double") / col("tot_1").cast("double"))
          .as("top_word_frac"),
        (col("max_2").cast("double") / col("tot_2").cast("double"))
          .as("top_bigram_frac"),
        ((col("tot_3") - col("distinct_3")).cast("double") / col("tot_3").cast("double"))
          .as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** q_url_stats: URL canonicalization round trip — synthesize a
    * crawl-shaped URL per document (host from `source`, path from
    * lang/doc_id, a tracking-parameter mix cycling by doc_id mod 3, a
    * fragment), run the [[graft.functions.Urls]] family, and aggregate
    * per domain. The oracle rebuilds the same URLs and the same
    * canonicalization in SQL (every regex RE2-safe), so the parse +
    * cleanup + dedup-key path is verified end to end — the crawl-frontier
    * hygiene step of a web corpus (tracking params would otherwise split
    * one logical page into many "unique" URLs). */
  def urlStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Urls
    val url = concat(
      lit("https://"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".example.com/"), col("lang"),
      lit("/doc-"), col("doc_id"),
      when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(7))))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("?id="), pmod(col("doc_id"), lit(7)),
            lit("&utm_campaign=x&ref=kept")))
        .otherwise(lit("")),
      lit("#frag"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        Urls.domain(col("url")).as("domain"),
        Urls.canonicalize(col("url")).as("canon"))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("doc_cnt"),
        countDistinct(col("canon")).as("distinct_urls"),
        sum(when(col("canon").contains("?"), 1L).otherwise(0L)).as("with_params"))
      .orderBy("domain")
  }

  /** q_novelty — per-document shingle novelty in ingestion (doc_id)
    * order: the fraction of a document's distinct word 3-grams never seen
    * in any earlier document. The corpus-growth curve behind "is more
    * crawl still adding content?" decisions (heap's-law monitoring), and
    * the doc-level score behind novelty-weighted sampling.
    *
    * Scale shape: NO self-join and NO window over the corpus — first
    * occurrence is `min(doc_id)` per shingle, a partial-combining
    * aggregate (a boilerplate shingle duplicated across millions of docs
    * collapses map-side, exactly where the skew is), and per-doc novel
    * counts are a second aggregate over that (one row per DISTINCT
    * shingle, grouped by its first doc). The only join is per-doc ⋈
    * per-doc at the end. Documents shorter than the shingle width carry
    * no shingles and are absent, matching the oracle's group-by.
    */
  def novelty(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(Dedup.shingles(col("toks"))).as("sh"))
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("sh").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
  }

  /** q_novelty over the documents table, ordered by doc_id. */
  def noveltyCurve(spark: SparkSession, dir: String): DataFrame =
    novelty(Tables.documents(spark, dir)).orderBy("doc_id")

  /** q_source_overlap — pairwise source-level shingle Jaccard: which
    * sources duplicate each other's content. The source-selection /
    * mixing-weight diagnostic of a multi-crawl corpus (two mirrors of the
    * same site should not both get full weight).
    *
    * Scale shape: the naive form is a shingle self-join (quadratic in hot
    * shingles). Instead: distinct (source, shingle) → `collect_set
    * (source)` per shingle — bounded by the SOURCE cardinality (a small
    * constant: tens-to-thousands of crawls, never corpus-sized) — then
    * explode the ≤ |S|² ordered pairs per shingle and count. Per-source
    * sizes broadcast back (|S| rows). Intersection-empty pairs are
    * absent, matching the oracle join.
    */
  def overlapBySource(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(Dedup.shingles(col("toks"))).as("sh"))
      .distinct()
    val perSource = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = sh.groupBy("sh").agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) > 1)
      .select(explode(col("srcs")).as("s1"), col("srcs"))
      .select(col("s1"), explode(col("srcs")).as("s2"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(perSource.select(col("source").as("s1"), col("n_sh").as("n1"))), "s1")
      .join(broadcast(perSource.select(col("source").as("s2"), col("n_sh").as("n2"))), "s2")
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .select("s1", "s2", "n1", "n2", "inter", "jac")
  }

  /** q_source_overlap over the documents table, ordered by pair. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    overlapBySource(Tables.documents(spark, dir)).orderBy("s1", "s2")

  /** Corpus rollup by language label. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("n_chars")).as("char_sum"),
        countDistinct(col("source")).as("source_cnt"))
      .withColumn("avg_chars", col("char_sum").cast("double") / col("cnt"))
      .orderBy("lang")

  /** Per-source language concentration (q_simpson): Simpson's index
    * Σ cᵢ(cᵢ−1) / (N(N−1)) over each source's language counts — the
    * probability two random docs from the source share a language
    * (1 = monolingual, →0 = maximally diverse; the Herfindahl cousin the
    * diversity literature standardized on). The corpus-balance metric
    * read next to the [[graft.scale.TrainingData.datasetCard]].
    *
    * Both numerator and denominator are exact longs (counts are corpus-
    * bounded; cᵢ(cᵢ−1) ≪ 2⁶³); `simpson` is the single IEEE division.
    * Two keyed aggregates, |source|×|lang|-bounded shuffle. */
  /** Language-ID evaluation (q_langid_eval): confusion cells of
    * [[langIdHeuristic]] against the corpus's labeled `lang` — the
    * accuracy report a pipeline owner reads before trusting the cheap
    * classifier to route 100 TB. One pass classifies, one map-side-
    * combining aggregate builds the |langs|²-bounded cell frame;
    * `recall_share` is each cell's fraction of its true-label row. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("lang"), langIdHeuristic(col("text")).as("pred"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("lang").agg(sum(col("n")).as("n_lang"))
    cells.join(broadcast(rowTot), "lang")
      .select(col("lang"), col("pred"), col("n"),
        (col("lang") === col("pred")).as("is_correct"),
        (col("n").cast("double") / col("n_lang").cast("double"))
          .as("recall_share"))
      .orderBy("lang", "pred")
  }

  /** Per-class precision/recall/F1 (q_f1): the classification report
    * over [[langIdEval]]'s confusion cells — tp/fp/fn are exact counts
    * from the |langs|²-bounded cell frame (never the doc stream), and
    * each metric is ONE division of exact counts: F1 is emitted as
    * 2·tp/(2·tp+fp+fn), the algebraic form that avoids chaining the
    * p·r/(p+r) floats. */
  def f1Report(spark: SparkSession, dir: String): DataFrame = {
    val cells = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("lang"), langIdHeuristic(col("text")).as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n")),
      "f1_cells") // feeds the tp/fn rollup and the fp rollup
    val byTrue = cells.groupBy(col("lang").as("label"))
      .agg(sum(when(col("lang") === col("pred"), col("n")).otherwise(0L))
        .as("tp"),
        sum(when(col("lang") =!= col("pred"), col("n")).otherwise(0L))
          .as("fn"))
    val byPred = cells.filter(col("lang") =!= col("pred"))
      .groupBy(col("pred").as("label"))
      .agg(sum(col("n")).as("fp"))
    byTrue.join(byPred, Seq("label"), "left")
      .na.fill(0L, Seq("fp"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        // a label the classifier never emits has tp+fp = 0: precision
        // is undefined (NULL), matching the oracle's CASE guard
        when(col("tp") + col("fp") > 0L,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        ((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
      .orderBy("label")
  }

  /** Boilerplate prefixes (q_boilerplate): the most-repeated 5-token
    * document openings — the cheap detector for injected headers/
    * templates that exact-dedup misses (bodies differ) and shingle
    * near-dup only catches pairwise. GroupBy on the prefix string is one
    * map-side-combining shuffle; output is top-20 by support. */
  def boilerplatePrefixes(spark: SparkSession, dir: String,
                          k: Int = 20): DataFrame = {
    val toks = split(col("text"), " ")
    // Two-level aggregate for the distinct-source count — the house
    // no-Expand discipline (a count(DISTINCT) beside other aggregates
    // would plan an Expand over the doc stream).
    val lvl1 = Tables.documents(spark, dir)
      .filter(size(toks) >= 5)
      .select(array_join(slice(toks, 1, 5), " ").as("prefix"),
        col("source"), col("n_chars"))
      .groupBy("prefix", "source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val pref = lvl1.groupBy("prefix")
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("chars")).as("total_chars"))
      .filter(col("n_docs") >= 2)
    graft.operators.Ranking.topK(pref, k,
      col("n_docs").desc, col("prefix").asc)
  }

  /** Dedup survivorship report (q_dedup_savings): per source, what
    * keep-first exact dedup would delete — doc and char savings under
    * the min-doc_id keeper policy (the [[graft.operators.Merge]]
    * first-writer-wins convention applied to content identity). The
    * keeper is a per-fingerprint min; everything else is one join back
    * and a per-source rollup. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        fingerprint(col("text")).as("fp"))
    val keeper = docs.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
    docs.join(keeper, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(0L)).as("chars_saved"))
      .withColumn("removal_rate",
        col("n_removed").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** Cohen's kappa for the language-ID heuristic vs the gold labels
    * (q_kappa) — chance-corrected agreement over [[langIdEval]]'s
    * confusion cells: the single-number answer to "is the classifier
    * better than the marginal-frequency coin?"
    *
    * Everything reduces to three exact integers on the |langs|²-bounded
    * cell frame: n, the diagonal mass, and Σᵢ rtᵢ·ctᵢ (the chance-
    * agreement numerator; the inner join on label drops labels that
    * appear only as truth or only as prediction — their product term is
    * zero anyway). κ = (n·diag − Σrt·ct)/(n² − Σrt·ct) is then ONE
    * division of exact decimal(38,0) values, and po/pe are each a
    * single-op chain — no float accumulation anywhere. One doc-stream
    * pass total; every later frame is ≤ |langs|² rows. */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cells = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("lang"), langIdHeuristic(col("text")).as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n")),
      "kappa_cells") // feeds tot, rt and ct
    val rt = cells.groupBy(col("lang").as("label")).agg(sum(col("n")).as("rt"))
    val ct = cells.groupBy(col("pred").as("label")).agg(sum(col("n")).as("ct"))
    val tot = cells.agg(sum(col("n")).as("n"),
      sum(when(col("lang") === col("pred"), col("n")).otherwise(0L))
        .as("diag"))
    val e = rt.join(ct, "label")
      .agg(coalesce(sum(col("rt").cast(d38) * col("ct")), lit(0L).cast(d38))
        .cast("long").as("sum_e"))
    tot.crossJoin(e)
      .select(col("n"), col("diag"), col("sum_e"),
        (col("diag").cast("double") / col("n").cast("double")).as("po"),
        (col("sum_e").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("pe"),
        ((col("n").cast(d38) * col("diag") - col("sum_e")).cast("double") /
          (col("n").cast(d38) * col("n") - col("sum_e")).cast("double"))
          .as("kappa"))
  }

  /** Burrows' delta stylometry between sources (q_stylometry): the
    * classic authorship-attribution distance — per source the relative
    * frequency of the corpus' top-`topT` terms, z-scored per term
    * across sources, delta(a,b) = mean |z_a − z_b|. Here it answers
    * "which document sources share a template/house style?" — the
    * stylistic companion to the content-overlap report
    * (q_source_overlap).
    *
    * Exactness: relative frequencies quantize to the integer grid
    * rq = (c·10⁹) div T_source (truncating, non-negative); per-term
    * moments over sources are exact, and z = (n·rq − Σrq)/√(n·Σrq²
    * −(Σrq)²) is one division after a portable sqrt. The cross-source
    * |z| sums go through the floor-witness device (Σ floor(|Δz|·10⁶) —
    * order-free long accumulation). Zero-variance terms are excluded
    * (z undefined); n_terms reports the effective divisor.
    *
    * Scale shape: one token explode + (source, term) count (map-side
    * combining), top-term selection via TakeOrderedAndProject; every
    * later frame is |sources|·topT or smaller. */
  def burrowsDelta(spark: SparkSession, dir: String,
                   topT: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val st = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
        .groupBy("source", "term")
        .agg(count(lit(1)).as("c")),
      "delta_st") // feeds top terms, source totals, and the rq spine
    val top = st.groupBy("term").agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("term").asc).limit(topT)
      .select("term")
    val totals = st.groupBy("source").agg(sum(col("c")).as("t"))
    val rq = totals.crossJoin(top)
      .join(st, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        expr("(coalesce(c, 0L) * 1000000000) div t").as("rq"))
    val perTerm = rq.groupBy("term")
      .agg(count(lit(1)).as("n"), sum(col("rq")).as("s"),
        sum(col("rq").cast(d38) * col("rq").cast(d38)).as("qq"))
      .withColumn("vnum",
        col("n").cast(d38) * col("qq") -
          col("s").cast(d38) * col("s").cast(d38))
      .filter(col("vnum") > 0)
    val z = rq.join(broadcast(perTerm), "term")
      .select(col("source"), col("term"),
        ((col("n").cast(d38) * col("rq") - col("s")).cast("double") /
          sqrt(col("vnum").cast("double"))).as("z"))
    z.as("a").join(broadcast(z.as("b")),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(floor(abs(col("a.z") - col("b.z")) * lit(1000000.0))
          .cast("long")).as("delta_e6"))
      .withColumn("delta",
        col("delta_e6").cast("double") / lit(1000000.0) /
          col("n_terms").cast("double"))
      .orderBy("src_a", "src_b")
  }

  def languageSimpson(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(col("c") * (col("c") - 1)).as("num"))
      .filter(col("n_docs") > 1)
      .withColumn("simpson",
        col("num").cast("double") / (col("n_docs") * (col("n_docs") - 1)))
      .select("source", "n_docs", "n_langs", "simpson")
      .orderBy("source")

  /** Content-defined chunking profile (q_cdc_chunks): split every
    * document at ROLLING-HASH boundaries (a token position is a cut
    * when the md5 of its closing trigram ≡ 0 mod `targetLen`) and
    * report the per-source chunk-length distribution — the CDC primitive
    * behind dedup-friendly storage and shift-robust corpus chunking
    * (insert one token and only the local chunk changes, unlike the
    * fixed-stride [[chunkDocuments]] where every downstream chunk
    * shifts). The length profile (mean vs the targetLen design point,
    * max straggler) is the QA readout that says whether the boundary
    * hash behaves.
    *
    * Determinism: the boundary predicate is a pure md5-prefix test —
    * identical in both engines; chunk ids are exclusive running counts
    * of boundaries per document. Scale shape: one tokenize pass; the
    * lag/cumsum windows are partitioned BY DOCUMENT (bounded by doc
    * length — the chunkDocuments precedent, never a corpus-wide
    * window); the rollup is map-side-combining on (source, doc, chunk)
    * then source. */
  def cdcChunksQuery(spark: SparkSession, dir: String,
                     targetLen: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val flagged = toks
      .withColumn("l1", lag(col("tok"), 1).over(byDoc))
      .withColumn("l2", lag(col("tok"), 2).over(byDoc))
      .withColumn("cut",
        when(col("pos") >= 2 &&
          conv(substring(md5(concat_ws(" ", col("l2"), col("l1"), col("tok"))),
            1, 8), 16, 10).cast("long") % targetLen === 0L, 1L)
          .otherwise(0L))
      // a cut token CLOSES its chunk: id = boundaries strictly before pos
      .withColumn("chunk_idx",
        coalesce(sum(col("cut")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = flagged
      .groupBy(col("source"), col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("len"))
    chunks.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum(col("len")).as("n_tokens"),
        max(col("len")).as("max_len"))
      .withColumn("mean_len",
        col("n_tokens").cast("double") / col("n_chunks").cast("double"))
      .orderBy("source")
  }

  /** Quantile normalization of document length across sources
    * (q_quantile_norm): each source's length distribution is mapped onto
    * the cross-source mean distribution at every rank — the batch-effect
    * remover (classic microarray device) applied to corpus curation: it
    * answers "what would this source's docs look like if every source
    * shared one length distribution?", the preprocessing step before
    * source-mix decisions compare quality metrics that correlate with
    * length.
    *
    * Within-source ranks come from ONE distributed global rank over the
    * composite (source, n_chars, doc_id) order minus each source's
    * broadcast min-rank offset (the [[graft.operators.Analytics
    * .giniBySegment]] device — no corpus-proportional window partition).
    * The per-rank reference value is Σlen/cnt across sources — exact
    * longs, one division. */
  /** Moving-average type-token ratio per source (q_mattr): lexical
    * diversity measured as the mean share of DISTINCT tokens in every
    * sliding 25-token window — the length-robust diversity metric
    * (plain TTR shrinks with document length by Heaps' law; MATTR
    * doesn't), a standard axis on a corpus quality card.
    *
    * The naive form scans W tokens per window (O(n·W)); this is the
    * O(n) difference-array form: a token at position p with previous
    * same-type occurrence at prev is a within-window duplicate exactly
    * for windows ending in [p, prev+W−1], so it contributes +1 at p and
    * −1 at prev+W to a per-document delta array, and ONE running sum
    * over positions yields every window's duplicate count. Windows
    * never materialize; counts are exact integers end-to-end and the
    * per-source MATTR is one division (Σ distinct)/(W·Σ windows).
    *
    * Scale shape: the lag window partitions by (doc, term) and the
    * running sum by doc — both bounded by DOCUMENT length, the one
    * window family this repo allows. Everything else is map-side
    * aggregation. */
  def mattrQuery(spark: SparkSession, dir: String, w: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksP = Silver.scratch(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("p", "term")))
        .select(col("doc_id"), col("source"), col("p").cast("long").as("p"),
          col("term")),
      "mattr_toks") // feeds the gap pass AND the position spine
    val byTok = Window.partitionBy(col("doc_id"), col("term"))
      .orderBy(col("p"))
    val gaps = toksP
      .withColumn("prev", lag(col("p"), 1).over(byTok))
      .filter(col("prev").isNotNull && col("p") - col("prev") <= (w - 1).toLong)
    val deltas = gaps.select(col("doc_id"), col("p").as("pos"), lit(1L).as("d"))
      .unionAll(gaps.select(col("doc_id"), (col("prev") + w.toLong).as("pos"),
        lit(-1L).as("d")))
      .groupBy("doc_id", "pos").agg(sum(col("d")).as("d"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toksP.select(col("doc_id"), col("source"), col("p").as("pos"))
      .join(deltas, Seq("doc_id", "pos"), "left")
      .na.fill(0L, Seq("d"))
      .withColumn("dup", sum(col("d")).over(byPos))
      .filter(col("pos") >= (w - 1).toLong) // complete windows only
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_windows"),
        sum(lit(w.toLong) - col("dup")).as("sum_distinct"))
      .withColumn("mattr", col("sum_distinct").cast("double") /
        (lit(w.toLong) * col("n_windows")).cast("double"))
      .orderBy("source")
  }

  def quantileNormQuery(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.operators.Ranking.distributedGlobalRank(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars")),
      Seq(col("source").asc, col("n_chars").asc, col("doc_id").asc),
      rankCol = "__g", nCol = "__n")
    val offsets = ranked.groupBy(col("source").as("__src"))
      .agg(min(col("__g")).as("__g0"))
    val within = Silver.scratch(
      ranked.join(broadcast(offsets), col("source") === col("__src"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("__g") - col("__g0") + 1L).as("r")),
      "qnorm_ranked") // feeds the per-rank reference AND the final join
    val ref = within.groupBy("r")
      .agg(sum(col("n_chars")).as("s"), count(lit(1)).as("c"))
      .select(col("r"),
        (col("s").cast("double") / col("c").cast("double")).as("norm_len"))
    within.join(ref, "r")
      .select(col("source"), col("r"), col("doc_id"), col("n_chars"),
        col("norm_len"))
      .orderBy("source", "r")
  }

  /** Flesch–Kincaid readability histogram over the corpus
    * (q_readability): per document the word count, a syllable proxy
    * (vowel-group runs — the standard codeless approximation), and the
    * sentence count (punctuation runs, floored at 1 — the synthetic
    * corpus has no sentence punctuation, so S=1 throughout, which the
    * formula tolerates); FK grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59,
    * bucketed into 5-grade bands. The curation gate that complements
    * [[qualityScore]]'s ratio heuristics with the classic readability
    * scale.
    *
    * Exact counts throughout; FK is a fixed tree of IEEE ops per doc and
    * the bucket floor is deterministic; the rollup is one map-side-
    * combining aggregate keyed by the (bounded) bucket id. */
  def readabilityQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= ""))
          .cast("long").as("w"),
        size(expr("regexp_extract_all(text, '[aeiouy]+', 0)"))
          .cast("long").as("syl"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"))
          .as("s"))
      .filter(col("w") > 0)
      .withColumn("fk",
        lit(0.39) * (col("w").cast("double") / col("s").cast("double")) +
          lit(11.8) * (col("syl").cast("double") / col("w").cast("double")) -
          lit(15.59))
      .withColumn("bucket", floor(col("fk") / lit(5.0)).cast("long"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    docs.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_words"),
        sum(col("syl")).as("sum_syllables"))
      .crossJoin(tot)
      .select(col("bucket"), col("n_docs"), col("sum_words"),
        col("sum_syllables"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("share"))
      .orderBy("bucket")
  }

  /** Zipf's-law check over the unigram frequency table (q_zipf): the
    * top-30 tokens with their rank, the Zipf constancy witness
    * rank·freq (near-constant for a Zipfian corpus — all exact
    * integers, no logs, which this repo keeps off the oracle board),
    * and the consecutive-rank frequency ratio. The vocabulary-shape
    * diagnostic a tokenizer-budget decision reads next to q_heaps'
    * growth curve.
    *
    * Scale shape: one token-keyed map-side-combining count, global
    * top-30 via TakeOrderedAndProject; the rank/lag windows run on the
    * 30-row result frame only. */
  def zipfQuery(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.sources.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
    // k-row frame: rank + lag windows are bounded by construction
    val w = Window.orderBy(col("cnt").desc, col("token").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
      .select(col("rank"), col("token"), col("cnt"),
        (col("rank") * col("cnt")).as("zipf_c"),
        (col("cnt").cast("double") / col("prev_cnt").cast("double"))
          .as("decay"))
      .orderBy("rank")
  }
}
