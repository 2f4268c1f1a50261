package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate aggregates for interactive exploration at corpus scale:
  * exact `countDistinct` forces either an Expand (with other aggs) or a
  * two-level shuffle holding every distinct key in memory; exact
  * percentiles need a full sort. The sketch versions are one-pass,
  * mergeable (partial aggregation on the map side like any sum), and
  * fixed-memory — HyperLogLog++ for cardinality, a Greenwald-Khanna
  * variant for quantiles — which is what a 100 TB dashboard query
  * actually runs. Error is a dialed parameter, checked in spec against
  * exact answers.
  */
object Approx {

  /** Per-group approximate distinct cardinalities alongside plain aggs —
    * the shape that with exact countDistinct would pay an Expand
    * multiplication per distinct column. `rsd` = target relative
    * standard deviation of the HLL++ estimate. */
  def distinctBy(df: DataFrame, groupCols: Seq[Column],
                 distinctCols: Seq[(String, Column)],
                 rsd: Double = 0.02): DataFrame = {
    val aggs = distinctCols.map { case (name, c) =>
      approx_count_distinct(c, rsd).cast("long").as(name)
    } :+ count(lit(1)).as("row_cnt")
    df.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Approximate quantiles of `value`, one pass, no sort. `accuracy` is
    * the inverse rank-error bound (10000 ⇒ rank error ≤ 0.01%). */
  def quantiles(df: DataFrame, value: Column, probs: Seq[Double],
                accuracy: Int = 10000): DataFrame =
    df.agg(percentile_approx(value,
      array(probs.map(lit): _*), lit(accuracy)).as("quantiles"))

  /** Heavy hitters: items whose frequency exceeds `support` of all rows,
    * via Spark's distributed frequent-items sketch (Karp/Shenker/
    * Papadimitriou counter maps — bounded 1/support counters per
    * partition, merged associatively; one pass, no shuffle of the data,
    * only of the fixed-size maps). The result is a SUPERSET of the true
    * heavy hitters (false positives possible, false negatives not) —
    * exactly the guarantee a boilerplate-phrase or hot-key probe needs
    * before an exact (and expensive) groupBy confirms. Returns one row
    * per candidate item. */
  def heavyHitters(df: DataFrame, c: Column, support: Double = 0.01): DataFrame = {
    val itemsRow = df.select(c.as("hh_item")).stat.freqItems(Seq("hh_item"), support)
    itemsRow.select(explode(col("hh_item_freqItems")).as("item"))
  }

  /** EXACT heavy hitters via the sketch-then-verify two-pass: pass 1 is
    * the one-pass sketch above (≤ 1/support candidates, superset
    * guarantee — no false negatives), pass 2 counts ONLY candidate rows
    * (broadcast semi-join, so the groupBy shuffles at most 1/support
    * distinct keys) and keeps items whose exact count exceeds
    * support·n. The output equals `GROUP BY item HAVING count(*) >
    * support·n` over the NON-NULL keys — null keys are excluded from
    * candidates, counts, and the default denominator alike (an equi
    * semi-join can never match a null key, so counting nulls in the
    * denominator would only make the threshold inconsistent; callers
    * passing `totalHint` must likewise supply a non-null-row total).
    * The full key cardinality is never shuffled or held in memory,
    * which is the 100 TB shape for hot-key and boilerplate-phrase
    * detection (the exact groupBy would shuffle every distinct
    * token). */
  def heavyHittersVerified(df: DataFrame, c: Column,
                           support: Double = 0.01,
                           totalHint: Option[DataFrame] = None): DataFrame = {
    val items = df.select(c.as("item")).filter(col("item").isNotNull)
    val counted = items
      .join(broadcast(heavyHitters(df, c, support)), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
    // `totalHint`: optional 1-row frame with a LONG `total` = df's row
    // count, for callers that can derive it without re-materializing the
    // item rows (e.g. sum-of-array-sizes instead of a second explode).
    val total = totalHint.getOrElse(items.agg(count(lit(1)).as("total")))
    counted.crossJoin(total)
      .filter(col("cnt").cast("double") > lit(support) * col("total").cast("double"))
      .select(col("item"), col("cnt"))
  }

  /** q_heavy_hitters: exact heavy-hitter tokens of the documents corpus
    * (support 0.5% of all token occurrences), sketch-proposed and
    * exactly verified. Tokenization matches the vocab family (plain
    * space split). The token total is summed from per-doc array sizes —
    * no third explode pass over the corpus (explode drops null/empty
    * arrays, which contribute exactly 0 to the size sum). */
  def heavyTokensQuery(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val t = split(col("text"), " ")
    val total = docs.agg(
      sum(coalesce(size(t), lit(0))).cast("long").as("total"))
    // explode_outer + isNotNull guard, not plain explode:
    // InferFiltersFromGenerate would infer isnotnull(split)/size>0 from
    // explode and pushdown then inlines the split below the corpus
    // fan-out repartition into the single-split scan stage. split of a
    // non-null string is never null (empty text gives [""]), so with
    // the guard explode_outer emits exactly explode's rows, and dropped
    // null texts contribute exactly 0 to the size-sum total.
    val toks = docs.where(col("text").isNotNull)
      .select(explode_outer(t).as("tok"))
    heavyHittersVerified(toks, col("tok"),
        support = 0.005, totalHint = Some(total))
      .orderBy("item")
  }

  /** Power-of-two histogram with quantile-bearing buckets (q_log2_hist) —
    * the DDSketch idea with base 2: bucket = bit length of the floored
    * value, so each bucket spans [2^(b−1), 2^b) and any quantile read off
    * the bucket table carries ≤ 2× relative error. Unlike the GK sketch
    * ([[quantiles]]) this layout is a PLAIN COUNT AGGREGATE: mergeable
    * across partitions/days by addition, persistable as a tiny gold
    * table, and exactly reproducible in any engine — which is why it is
    * the oracle-checkable member of the sketch family (GK's answer
    * depends on merge order; bucket counts don't).
    *
    * Scale shape: one scan + one map-side-combining aggregate to ≤64
    * rows. The cumulative pass is a bucket×bucket self-join on the
    * ≤64-row table — bounded by the value type's bit width, never by
    * data, so no window and no single-partition funnel on anything
    * corpus-sized. All quantile flags are exact integer cross-multiplies. */
  def log2Histogram(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    val b = graft.scale.Silver.scratch(
      graft.sources.Tables.orders(spark, dir)
        .select(length(bin(floor(col("o_totalprice")).cast("long")))
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt")),
      "log2_hist") // feeds the self-join twice + the total — materialize
    val cum = b.as("x").join(b.as("y"), col("y.bucket") <= col("x.bucket"))
      .groupBy(col("x.bucket").as("bucket"), col("x.cnt").as("cnt"))
      .agg(sum(col("y.cnt")).as("cum"))
    val tot = b.agg(sum(col("cnt")).as("total"))
    def holds(p: Int) = // bucket containing the p-th percentile row
      col("cum") * 100 >= col("total") * p &&
        (col("cum") - col("cnt")) * 100 < col("total") * p
    cum.crossJoin(tot)
      .withColumn("lo",
        expr("shiftleft(cast(1 as bigint), cast(bucket as int) - 1)"))
      .withColumn("is_p50", holds(50))
      .withColumn("is_p90", holds(90))
      .withColumn("is_p99", holds(99))
      .select("bucket", "cnt", "cum", "lo", "is_p50", "is_p90", "is_p99")
      .orderBy("bucket")
  }

  /** 2-D power-of-two heatmap (q_hist2d): joint distribution of lineitem
    * (quantity, extendedprice) on the same bit-length bucketization as
    * [[log2Histogram]] — the density grid behind scatter-at-scale UIs
    * and joint-skew diagnosis (which price tiers drive which volume
    * tiers). One scan, one map-side-combining aggregate to a
    * bits×bits-bounded grid (≤64² cells at ANY row count); each cell
    * carries its exact marginal bounds. */
  def hist2d(spark: org.apache.spark.sql.SparkSession,
             dir: String): DataFrame =
    graft.sources.Tables.lineitem(spark, dir)
      .select(
        length(bin(floor(col("l_quantity")).cast("long")))
          .cast("long").as("qty_bucket"),
        length(bin(floor(col("l_extendedprice")).cast("long")))
          .cast("long").as("price_bucket"))
      .groupBy("qty_bucket", "price_bucket")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("qty_bucket", "price_bucket")

  /** Count-Min Sketch accuracy report (q_cms): build a depth×width CMS
    * over part frequencies, then compare its estimate against truth for
    * the top-k parts — the sketch a streaming frequency service keeps
    * in O(d·w) memory, with its one-sided error made visible
    * (est ≥ true always; the report shows by how much).
    *
    * Scale shape: counts reduce FIRST (one fact shuffle to the
    * dimension-sized part-count table); the sketch is then built from
    * those counts — for count queries `cms[j][b] = Σ_{h_j(p)=b} c_p` is
    * identical to hashing every fact row, at d×|parts| cost instead of
    * d×|facts|. Hashes are the repo's engine-portable md5-prefix 60-bit
    * device, seeded per row j. The d·w-cell sketch broadcasts to the
    * estimate join. */
  def countMinSketch(spark: org.apache.spark.sql.SparkSession, dir: String,
                     depth: Int = 4, width: Int = 256, k: Int = 20): DataFrame = {
    val counts = graft.scale.Silver.scratch(
      graft.sources.Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("c")),
      "cms_counts") // feeds the sketch build AND the top-k truth
    val bucket = pmod(
      conv(substring(md5(concat(col("j").cast("string"), lit("|"),
        col("p").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(width.toLong))
    val exploded = counts
      .select(col("p"), col("c"),
        explode(array((0 until depth).map(j => lit(j.toLong)): _*)).as("j"))
      .withColumn("b", bucket)
    val sketch = exploded.groupBy("j", "b").agg(sum(col("c")).as("cms"))
    val top = counts.orderBy(col("c").desc, col("p").asc).limit(k)
    top
      .select(col("p"), col("c"),
        explode(array((0 until depth).map(j => lit(j.toLong)): _*)).as("j"))
      .withColumn("b", bucket)
      .join(broadcast(sketch), Seq("j", "b"))
      .groupBy("p", "c")
      .agg(min(col("cms")).as("est_cnt"))
      .select(col("p").as("part_key"), col("c").as("true_cnt"),
        col("est_cnt"), (col("est_cnt") - col("c")).as("overest"))
      .orderBy(col("true_cnt").desc, col("part_key").asc)
  }

  /** KMV distinct-count sketch (q_kmv): the k-minimum-values estimator
    * — keep the k smallest 52-bit md5-derived uniform hashes of the key
    * and estimate distinct = (k−1)/h₍ₖ₎ — the other classic mergeable
    * cardinality sketch next to [[hllEstimate]], and the one whose
    * retained sample doubles as a deterministic uniform key sample
    * (bottom-k sampling). The hash is [[
    * graft.scale.TrainingData.hashUniform]]'s 52-bit device (exact in a
    * double, engine-identical); the k-th smallest comes from a
    * TakeOrderedAndProject top-k, never a global sort; the estimate is
    * one terminal division. */
  def kmvEstimate(spark: org.apache.spark.sql.SparkSession, dir: String,
                  k: Int = 64): DataFrame = {
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 13),
      16, 10).cast("double") / lit(4503599627370496.0)
    val bottomK = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), u.as("h")).distinct()
      .orderBy(col("h").asc, col("o_orderkey").asc)
      .limit(k)
    val kth = bottomK.agg(max(col("h")).as("h_k"), count(lit(1)).as("k_got"))
    val truth = graft.sources.Tables.orders(spark, dir)
      .agg(countDistinct(col("o_orderkey")).as("true_distinct"))
    kth.crossJoin(truth)
      .withColumn("est", (col("k_got").cast("double") - lit(1.0)) / col("h_k"))
      .withColumn("rel_err",
        (col("est") - col("true_distinct").cast("double")) /
          col("true_distinct").cast("double"))
      .select(col("k_got").as("k"), col("h_k"), col("est"),
        col("true_distinct"), col("rel_err"))
  }

  /** KMV sketch MERGEABILITY (q_kmv_union): build a bottom-k sketch per
    * document source, merge the two SKETCHES (bottom-k of their union —
    * never re-touching the raw data), and estimate the union
    * cardinality — the algebra that makes sketches work at 100 TB:
    * per-partition/per-source sketches reduce associatively, so a
    * 1000-executor tree aggregation yields the same sketch as a single
    * pass. Same 52-bit md5 uniform + (k−1)/h_k estimator as
    * [[kmvEstimate]]; the exact union count rides along as the error
    * witness. Element identity is the md5 text fingerprint (the exact-
    * dedup key), so cross-source duplicates collapse correctly. */
  def kmvUnion(spark: org.apache.spark.sql.SparkSession, dir: String,
               srcA: String = "src1", srcB: String = "src2",
               k: Int = 16): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), md5(col("text")).as("fp"))
    val u = conv(substring(col("fp"), 1, 13), 16, 10).cast("double") /
      lit(4503599627370496.0)
    val hashed = graft.scale.Silver.scratch(
      docs.select(col("source"), col("fp")).distinct()
        .withColumn("h", u),
      "kmv_hashed") // feeds both sketches and the exact-union witness
    def sketch(s: String) = hashed.filter(col("source") === s)
      .select(col("fp"), col("h"))
      .orderBy(col("h").asc, col("fp").asc).limit(k)
    def est(df: org.apache.spark.sql.DataFrame, pre: String) =
      df.agg(max(col("h")).as(s"h_$pre"), count(lit(1)).as(s"k_$pre"))
        .withColumn(s"est_$pre",
          (col(s"k_$pre").cast("double") - lit(1.0)) / col(s"h_$pre"))
    val skA = sketch(srcA)
    val skB = sketch(srcB)
    val merged = skA.unionAll(skB).distinct()
      .orderBy(col("h").asc, col("fp").asc).limit(k)
    val truth = hashed.select("fp").distinct()
      .agg(count(lit(1)).as("true_union"))
    est(merged, "union").crossJoin(est(skA, "a"))
      .crossJoin(est(skB, "b"))
      .crossJoin(truth)
      .select(col("k_union"), col("est_a"), col("est_b"), col("est_union"),
        col("true_union"),
        ((col("est_union") - col("true_union").cast("double")) /
          col("true_union").cast("double")).as("rel_err"))
  }

  /** Deterministic HyperLogLog (q_hll): the 64-register HLL estimate of
    * distinct order keys, built end-to-end in EXACT integer arithmetic
    * so DuckDB replays it bit-identically — unlike the built-in
    * approx_count_distinct whose HLL++ internals differ per engine.
    * Register j keeps max ρ (leading-zero count + 1 of the 54-bit tail
    * of the md5-prefix hash, via `55 − bitlength` — `bin()` length, no
    * log2); the harmonic denominator Σ2^(−M_j) is scaled by 2^55 into
    * an exact long (empty registers contribute 2^55 via the zero-filled
    * 64-row spine), and the α·m²·2^55/S estimate is the only IEEE
    * step. Registers are a 64-row aggregate at any corpus size. */
  /** Flajolet's HyperLogLog bias-correction constant for m = 64
    * registers: α₆₄ = 0.709 exactly as published (HLL paper, Fig. 3 —
    * the closed form α_m = 0.7213/(1+1.079/m) applies only for
    * m ≥ 128). Shared verbatim with the oracle SQL; third-sourced in
    * ThirdSourceSpec by Simpson-integrating the paper's defining
    * integral α_m = (m ∫₀^∞ log₂((2+u)/(1+u))^m du)⁻¹. */
  private[graft] val HllAlpha64 = 0.709

  def hllEstimate(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    import spark.implicits._
    val m = 64
    val h = conv(substring(md5(col("o_orderkey").cast("string")), 1, 15),
      16, 10).cast("long")
    val regs = graft.sources.Tables.orders(spark, dir)
      // shiftright, not /64: float division of a 60-bit int would lose
      // the low bits past the 53-bit mantissa before the cast back
      .select(pmod(h, lit(m.toLong)).as("j"), shiftright(h, 6).as("v"))
      .withColumn("rho",
        when(col("v") === 0L, lit(55L))
          .otherwise(lit(55L) - length(bin(col("v"))).cast("long")))
      .groupBy("j").agg(max(col("rho")).as("reg"))
    val spine = (0 until m).map(_.toLong).toDF("j")
    val filled = spine.join(regs, Seq("j"), "left")
      .na.fill(0L, Seq("reg"))
    val agg = filled.agg(
      sum(when(col("reg") > 0L, 1L).otherwise(0L)).as("nonzero_regs"),
      sum(expr("shiftleft(cast(1 as bigint), cast(55 - reg as int))"))
        .as("s_scaled"))
    val truth = graft.sources.Tables.orders(spark, dir)
      .agg(countDistinct(col("o_orderkey")).as("true_distinct"))
    agg.crossJoin(truth)
      .withColumn("est",
        lit(HllAlpha64) * lit(4096.0) * lit(36028797018963968.0) /
          col("s_scaled").cast("double"))
      .withColumn("rel_err",
        (col("est") - col("true_distinct").cast("double")) /
          col("true_distinct").cast("double"))
      .select(lit(64L).as("m"), col("nonzero_regs"), col("s_scaled"),
        col("est"), col("true_distinct"), col("rel_err"))
  }

  /** Mergeable-histogram median vs exact median (q_hist_median): each
    * document SOURCE builds a 20-bin equi-width histogram of document
    * length — the fixed-size summary a 1000-executor fleet can reduce
    * associatively (the [[kmvUnion]] algebra, for quantiles) — the
    * merged histogram names the median bin, and the EXACT median
    * (rank-selected, never estimated) witnesses whether the sketch's
    * bin contains it.
    *
    * All integer: bins via ((x−lo)·B) div (hi−lo+1) against broadcast
    * exact min/max; the median bin is the first with cumulative count
    * ≥ (N+1) div 2 over the ≤B-row merged frame; the exact median is
    * the (N+1) div 2-ranked value under the unique (n_chars, doc_id)
    * order via [[graft.operators.Ranking.distributedGlobalRank]]. */
  def histMedianQuery(spark: org.apache.spark.sql.SparkSession, dir: String,
                      bins: Int = 20): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val bounds = docs.agg(min(col("n_chars")).as("lo"),
      max(col("n_chars")).as("hi"))
    // per-source histograms (the mergeable summaries), then the merge
    val perSource = graft.sources.Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"))
      .crossJoin(bounds)
      .select(col("source"),
        expr(s"((n_chars - lo) * $bins) div (hi - lo + 1)").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("cnt"))
    val merged = perSource.groupBy("bin").agg(sum(col("cnt")).as("cnt"))
    val n = merged.agg(sum(col("cnt")).as("n"))
    val cum = merged.as("a")
      .join(broadcast(merged.select(col("bin").as("b2"), col("cnt").as("c2"))),
        col("b2") <= col("bin"))
      .groupBy(col("bin"), col("cnt")).agg(sum(col("c2")).as("cum"))
    val medBin = cum.crossJoin(n)
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(struct(col("bin"), col("cnt").as("c"))).as("m"))
      .select(col("m.bin").as("med_bin"), col("m.c").as("bin_count"))
    val exact = graft.operators.Ranking.distributedGlobalRank(
        docs, Seq(col("n_chars").asc, col("doc_id").asc),
        rankCol = "rk", nCol = "__n")
      .filter(col("rk") === expr("(__n + 1) div 2"))
      .select(col("n_chars").as("exact_median"), col("__n").as("n"))
    exact.crossJoin(medBin).crossJoin(bounds)
      .select(col("n"), expr("(n + 1) div 2").as("k"), col("med_bin"),
        col("bin_count"), col("exact_median"),
        (expr(s"((exact_median - lo) * $bins) div (hi - lo + 1)") ===
          col("med_bin")).as("in_bin"))
  }

  /** Chapman mark–recapture estimate of the active-customer population
    * (q_mark_recapture): treat the pre/post-1998 order-date halves as
    * two capture occasions; customers seen in both are the "marked
    * recaptures", and N̂ = (n₁+1)(n₂+1)/(m+1) − 1 estimates the TOTAL
    * population — witnessed here against the directly countable truth,
    * which is exactly how the estimator is validated before using it
    * where the truth ISN'T countable (dedup-victim populations, hidden
    * id spaces across partial snapshots).
    *
    * Three distinct-count aggregates over one fact projection (the two
    * halves and their overlap, all map-side-combining), exact longs
    * until the single estimator division. */
  def markRecaptureQuery(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val o = graft.sources.Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (col("o_orderdate") < to_date(lit("1998-01-01"))).as("early"))
    val per = o.groupBy("o_custkey")
      .agg(max(when(col("early"), 1L).otherwise(0L)).as("in1"),
        max(when(!col("early"), 1L).otherwise(0L)).as("in2"))
    per.agg(
        sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
        sum(col("in1") * col("in2")).as("m"),
        count(lit(1)).as("true_n"))
      .select(col("n1"), col("n2"), col("m"), col("true_n"),
        (((col("n1") + 1L) * (col("n2") + 1L)).cast("double") /
          (col("m") + 1L).cast("double") - lit(1.0)).as("chapman_est"))
      .withColumn("rel_err",
        (col("chapman_est") - col("true_n").cast("double")) /
          col("true_n").cast("double"))
  }
}
