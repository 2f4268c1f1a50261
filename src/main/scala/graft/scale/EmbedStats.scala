package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dimension embedding-column statistics — the QA pass that precedes
  * any ANN index build or whitening transform over a 100 TB embedding
  * store: dead dimensions (min = max), scale imbalance across
  * dimensions (a few dominant dims wreck cosine recall), drift between
  * ingest batches. The reference has no embedding pipeline; this is
  * part of the training-data toolbox the engine adds on top.
  *
  * Scale shape: posexplode fans each vector to (dim, value) rows, then
  * ONE groupBy over the dimension index — cardinality = vector width
  * (64 here), so partial aggregation collapses everything map-side and
  * the shuffle moves `width × partitions` rows regardless of corpus
  * size. No collect, no per-row UDF.
  *
  * Determinism: float sums are order-dependent, so the cross-engine sum
  * witness is an INTEGER: Σ floor(v·10⁶) per dimension. float→double
  * widening is exact, ×10⁶ and floor are identical IEEE-754 ops in both
  * engines, and the resulting long sum is associative — bit-stable under
  * any partitioning. min/max are exact selections (no arithmetic), so
  * they witness directly, widened to double.
  */
object EmbedStats {

  /** One row per dimension: count, exact min/max, the scaled integer
    * sum described above, and the count of strictly-positive entries
    * (a cheap symmetry probe). */
  def perDimension(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        count(lit(1)).as("n_vals"),
        min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"),
        sum(floor(col("v").cast("double") * 1000000d).cast("long")).as("scaled_sum"),
        sum(when(col("v") > 0f, 1L).otherwise(0L)).as("n_pos"))

  /** q_embed_stats over the embeddings table, ordered by dimension. */
  def embedStatsQuery(spark: SparkSession, dir: String): DataFrame =
    perDimension(graft.sources.Tables.embeddings(spark, dir))
      .orderBy("dim")

  /** Linear-kernel maximum mean discrepancy between two label
    * populations of the embedding space (q_mmd): ‖mean(A) − mean(B)‖²
    * — the one-number "did the distribution move?" test for embedding
    * stores (label 0 vs label 1 here standing in for
    * yesterday's-batch-vs-today's), the multivariate companion of the
    * scalar drift reads (q_psi_drift, q_tv_drift).
    *
    * Determinism: per (label, dim) the scaled-integer sums
    * (Σ floor(v·10⁶) — the module's witness device) and counts are
    * exact; the per-dim mean gap is the cross-multiplied exact integer
    * (s_a·n_b − s_b·n_a) over n_a·n_b — ONE division per dim; and the
    * 64-dim square sum collapses through a SECOND integer witness
    * Σ_d floor(gap²·10⁶) so no float accumulation ever crosses an
    * aggregate. One fan-out pass to (label, dim), dimension-bounded
    * arithmetic after. */
  def mmdQuery(spark: SparkSession, dir: String,
               labelA: Int = 0, labelB: Int = 1): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = graft.sources.Tables.embeddings(spark, dir)
      .filter(col("label").isin(labelA, labelB))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(
        sum(when(col("label") === labelA,
          floor(col("v").cast("double") * 1000000d).cast("long"))
          .otherwise(0L)).as("sa"),
        sum(when(col("label") === labelA, 1L).otherwise(0L)).as("na"),
        sum(when(col("label") === labelB,
          floor(col("v").cast("double") * 1000000d).cast("long"))
          .otherwise(0L)).as("sb"),
        sum(when(col("label") === labelB, 1L).otherwise(0L)).as("nb"))
    per
      .select(col("na"), col("nb"),
        ((col("sa").cast(d38) * col("nb").cast(d38) -
          col("sb").cast(d38) * col("na").cast(d38))
          .cast("string").cast("double") /
         (col("na").cast(d38) * col("nb").cast(d38))
          .cast("string").cast("double")).as("gap"))
      .groupBy("na", "nb")
      .agg(count(lit(1)).as("n_dims"),
        sum(floor(col("gap") * col("gap") * lit(1000000.0)).cast("long"))
          .as("mmd2_w"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("n_dims"),
        col("mmd2_w"),
        (col("mmd2_w").cast("double") / lit(1000000.0)).as("mmd2"))
  }

  /** Calinski–Harabasz clustering-validity index of the labeled
    * embedding space (q_calinski): between-cluster over within-cluster
    * scatter — "how separable are the ground-truth labels in this
    * space?", the FULLY-EXACT companion to q_silhouette (no sqrt, no
    * pairwise distances: every scatter term is cleared-denominator
    * integer arithmetic on the scaled embedding values).
    *
    * Per (label, dim): exact Σu and Σu² of the scaled ints u =
    * floor(v·10⁶); WSS·Π-free form per cell = (n_c·Σu² − (Σu)²)/n_c —
    * each cell ONE division, summed over the FIXED 64·|labels| domain
    * via an integer witness on the numerators... in fact both WSS and
    * TSS reduce to Σ_cells (integer)/n witnesses with the SAME shape,
    * so CH is a fixed tree over two VARCHAR-routed exact sums and the
    * final division. One fan-out pass, cell-bounded arithmetic. */
  def calinskiQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val pts = graft.sources.Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        floor(col("v").cast("double") * 1000000d).cast("long").as("u"))
    val cells = pts.groupBy("label", "dim")
      .agg(count(lit(1)).as("nc"), sum(col("u")).as("su"),
        sum(col("u").cast(d38) * col("u").cast(d38)).as("qu"))
    // WSS numerator witness: Σ_cells (n_c·Σu² − (Σu)²) is exact, and
    // every cell in one label shares n_c, so the division is per-label.
    val perLabel = cells.groupBy("label")
      .agg(first(col("nc")).as("nc"),
        sum(col("nc").cast(d38) * col("qu") -
          col("su").cast(d38) * col("su").cast(d38)).as("wnum"),
        sum(col("qu")).as("q_l"), count(lit(1)).as("n_dims"))
      .select(col("label"), col("nc"), col("wnum"), col("q_l"))
    // TSS from the global cells (same device, one global n)
    val globalCells = pts.groupBy("dim")
      .agg(count(lit(1)).as("ng"), sum(col("u")).as("sg"),
        sum(col("u").cast(d38) * col("u").cast(d38)).as("qg"))
    val tss = globalCells.groupBy("ng")
      .agg(sum(col("ng").cast(d38) * col("qg") -
        col("sg").cast(d38) * col("sg").cast(d38)).as("tnum"))
    // label frame is |labels|-bounded: the double sum below is over a
    // fixed 3-term... domain via an integer floor witness (no float agg)
    val wss = perLabel
      .select((col("wnum").cast("string").cast("double") /
        col("nc").cast("double")).as("w_l"), col("nc"))
      .agg(sum(floor(col("w_l")).cast("long")).as("wss_w"),
        count(lit(1)).as("k"), sum(col("nc")).as("n"))
    wss.crossJoin(broadcast(tss))
      .select(col("k"), col("n"),
        (col("tnum").cast("string").cast("double") /
          col("ng").cast("double")).as("tss"),
        col("wss_w").cast("double").as("wss"))
      .select(col("k"), col("n"), col("tss"), col("wss"),
        (((col("tss") - col("wss")) / (col("k") - 1L).cast("double")) /
          (col("wss") / (col("n") - col("k")).cast("double"))).as("ch"))
  }

  /** Label balance (q_label_balance): class distribution of the
    * embeddings' ground-truth labels + the majority-class flag — the
    * first table of any classification-dataset card (the majority share
    * IS the accuracy baseline every model must beat). One keyed count,
    * one-row broadcast total+max, single IEEE division per row. */
  def labelBalanceQuery(spark: SparkSession,
                        dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val counts = graft.sources.Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"), max(col("cnt")).as("mx"))
    counts.crossJoin(tot)
      .select(col("label"), col("cnt"),
        (col("cnt").cast("double") / col("total")).as("share"),
        (col("cnt") === col("mx")).as("is_majority"))
      .orderBy("label")
  }

  /** Per-dimension variance on the quantized grid (q_dim_variance): the
    * anisotropy report behind a whitening/PCA decision — if a few
    * dimensions carry most of the variance, cosine recall degrades and
    * whitening pays. Values are quantized once to the integer grid
    * q = floor(v·10⁶) (the [[perDimension]] witness device), so Σq and
    * Σq² are exact longs/decimals and the variance numerator
    * n·Σq² − (Σq)² is exact integer arithmetic; the emitted variance is
    * one division (of micro-unit² quantities). The global anisotropy
    * ratio (max/min variance) broadcasts back as two single ops. */
  def dimVarianceQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val per = graft.sources.Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * 1000000d).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"),
        sum(col("q").cast(d38) * col("q").cast(d38)).as("sqq"))
      .withColumn("var_num",
        (col("n").cast(d38) * col("sqq") -
          col("sq").cast(d38) * col("sq").cast(d38)))
      .withColumn("variance",
        col("var_num").cast("double") /
          (col("n") * (col("n") - 1L)).cast("double"))
    val bounds = per.agg(max(col("variance")).as("mx"),
      min(col("variance")).as("mn"))
    per.crossJoin(bounds)
      .select(col("dim"), col("n"), col("sq"), col("variance"),
        (col("variance") / col("mx")).as("rel_variance"),
        (col("mx") / col("mn")).as("anisotropy"))
      .orderBy("dim")
  }

  /** Int8-quantization error report per dimension (q_quant_error): what
    * min/max-scaled 8-bit compression of the embedding store would cost,
    * per dimension — the go/no-go audit before shrinking a 100 TB vector
    * store 4×. Per value: q = round((v−min)/scale) clipped to [0,255],
    * err = |v − (min + q·scale)|. Every op is a fixed IEEE tree (round
    * is half-up in Spark and half-away in DuckDB — identical for the
    * non-negative arguments here); the cross-engine SUM witness is the
    * [[perDimension]] integer device (Σ floor(err·10⁹)); max_err is a
    * selection of per-row identical values. Dead dimensions (min = max)
    * define err = 0 rather than dividing by zero. One fan-out pass,
    * dimension-level stats broadcast back. */
  def quantErrorQuery(spark: SparkSession, dir: String): DataFrame = {
    val vals = Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v")),
      "quant_vals") // feeds the stats pass and the error pass
    val stats = vals.groupBy("dim")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val scale = (col("mx") - col("mn")) / lit(255.0)
    val q = least(lit(255.0), greatest(lit(0.0),
      round((col("v") - col("mn")) / scale)))
    val err = when(col("mx") === col("mn"), lit(0.0))
      .otherwise(abs(col("v") - (col("mn") + q * scale)))
    val errAgg = vals.join(broadcast(stats), "dim")
      .withColumn("err", err)
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vals"),
        max(col("err")).as("max_err"),
        sum(floor(col("err") * 1000000000d).cast("long")).as("scaled_err_sum"))
    errAgg.join(broadcast(stats), "dim")
      .select(col("dim"), col("n_vals"), scale.as("scale"),
        col("max_err"), col("scaled_err_sum"))
      .orderBy("dim")
  }

  /** Top principal component by integer power iteration (q_pca_power):
    * the whitening/PCA direction of the embedding cloud, computed
    * end-to-end in EXACT integer arithmetic so every iterate — and
    * therefore the final eigenvector — replays bit-identically in a
    * DuckDB unrolled-CTE oracle (the [[graft.operators.KMeans]]
    * device, applied to linear algebra).
    *
    * Vectors quantize to `floor((x+1)·10⁴)` longs; the un-centered
    * second-moment matrix S = QᵀQ and the mean sums m come from ONE
    * pass each (S via the vec-keyed self-join — 64² cells per vector,
    * a constant fan-out); the scatter matrix A = n·S − m·mᵀ (∝ n²·cov)
    * is exact decimal(38,0) on a 4096-cell frame. Each of the `iters`
    * rounds is a 4096×64 join + 64-row renormalization
    * `sign(y)·((|y|·10⁴) div max|y|)` — integer TRUNCATING division on
    * the non-negative operand, because DuckDB's `//` floors while
    * Spark's `div` truncates, and only the abs-form agrees on both.
    * The Rayleigh quotient xᵀAx/xᵀx is the one terminal IEEE division.
    *
    * Scale shape: the corpus is touched exactly twice (moment build);
    * iterations run on fixed 4096/64-row frames with a lineage cut per
    * round — at 100 TB this is two scans plus constant-size work. */
  def pcaPowerQuery(spark: SparkSession, dir: String,
                    iters: Int = 12): DataFrame = {
    val d38 = "decimal(38,0)"
    val (_, aMat, x) = pcaComponent(spark, dir, iters)
    val xA = aMat
      .join(x.select(col("j").as("k"), col("x").as("xk")), "k")
      .join(x.select(col("j"), col("x").as("xj")), "j")
    val rq = xA.agg(
        sum(col("xj").cast(d38) * col("a") * col("xk").cast(d38)).as("num"))
      .crossJoin(x.agg(sum(col("x") * col("x")).as("den")))
      .select((col("num").cast("double") / col("den").cast("double"))
        .as("rayleigh"))
    x.crossJoin(rq)
      .select(col("j").as("dim"), col("x").as("component"), col("rayleigh"))
      .orderBy("dim")
  }

  /** Shared engine behind [[pcaPowerQuery]] and [[pcaProjectionQuery]]:
    * the quantized (vec_id, j, q) frame, the materialized 4096-cell
    * scatter matrix, and the converged 10⁴-grid eigenvector iterate. */
  private def pcaComponent(spark: SparkSession, dir: String,
      iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val d38 = "decimal(38,0)"
    val qv = Silver.materialize(
      Par.fan(graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("j0", "x")))
        .select(col("vec_id"), col("label"),
          (col("j0") + 1).cast("long").as("j"),
          floor((col("x").cast("double") + 1d) * 10000d).cast("long").as("q")),
        col("vec_id")),
      "pca_qv") // feeds S (twice), m, and the projection pass; fanned by
                // vec_id so the 64²-per-vector Gram self-join below runs
                // at compute width, not in the one task AQE leaves a
                // one-split snapshot in (measured 2.5-3.7 s single-task)
    val s = qv.as("a").join(qv.as("b"), "vec_id")
      .groupBy(col("a.j").as("j"), col("b.j").as("k"))
      .agg(sum(col("a.q").cast(d38) * col("b.q").cast(d38)).as("s_jk"))
    val m = qv.groupBy("j")
      .agg(sum(col("q").cast(d38)).as("mj"), count(lit(1)).as("n"))
    val aMat = Silver.materialize(
      s.join(broadcast(m.select(col("j"), col("mj"))), "j")
        .join(broadcast(m.select(col("j").as("k"), col("mj").as("mk"),
          col("n"))), "k")
        .select(col("j"), col("k"),
          (col("n").cast(d38) * col("s_jk") - col("mj") * col("mk")).as("a"))
        // dim²-bounded (4096 cells at any corpus): one partition, so the
        // 12 iteration rounds below run 1-task jobs instead of fanning
        // constant-size work across the cluster (measured ~0.4 s/round
        // of pure task overhead when aMat inherits the Gram build's
        // width)
        .repartition(1),
      "pca_scatter") // consumed every round + the Rayleigh quotient
    // r14: the power iteration runs DRIVER-SIDE on the collected scatter
    // matrix — the BPE-style bounded collect (SURVEY §7: "the one
    // justified collect" class). Justification: aMat is dim²-bounded
    // (≤ 64² = 4 096 cells at ANY corpus size — the corpus was already
    // reduced by the two Spark passes above), and the 12 renormalized
    // rounds previously cost ~24 distributed jobs + a per-round
    // broadcast that re-executed the round subtree (~2.5-3 s of pure
    // scheduling for microseconds of arithmetic). BigInt replays
    // decimal(38,0) exactly on overflow-free inputs (|y| ≤ 64·a·10⁴ ≈
    // 10²¹ ≪ 10³⁸), and `(|y|·10⁴) / mx` on non-negative BigInt is the
    // same truncating division as Spark's IntegralDivide with the sign
    // split out — bit-identical iterates, as the unrolled-CTE oracle
    // confirms. The guard below fails loudly if anyone re-points this
    // at an unbounded frame.
    val cells = aMat.collect()
    require(cells.length <= graft.scale.Bounded.maxCells(aMat.sparkSession),
      s"pcaComponent: scatter matrix must be dim²-bounded, got ${cells.length} " +
        "cells (cap: spark.graft.collect.maxCells)")
    val rows = cells.map(r => (r.getLong(0), r.getLong(1),
      BigInt(r.getDecimal(2).toBigInteger)))
    val dims = rows.map(_._1).distinct.sorted
    var xv: Map[Long, BigInt] = dims.map(_ -> BigInt(10000)).toMap
    for (_ <- 1 to iters) {
      val y = rows.groupBy(_._1).map { case (j, cs) =>
        j -> cs.map { case (_, k, a) => a * xv(k) }.sum
      }
      val mx = if (y.isEmpty) BigInt(1) else y.values.map(_.abs).max
      require(y.isEmpty || mx > 0,
        "pcaComponent: zero scatter matrix — renormalization undefined")
      xv = y.map { case (j, yj) =>
        j -> (if (yj.sign < 0) -((yj.abs * 10000) / mx)
              else (yj.abs * 10000) / mx)
      }
    }
    val x = spark.createDataFrame(
      dims.toSeq.map(j => (j, xv(j).toLong))).toDF("j", "x")
    (qv, aMat, x)
  }

  /** Label separation along the top PC (q_pca_project): project every
    * vector onto [[pcaPowerQuery]]'s eigenvector — the projection
    * Σ x_j·q_ij is an EXACT long (10⁴-grid component × 10⁴-grid
    * coordinate, 64 terms) — and report per label n, mean and variance
    * of the projection, plus the one-way-ANOVA F statistic for "does
    * the unsupervised direction separate the labels?" (the
    * [[graft.operators.Distribution]] exact-sufficient-stats device:
    * between/within sums of squares from per-label (n, Σp, Σp²), the F
    * ratio the only chained float work, identical tree both engines).
    * The 64-row component broadcasts into the projection pass — the
    * corpus is touched once more, keyed, no shuffle of the vectors. */
  def pcaProjectionQuery(spark: SparkSession, dir: String,
                         iters: Int = 12): DataFrame = {
    val d38 = "decimal(38,0)"
    val (qv, _, x) = pcaComponent(spark, dir, iters)
    val proj = qv
      .join(x, "j")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q") * col("x")).as("p"))
    val per = proj.groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast(d38)).as("s"),
        sum(col("p").cast(d38) * col("p").cast(d38)).as("q2"))
    // per-label means/variances only: a cross-label F statistic would
    // sum per-group float terms in engine order — the same reason
    // Distribution.anovaWeekday pins its 7 terms via a pivoted fixed
    // tree, which |labels| here doesn't warrant
    per
      .select(col("label"), col("n"),
        (col("s").cast("double") / col("n").cast("double") / lit(10000.0))
          .as("mean_proj"),
        ((col("q2").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")) /
          (col("n").cast("double") - lit(1.0)) / lit(100000000.0))
          .as("var_proj"))
      .orderBy("label")
  }

  /** Grid-density clustering over the first two embedding dimensions
    * (q_grid_cluster): the DBSCAN-family answer to "does the embedding
    * cloud have dense modes, and how many?" — without k (contrast
    * [[graft.operators.KMeans]], which must be told). Points bucket to
    * an 11×11 grid (floor((x+1)·5) per axis); a cell is CORE when its
    * count is ≥ 2× the mean occupied-cell load (the integer
    * cross-multiplied test cnt·n_cells ≥ 2·n_pts — no division);
    * adjacent core cells (Chebyshev ≤ 1, via the 8-offset spine — an
    * equi-join, never an inequality join) merge into clusters through
    * the same large-star/small-star components as the dedup graph.
    * Everything after the one corpus pass runs on ≤ 121 cells; the
    * output is the per-cluster (cells, points) summary plus the noise
    * row (cluster_id = −1: mass in non-core cells).
    *
    * At 100 TB the grid would be finer and per-cell counts still
    * reduce map-side — the corpus is never shuffled at point grain. */
  def gridClusterQuery(spark: SparkSession, dir: String): DataFrame = {
    val cells = Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(
          floor((element_at(col("embedding"), 1).cast("double") + 1d) * 5d)
            .cast("long").as("gx"),
          floor((element_at(col("embedding"), 2).cast("double") + 1d) * 5d)
            .cast("long").as("gy"))
        .groupBy("gx", "gy").agg(count(lit(1)).as("cnt")),
      "grid_cells") // feeds totals, core split, and the noise row
    val tot = cells.agg(sum(col("cnt")).as("n_pts"),
      count(lit(1)).as("n_cells"))
    val withTot = cells.crossJoin(tot)
    val core = withTot
      .filter(col("cnt") * col("n_cells") >= lit(2L) * col("n_pts"))
      .withColumn("id", col("gx") * 100L + col("gy"))
    val off = spark.range(-1, 2).select(col("id").as("dx"))
      .crossJoin(spark.range(-1, 2).select(col("id").as("dy")))
      .filter(!(col("dx") === 0L && col("dy") === 0L))
    val e = core.crossJoin(off)
      .select((col("gx") + col("dx")).as("ngx"),
        (col("gy") + col("dy")).as("ngy"), col("id").as("u"))
      .join(core.select(col("gx").as("ngx"), col("gy").as("ngy"),
        col("id").as("v")), Seq("ngx", "ngy"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"))
    val cc = Dedup.connectedComponents(e)
      .select(col("node").as("id"), col("component"))
    val clusters = core.join(cc, Seq("id"), "left")
      .select(coalesce(col("component"), col("id")).as("cluster_id"),
        col("cnt"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"))
    val noise = withTot
      .filter(col("cnt") * col("n_cells") < lit(2L) * col("n_pts"))
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("cnt")), lit(0L)).as("n_points"))
      .select(lit(-1L).as("cluster_id"), col("n_cells"), col("n_points"))
      .filter(col("n_cells") > 0L)
    clusters.unionAll(noise).orderBy("cluster_id")
  }

  /** Nearest-centroid classification of the embedding corpus against
    * its own label centroids (q_centroid_classify): the zero-training
    * baseline every embedding model should beat, and the confusion
    * matrix that says WHICH labels the embedding space actually
    * separates (the multi-class sibling of [[pcaProjectionQuery]]'s
    * one-direction view).
    *
    * All-integer: vectors quantize to the non-negative
    * `floor((x+1)·10⁴)` grid; centroid components are the truncating
    * mean `sum(q) div count` (floor ≡ trunc on the non-negative
    * operand — engine-identical); per-(vector, label) squared distance
    * Σ(q−c)² is an exact long (≤ 64·(2·10⁴)² per vector); argmin by
    * min-struct (d², label) — ties to the smaller label,
    * deterministic. Confusion cells + per-true-label recall shares
    * are exact-count ratios.
    *
    * Scale shape: the |labels|·width centroid table broadcasts into
    * the scoring join — the corpus fans out width·|labels| rows per
    * vector (a constant), collapses map-side per (vec, label), and is
    * never shuffled at vector grain twice. */
  /** Shared centroid-distance frame for [[centroidClassifyQuery]] and
    * [[silhouetteQuery]]: per (vector, candidate label) the EXACT
    * squared distance on the 10⁴ quantization grid — integer centroids
    * (truncating mean), integer squared distances, so every downstream
    * comparison is engine-exact. */
  private def centroidDistances(spark: SparkSession, dir: String): DataFrame = {
    val qv = Silver.materialize(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("j0", "x")))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          (col("j0") + 1).cast("long").as("j"),
          floor((col("x").cast("double") + 1d) * 10000d).cast("long").as("q")),
      "nc_qv") // feeds the centroid build and the scoring pass
    val cent = qv.groupBy(col("label").as("clabel"), col("j"))
      .agg(expr("sum(q) div count(1)").as("c"))
    qv.join(broadcast(cent), "j")
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
  }

  def centroidClassifyQuery(spark: SparkSession, dir: String): DataFrame = {
    val dist = centroidDistances(spark, dir)
    val pred = dist.groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("d2").as("d"), col("clabel").as("l"))).as("m"))
      .select(col("vec_id"), col("label"), col("m.l").as("pred"))
    val cells = pred.groupBy("label", "pred").agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("label").agg(sum(col("n")).as("n_label"))
    cells.join(broadcast(rowTot), "label")
      .select(col("label"), col("pred"), col("n"),
        (col("label") === col("pred")).as("is_correct"),
        (col("n").cast("double") / col("n_label").cast("double"))
          .as("recall_share"))
      .orderBy("label", "pred")
  }

  /** Histogram-based outlier score (q_hbos): rank vectors by how thinly
    * populated their per-dimension histogram bins are — HBOS
    * (Goldstein & Dengel) with the log-density sum replaced by the
    * EXACT INTEGER PRODUCT of the first `nDims` bin counts (log is
    * monotone, so the ranking is identical and the score is
    * engine-portable; the anomaly-detection companion to
    * [[gridClusterQuery]], which finds dense modes — this finds the
    * points no mode claims). Bins reuse the grid device:
    * floor((x+1)·5) per dimension, 10-ish bins over the unit range.
    *
    * Scale shape: one posexplode pass to (dim, bin) counts — ≤
    * nDims·bins cells, map-side combining — broadcast back onto the
    * corpus, one product per row, TakeOrderedAndProject for the top
    * outliers. The corpus is scanned twice and never shuffled at row
    * grain. Product bound: each count ≤ N, so N⁴ needs N < 2^15 per…
    * — counts here are ≤ corpus size ~1e5 at sf0.1 → product ≤ 1e20
    * overflows Long at extreme skew; the counts multiply as
    * decimal(38,0) and surface as exact decimal. */
  def hbosQuery(spark: SparkSession, dir: String,
                nDims: Int = 4, topK: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val binned = graft.scale.Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          posexplode(slice(col("embedding"), 1, nDims)))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          floor((col("col").cast("double") + 1d) * 5d).cast("long")
            .as("bin")),
      "hbos_binned") // feeds the histogram and the per-vector lookup
    val hist = binned.groupBy("d", "bin").agg(count(lit(1)).as("cnt"))
    val perDim = (1 to nDims).map(d =>
      max(when(col("d") === d.toLong, col("cnt"))).as(s"c$d"))
    val rarity = (1 to nDims).map(d => col(s"c$d").cast(d38))
      .reduceLeft(_ * _)
    binned.join(broadcast(hist), Seq("d", "bin"))
      .groupBy("vec_id")
      .agg(perDim.head, perDim.tail: _*)
      .withColumn("__rarity", rarity)
      .orderBy(col("__rarity").asc, col("vec_id").asc)
      .limit(topK)
      // exact integer, surfaced as a string witness: the harness cannot
      // canonicalize Spark decimal vs DuckDB hugeint cells identically
      .select((Seq(col("vec_id")) ++ (1 to nDims).map(d => col(s"c$d")) :+
        col("__rarity").cast("string").as("rarity")): _*)
  }

  /** Centroid-based (simplified) silhouette per label (q_silhouette):
    * a = squared grid distance to the own-label centroid, b = the
    * nearest OTHER centroid's squared distance, s = (b−a)/max(a,b) —
    * the cluster-separation score every embedding-space labeling
    * should report next to its confusion matrix
    * ([[centroidClassifyQuery]] says WHERE points land; this says how
    * CLEANLY). Classic silhouette is O(n²) pairwise; the centroid form
    * is the standard O(n·k) scale substitute.
    *
    * Exactness: a and b are exact longs off the shared
    * [[centroidDistances]] grid, so s is ONE division of exact
    * integers — identical in both engines — and the per-label mean
    * goes through the floor-witness (Σ floor(s·10⁶) — order-free long
    * accumulation), never a float sum. */
  def silhouetteQuery(spark: SparkSession, dir: String): DataFrame = {
    val dist = Silver.scratch(centroidDistances(spark, dir), "sil_dist")
    val a = dist.filter(col("clabel") === col("label"))
      .select(col("vec_id"), col("label"), col("d2").as("a2"))
    val b = dist.filter(col("clabel") =!= col("label"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("b2"))
    val s = a.join(b, "vec_id")
      .withColumn("s",
        when(greatest(col("a2"), col("b2")) === 0L, lit(0.0))
          .otherwise((col("b2") - col("a2")).cast("double") /
            greatest(col("a2"), col("b2")).cast("double")))
    s.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("s") > 0.0, 1L).otherwise(0L)).as("n_pos"),
        sum(floor(col("s") * lit(1000000.0)).cast("long")).as("s_witness"))
      .withColumn("mean_s",
        col("s_witness").cast("double") /
          (lit(1000000.0) * col("n").cast("double")))
      .orderBy("label")
  }

  /** Effective dimensionality of the embedding store (q_effective_dim):
    * the participation ratio PR = (Σλ)²/Σλ² over the per-dimension
    * variances — the one-number answer to "how many of the 64 axes
    * actually carry signal?" (PR = width for isotropic embeddings, ≈ 1
    * when a single axis dominates; the go/no-go input to a
    * dimensionality-reduction decision, diagonal-covariance
    * approximation so it composes from [[dimVarianceQuery]]'s exact
    * machinery without a d×d covariance build).
    *
    * Determinism: variances are first computed EXACTLY on the 10⁶
    * integer grid (n·Σq² − (Σq)² in decimal(38,0)), then each is
    * collapsed to the integer witness λ = floor(var_num/(n(n−1))) —
    * one IEEE division + floor per dimension, identical both engines.
    * Σλ and Σλ² are exact longs/decimals over the WIDTH-sized frame
    * (64 rows — map-side collapse, nothing corpus-proportional
    * shuffles); PR and the top-dimension share are one division each. */
  def effectiveDimQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val perDim = graft.sources.Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * 1000000d).cast("long").as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"),
        sum(col("q").cast(d38) * col("q").cast(d38)).as("sqq"))
      .select(col("dim"),
        floor((col("n").cast(d38) * col("sqq") -
            col("sq").cast(d38) * col("sq").cast(d38)).cast("double") /
          (col("n") * (col("n") - 1L)).cast("double")).cast("long")
          .as("lam"))
    perDim.agg(
        count(lit(1)).as("width"),
        sum(col("lam")).as("sv"),
        sum(col("lam").cast(d38) * col("lam").cast(d38)).as("svv"),
        max(col("lam")).as("mx"))
      .select(col("width"), col("sv"),
        ((col("sv").cast(d38) * col("sv").cast(d38)).cast("double") /
          col("svv").cast("double")).as("pr_dims"),
        (col("mx").cast("double") / col("sv").cast("double"))
          .as("top_share"))
  }

  /** Johnson–Lindenstrauss distortion audit (q_jl_distortion): project
    * every embedding through a DETERMINISTIC ±1 random matrix (sign =
    * first md5 nibble of "j|i" — engine-portable, no RNG state) down to
    * `outDims` components and measure, over consecutive-id vector pairs,
    * the ratio ‖Pa − Pb‖² / (outDims·‖a − b‖²) — concentrated near 1
    * when the projection preserves geometry. The go/no-go audit before
    * replacing 64-dim distance work with a 16-dim sketch in a 100 TB
    * ANN pipeline.
    *
    * Exactness end-to-end: inputs quantize once to the 10⁶ integer grid,
    * the projection is a SIGNED INTEGER sum per (vector, component), and
    * both squared distances are exact decimal sums — the ratio is the
    * single IEEE division per pair, and the cross-engine mean is the
    * Σ⌊ratio·10⁶⌋ witness. Zero-distance pairs are excluded (ratio
    * undefined).
    *
    * Scale shape: the projection is an outDims-way fanout of the
    * exploded vector frame collapsed by map-side sums keyed on
    * (vec_id, j) — embarrassingly parallel; the pair joins key on
    * vec_id, shuffling one row per (pair, dim). Nothing all-pairs. */
  /** Fisher class-separation score per embedding dimension (q_fisher):
    * one-way ANOVA of the 10-class label against each of the 64 axes —
    * SSB/SSW per dimension, the filter-method feature ranking that says
    * WHICH axes carry label signal before anyone trains on them (the
    * per-dimension companion to the projection-level q_pca_project).
    *
    * The label domain is FIXED (0..9), so the Σ_c S_c²/n_c term is a
    * pivoted fixed-order 10-term expression tree over exact per-class
    * integer sums (the q_anova device — never an order-dependent float
    * aggregation across classes), computed per dimension in ONE
    * map-side-combining groupBy over the exploded 10⁶-grid frame.
    * Empty classes contribute 0 (guarded division). */
  def fisherQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val q = graft.sources.Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("label"),
        floor(col("v").cast("double") * 1000000d).cast("long").as("x"))
    val aggs =
      Seq(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("s"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("q2")) ++
      (0 until 10).flatMap { c =>
        Seq(sum(when(col("label") === c, 1L).otherwise(0L)).as(s"n$c"),
          sum(when(col("label") === c, col("x").cast(d38))
            .otherwise(lit(0).cast(d38))).as(s"s$c"))
      }
    val wide = q.groupBy("dim").agg(aggs.head, aggs.tail: _*)
    val nD = col("n").cast("double")
    val inner = (0 until 10).map { c =>
      when(col(s"n$c") > 0L,
        (col(s"s$c") * col(s"s$c")).cast("double") / col(s"n$c").cast("double"))
        .otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    // products round-trip through VARCHAR before the −S² subtraction
    // (FMA-contraction barrier, the q_anova/q_polyfit device)
    wide
      .withColumn("sst_n",
        (nD * col("q2").cast("double")).cast("string").cast("double") -
          (col("s") * col("s")).cast("double"))
      .withColumn("ssb_n",
        (nD * inner).cast("string").cast("double") -
          (col("s") * col("s")).cast("double"))
      .select(col("dim"), col("n"),
        (col("ssb_n") / col("sst_n")).as("eta_sq"),
        (col("ssb_n") / (col("sst_n") - col("ssb_n"))).as("fisher"))
      .orderBy("dim")
  }

  /** Top correlated embedding dimension pairs (q_dim_corr): Pearson
    * correlation between axes on the 10⁶ integer grid, ranked by |r| —
    * the redundancy report behind a whitening/PCA decision
    * ([[dimVarianceQuery]] finds dominant axes; this finds axes that
    * duplicate each other).
    *
    * Scale shape: the cross-moment Σxy comes from a per-VECTOR self-join
    * of the exploded frame (width²/2 ≈ 2k rows per vector — a fixed
    * fanout independent of corpus size) collapsed map-side by (i, j);
    * per-dimension moments join in from the width-sized [[perDimension]]
    * frame (broadcast). r = cov_num/√(var_i·var_j) is exact decimal
    * integers until one portable sqrt and one division; the |r| ranking
    * is a TakeOrderedAndProject top-k with a (i, j) tiebreak. */
  def dimCorrQuery(spark: SparkSession, dir: String,
                   topK: Int = 20): DataFrame = {
    val d38 = "decimal(38,0)"
    val q = Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          floor(col("v").cast("double") * 1000000d).cast("long").as("x")),
      "corr_q") // feeds the pair pass AND the per-dim moment pass
    val perDim = q.groupBy(col("i").as("d"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"))
      .withColumn("var_num", col("n").cast(d38) * col("sxx") -
        col("sx").cast(d38) * col("sx").cast(d38))
    val pairs = q.as("a")
      .join(q.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(sum(col("a.x").cast(d38) * col("b.x").cast(d38)).as("sxy"))
    pairs
      .join(broadcast(perDim.select(col("d").as("i"), col("n"),
        col("sx").as("sx_i"), col("var_num").as("vn_i"))), "i")
      .join(broadcast(perDim.select(col("d").as("j"),
        col("sx").as("sx_j"), col("var_num").as("vn_j"))), "j")
      .withColumn("cov_num", col("n").cast(d38) * col("sxy") -
        col("sx_i").cast(d38) * col("sx_j").cast(d38))
      // two-sqrt form: the vn_i·vn_j decimal product would overflow
      // decimal(38,0) at ~100× this corpus; √a·√b = √(ab) with each
      // factor correctly rounded is the overflow-proof identical tree
      .withColumn("corr", col("cov_num").cast("double") /
        sqrt(col("vn_i").cast("double")) / sqrt(col("vn_j").cast("double")))
      .select(col("i"), col("j"), col("corr"))
      .orderBy(abs(col("corr")).desc, col("i").asc, col("j").asc)
      .limit(topK)
  }

  def jlDistortionQuery(spark: SparkSession, dir: String,
                        outDims: Int = 16): DataFrame = {
    val d38 = "decimal(38,0)"
    val q = Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          floor(col("v").cast("double") * 1000000d).cast("long").as("q")),
      "jl_q") // feeds the projection AND the original-distance pass
    val js = spark.range(outDims).select(col("id").as("j"))
    val proj = q.crossJoin(js)
      .select(col("vec_id"), col("j"),
        when(substring(md5(concat(col("j").cast("string"), lit("|"),
            col("i").cast("string"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), col("q"))
          .otherwise(-col("q")).as("sq"))
      .groupBy("vec_id", "j").agg(sum(col("sq")).as("p"))
    val do2 = q.as("a")
      .join(q.as("b"),
        col("b.vec_id") === col("a.vec_id") + 1L && col("a.i") === col("b.i"))
      .filter(col("a.vec_id") % 2 === 0)
      .groupBy(col("a.vec_id").as("pid"))
      .agg(sum((col("a.q") - col("b.q")).cast(d38) *
        (col("a.q") - col("b.q")).cast(d38)).as("do2"))
    val dp2 = proj.as("a")
      .join(proj.as("b"),
        col("b.vec_id") === col("a.vec_id") + 1L && col("a.j") === col("b.j"))
      .filter(col("a.vec_id") % 2 === 0)
      .groupBy(col("a.vec_id").as("pid"))
      .agg(sum((col("a.p") - col("b.p")).cast(d38) *
        (col("a.p") - col("b.p")).cast(d38)).as("dp2"))
    do2.join(dp2, "pid")
      .filter(col("do2") > 0)
      .withColumn("ratio", col("dp2").cast("double") /
        (lit(outDims.toLong).cast(d38) * col("do2")).cast("double"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("ratio")).as("min_ratio"),
        max(col("ratio")).as("max_ratio"),
        sum(floor(col("ratio") * 1000000d).cast("long")).as("ratio_witness"))
      .withColumn("mean_ratio",
        col("ratio_witness").cast("double") /
          (lit(1000000d) * col("n_pairs").cast("double")))
  }

  /** Point-level DBSCAN density classification over the 2-D embedding
    * projection (q_dbscan_core): every vector labeled core (≥ minPts
    * neighbors within eps, itself included), border (non-core but
    * within eps of a core), or noise — the density triage that
    * complements [[gridClusterQuery]]'s cell-level modes with DBSCAN's
    * actual point semantics, and the standard "how much of this corpus
    * is isolated junk?" curation read.
    *
    * Scale shape: the eps-wide grid bounds the candidate join — each
    * point joins only the 3×3 neighboring cells (cell width = eps, so
    * no true neighbor is missed), an EQUI-join on cell ids, never an
    * inequality join; the exact distance filter then runs on the
    * bounded candidate set. Distances are fixed IEEE trees over
    * float→double casts, so the oracle (which brute-forces the same
    * filter without the grid) agrees exactly. The point frame
    * materializes once — it feeds both sides of the join twice. */
  def dbscanCoreQuery(spark: SparkSession, dir: String,
                      eps: Double = 0.02, minPts: Long = 5L): DataFrame = {
    val p = Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          element_at(col("embedding"), 1).cast("double").as("x"),
          element_at(col("embedding"), 2).cast("double").as("y"))
        .withColumn("cx", floor(col("x") / eps).cast("long"))
        .withColumn("cy", floor(col("y") / eps).cast("long")),
      "dbscan_pts") // feeds all four join sides
    val off = spark.range(-1, 2).select(col("id").as("dx"))
      .crossJoin(spark.range(-1, 2).select(col("id").as("dy")))
    val cand = p.crossJoin(off)
      .select(col("vec_id").as("a"), col("x").as("ax"), col("y").as("ay"),
        (col("cx") + col("dx")).as("ncx"), (col("cy") + col("dy")).as("ncy"))
      .join(p.select(col("vec_id").as("b"), col("x").as("bx"),
        col("y").as("by"), col("cx").as("ncx"), col("cy").as("ncy")),
        Seq("ncx", "ncy"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= eps * eps)
      .select(col("a"), col("b"))
    val withCnt = Silver.scratch(
      cand.groupBy("a").agg(count(lit(1)).as("cnt")),
      "dbscan_cnt") // feeds the core set and the rollup
    val core = withCnt.filter(col("cnt") >= minPts).select(col("a").as("b"))
    val border = cand.filter(col("a") =!= col("b"))
      .join(core, Seq("b"))
      .select(col("a")).distinct()
      .join(withCnt.filter(col("cnt") < minPts).select(col("a")), Seq("a"))
      .agg(count(lit(1)).as("n_border"))
    withCnt.agg(count(lit(1)).as("n_points"),
        sum(when(col("cnt") >= minPts, 1L).otherwise(0L)).as("n_core"))
      .crossJoin(border)
      .select(col("n_points"), col("n_core"), col("n_border"),
        (col("n_points") - col("n_core") - col("n_border")).as("n_noise"))
  }

  /** µ-scaled integer coordinate rows (vec_id, label, dim, u) — the
    * exact-arithmetic spine of the cluster-validity queries
    * ([[dunnQuery]], [[daviesBouldinQuery]]): all distances reduce to
    * integer Σ(Δu)² so min/max/sum witnesses are partition-order-free.
    * Coordinates are OFFSET by +10⁶ to stay non-negative (corpus
    * values are unit-bounded): Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, so centroid integer means are only
    * cross-engine-identical on non-negative sums; the constant offset
    * cancels in every distance. */
  private def scaledDims(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        (floor(col("v").cast("double") * lit(1000000.0)).cast("long") +
          lit(1000000L)).as("u"))

  /** Dunn index of the label partition (q_dunn): min inter-cluster
    * pair distance over max intra-cluster diameter — the worst-case
    * separation/compactness ratio ([[calinskiQuery]] scores the
    * AVERAGE case; Dunn is the adversarial one: a single boundary
    * point tanks it). Exact to the end: pairwise d² are integer sums
    * of scaled coords, min/max are selections, the two √ and one
    * division close the tree. The all-pairs pass is the audit-scale
    * baseline (the [[Similarity.mutualKnnQuery]] argument). */
  def dunnQuery(spark: SparkSession, dir: String): DataFrame = {
    // array form + the fused SqDistLong codegen expression: the per-dim
    // row join would shuffle |pairs|·width rows; this scores each pair
    // in one codegen loop over a broadcast side, spread across cores
    val pts = graft.scale.Silver.scratch(
      graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0)).cast("long") +
              lit(1000000L)).as("u"))
        .transform(d => Par.fan(d, col("vec_id"))), // compute-width fan (AQE-proof; see Similarity.mutualKnnQuery)
      "dunn_pts") // both sides of the pair scoring
    val pairs = pts.select(col("vec_id").as("i"), col("label").as("li"),
        col("u"))
      .join(broadcast(pts.select(col("vec_id").as("j"),
        col("label").as("lj"), col("u").as("uj"))), col("i") < col("j"))
      .select(col("li"), col("lj"),
        graft.scale.Similarity.sqDistLong(col("u"), col("uj")).as("d2"))
    pairs.agg(
        min(when(col("li") =!= col("lj"), col("d2"))).as("min_inter_d2"),
        max(when(col("li") === col("lj"), col("d2"))).as("max_intra_d2"))
      .select(col("min_inter_d2"), col("max_intra_d2"),
        (sqrt(col("min_inter_d2").cast("double")) /
          sqrt(col("max_intra_d2").cast("double"))).as("dunn"))
  }

  /** Davies–Bouldin table (q_davies_bouldin): per label its scatter
    * sᵢ (mean distance to the cluster centroid) and DBᵢ =
    * max_{j≠i} (sᵢ+sⱼ)/d(cᵢ,cⱼ) — "which cluster is most confusable,
    * and with whom?" The per-cluster diagnostic under the one-number
    * indices ([[calinskiQuery]], [[dunnQuery]]).
    *
    * Centroids are floor-mean integer vectors ((Σu) div n per dim —
    * exact); per-point centroid distances floor-scale before summing
    * (the LOF ladder), so every sᵢ is a ratio of exact longs; the
    * ≤k² ratio matrix then reduces by max. Per-label rows avoid any
    * cross-cluster float accumulation. */
  def daviesBouldinQuery(spark: SparkSession, dir: String): DataFrame = {
    val pts = graft.scale.Silver.scratch(
      scaledDims(spark, dir), "db_pts") // feeds centroids and distances
    val cent = graft.scale.Silver.scratch(
      pts.groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(col("u")).as("su"))
        .withColumn("c", expr("su div n")),
      "db_cent") // feeds the scatter join and the centroid-pair join
    val scatter = pts
      .join(cent.select(col("label"), col("dim"), col("c")),
        Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum((col("u") - col("c")) * (col("u") - col("c"))).as("d2"))
      .select(col("label"), floor(sqrt(col("d2").cast("double"))).cast("long")
        .as("w"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
      .withColumn("s", col("sw").cast("double") / col("n").cast("double"))
    val sM = graft.scale.Silver.scratch(scatter, "db_scatter")
    val cd = cent.select(col("label").as("li"), col("dim"), col("c").as("ci"))
      .join(cent.select(col("label").as("lj"), col("dim"),
        col("c").as("cj")), Seq("dim"))
      .filter(col("li") =!= col("lj"))
      .groupBy("li", "lj")
      .agg(sum((col("ci") - col("cj")) * (col("ci") - col("cj"))).as("cd2"))
    val ratios = cd
      .join(sM.select(col("label").as("li"), col("s").as("si"),
        col("n").as("n_i")), Seq("li"))
      .join(sM.select(col("label").as("lj"), col("s").as("sj")), Seq("lj"))
      .select(col("li"), col("lj"), col("n_i"), col("si"),
        ((col("si") + col("sj")) / sqrt(col("cd2").cast("double")))
          .as("ratio"))
    ratios
      .groupBy(col("li").as("label"), col("n_i").as("n"), col("si").as("s_i"))
      .agg(max(struct(col("ratio"), col("lj"))).as("m"))
      .select(col("label"), col("n"), col("s_i"),
        col("m.lj").as("nearest_label"), col("m.ratio").as("db_i"))
      .orderBy("label")
  }

  /** Adjusted Rand index between the label partition and the 2-D grid
    * clustering (q_ari): does the coarse spatial grid over dims 1–2
    * recover the labels? The clustering-AGREEMENT metric the validity
    * indices can't give (they score one partition; ARI compares two).
    * All pair counts are exact integers off the (label, cell)
    * contingency — Σ C(nᵢⱼ,2), marginals A and B, T = C(n,2) — and the
    * adjustment closes as the cleared fraction
    * (2T·ΣC − 2AB)/(T(A+B) − 2AB): decimal(38,0) products, ONE
    * division. */
  def ariQuery(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val pts = graft.sources.Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        (floor((element_at(col("embedding"), 1).cast("double") + 1d) * 5d)
          .cast("long") * 100L +
          floor((element_at(col("embedding"), 2).cast("double") + 1d) * 5d)
            .cast("long")).as("cell"))
    val cells = graft.scale.Silver.scratch(
      pts.groupBy("label", "cell").agg(count(lit(1)).as("nij")),
      "ari_cells") // feeds the pair sum and both marginals
    val sij = cells.agg(sum(expr("(nij * (nij - 1)) div 2")).as("sc"))
    val sa = cells.groupBy("label").agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("(ai * (ai - 1)) div 2")).as("a"),
        sum(col("ai")).as("n"))
    val sb = cells.groupBy("cell").agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("(bj * (bj - 1)) div 2")).as("b"))
    sa.crossJoin(sb).crossJoin(sij)
      .withColumn("t", expr("(n * (n - 1)) div 2"))
      .select(col("n"), col("sc"), col("a"), col("b"), col("t"),
        ((lit(2).cast(d38) * col("t").cast(d38) * col("sc").cast(d38) -
            lit(2).cast(d38) * col("a").cast(d38) * col("b").cast(d38))
          .cast("string").cast("double") /
          (col("t").cast(d38) * (col("a") + col("b")).cast(d38) -
            lit(2).cast(d38) * col("a").cast(d38) * col("b").cast(d38))
          .cast("string").cast("double")).as("ari"))
  }
}
