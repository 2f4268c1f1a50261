package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity search over embedding columns (builder brief): brute-force
  * cosine top-k as the exact baseline, plus a sign-random-projection LSH
  * bucketing as the 100 TB scale path.
  *
  * All vector math is higher-order Column expressions (`zip_with` /
  * `aggregate`) over `array<double>` — codegen-friendly, no UDFs, and the
  * left-to-right summation order matches a scalar loop so results are
  * reproducible.
  */
object Similarity {

  /** Cast a float embedding column to array<double> for stable math. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))

  /** [[cosine]] as composed higher-order functions — three interpreted
    * array walks (HOFs are CodegenFallback). Kept as the reference
    * implementation the fused expression is spec-checked against. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — the fused single-pass codegen expression
    * ([[graft.plans.CosineSim]]), bit-identical to [[cosineHof]] but
    * staying inside whole-stage codegen on the ANN scoring hot path. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.plans.CosineSim(
        org.apache.spark.sql.graft.Shims.expression(a),
        org.apache.spark.sql.graft.Shims.expression(b)))

  /** Exact integer squared-L2 over array<long> — the fused codegen
    * [[graft.plans.SqDistLong]] (bit-identical to the HOF
    * aggregate/zip_with form, but inside whole-stage codegen). */
  def sqDistLong(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.plans.SqDistLong(
        org.apache.spark.sql.graft.Shims.expression(a),
        org.apache.spark.sql.graft.Shims.expression(b)))

  /** Exact brute-force top-k neighbors of one query vector: broadcast the
    * query row, score every vector, TakeOrderedAndProject. One scan, no
    * shuffle beyond the k-row driver merge — the right baseline shape even
    * at scale (it's embarrassingly parallel). */
  def knnBruteForce(spark: SparkSession, dir: String,
                    queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batched exact KNN: top-k neighbors for a *set* of query vectors in
    * one pass — broadcast the query set, score corpus × queries, rank per
    * query. The corpus is scanned once regardless of query count; the
    * per-query rank window shuffles on query_id (tiny). */
  def knnBatch(spark: SparkSession, dir: String,
               queryIds: Seq[Long], k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("query_id", "rk")
  }

  /** Mutual-kNN consistency of the embedding space (q_mutual_knn): the
    * fraction of directed k-nearest-neighbor edges whose reverse edge
    * also exists. A hubby or anisotropic embedding space scores low
    * (many points claim the same neighbor that never claims them back)
    * — the standard pre-index QA read before trusting ANN recall, next
    * to [[graft.scale.EmbedStats]]'s dimension audits.
    *
    * Per-point top-k runs through the custom [[graft.plans.TopKPerKey]]
    * operator (per-partition bounded heaps below the exchange — the
    * scored stream never shuffles at full width). Scoring is the exact
    * all-pairs broadcast pass (the audit-scale baseline, same shape as
    * [[knnBruteForce]]); at corpus scale the SAME downstream mutuality
    * join runs over [[cosineNearDupPairs]]' banded candidates instead.
    * Mutuality is an exact self-join count; the fraction is ONE
    * division. */
  def mutualKnnQuery(spark: SparkSession, dir: String,
                     k: Int = 5): DataFrame = {
    val emb = graft.scale.Silver.scratch(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .transform(d => Par.fan(d, col("vec_id"))), // spread the one-split snapshot at compute width (AQE coalesces a bare repartition(col) on MB inputs back to 1 task — measured 2.7-3.6 s single-task scoring)
      "mknn_emb") // feeds both sides of the scoring pass
    val scored = emb.select(col("vec_id").as("src"), col("v"))
      .join(broadcast(emb.select(col("vec_id").as("dst"),
        col("v").as("vd"))), col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosine(col("v"), col("vd")), 6).as("sim"))
    val edges = graft.scale.Silver.scratch(
      graft.plans.TopKPerKey(scored, k, keys = Seq(col("src")),
          order = Seq(col("sim").desc, col("dst").asc))
        .select(col("src"), col("dst")),
      "mknn_edges") // feeds both sides of the mutuality join
    val mutual = edges
      .join(edges.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("n_mutual"))
    val tot = edges.agg(count(lit(1)).as("n_edges"))
    val pts = emb.agg(count(lit(1)).as("n_points"))
    pts.crossJoin(tot).crossJoin(mutual)
      .select(col("n_points"), lit(k.toLong).as("k"), col("n_edges"),
        col("n_mutual"),
        (col("n_mutual").cast("double") / col("n_edges").cast("double"))
          .as("mutual_frac"))
  }

  /** IVF-style ANN: k-means coarse quantizer (spark.ml KMeans, seeded),
    * corpus partitioned by nearest centroid; a query probes only the
    * `nProbe` closest cells and scores exactly within them. The scale path
    * for corpora where even one full scan per query is too much: the index
    * is built once (one training job + one assignment pass) and each query
    * touches ~nProbe/k of the data.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[(Int, Array[Double])])

  def ivfBuild(spark: SparkSession, dir: String, k: Int = 16): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val model = new KMeans().setK(k).setSeed(42L).setFeaturesCol("features").fit(emb)
    val assigned = Silver.materialize(model.transform(emb)
      .withColumnRenamed("prediction", "cell")
      .drop("features"),
      "ivf_assignments") // the persisted index; a silver table in production
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
    IvfIndex(assigned, centroids)
  }

  def ivfSearch(index: IvfIndex, queryVec: Array[Double],
                k: Int = 10, nProbe: Int = 4): DataFrame = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val probeCells = index.centroids
      .sortBy { case (_, c) => -cos(c, queryVec) }
      .take(nProbe).map(_._1)
    val qv = array(queryVec.map(lit): _*)
    index.assigned
      .filter(col("cell").isin(probeCells.toSeq: _*))
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), qv), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Product quantization (Jégou, Douze, Schmid, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011): split the d dims
    * into `m` subspaces, k-means each independently, store per vector
    * only the `m` centroid ids. At d=64 float dims and m=8/k=16 that is
    * 256 bytes → 8 nibbles — the compression that lets a 100 TB embedding
    * corpus keep its ANN index in executor memory. Training fits `m`
    * small KMeans models (on a sample at real scale; whole corpus here);
    * encoding is one pass.
    */
  final case class PqIndex(assigned: DataFrame,
                           codebooks: Array[Array[Array[Double]]],
                           m: Int, sub: Int)

  def pqBuild(spark: SparkSession, dir: String,
              m: Int = 8, k: Int = 16): PqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val dim = emb.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // Fit every codebook on the BASE projection — fitting on the
    // cumulatively-transformed frame would re-execute all prior models'
    // transforms on every KMeans iteration (O(m² · iters) passes).
    val models = (0 until m).map { j =>
      val featured = emb.select(
        array_to_vector(slice(col("v"), j * sub + 1, sub)).as("features"))
      new KMeans().setK(k).setSeed(42L + j).setFeaturesCol("features").fit(featured)
    }
    val codebooks = models.map(_.clusterCenters.map(_.toArray)).toArray
    // Assignment: stack the m transforms lazily and execute them in ONE
    // pass at materialization.
    var df = emb
    models.zipWithIndex.foreach { case (model, j) =>
      df = model.transform(df.withColumn("features",
          array_to_vector(slice(col("v"), j * sub + 1, sub))))
        .withColumnRenamed("prediction", s"__c$j").drop("features")
    }
    val assigned = Silver.materialize(
      df.withColumn("code", array((0 until m).map(j => col(s"__c$j")): _*))
        .drop((0 until m).map(j => s"__c$j"): _*),
      "pq_assignments")
    PqIndex(assigned, codebooks, m, sub)
  }

  /** PQ search by asymmetric distance computation: the query stays exact;
    * each corpus vector is scored from per-subspace lookup tables
    * (dot(qⱼ, centroid) and ‖centroid‖² for every (subspace, centroid)),
    * so the scan reads only the m-id `code` column — `element_at` over
    * broadcast literal arrays, codegen, no UDF. The ADC top `k·refine`
    * candidates are then re-ranked with exact cosine (the standard
    * recall-restoring refinement; only refine·k full vectors are read). */
  def pqSearch(index: PqIndex, queryVec: Array[Double],
               k: Int = 10, refine: Int = 4,
               excludeId: Option[Long] = None): DataFrame = {
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    val dotTable = (0 until index.m).map { j =>
      val q = queryVec.slice(j * index.sub, (j + 1) * index.sub)
      index.codebooks(j).map(c => c.zip(q).map { case (a, b) => a * b }.sum)
    }
    val normTable = (0 until index.m).map { j =>
      index.codebooks(j).map(c => c.map(x => x * x).sum)
    }
    def lookup(table: Seq[Array[Double]]): Column =
      (0 until index.m).map(j =>
        element_at(array(table(j).map(lit).toSeq: _*),
          (element_at(col("code"), j + 1) + 1).cast("int")))
        .reduce(_ + _)
    val adc = lookup(dotTable) / (lit(qNorm) * sqrt(lookup(normTable)))
    val base = excludeId.fold(index.assigned)(id =>
      index.assigned.filter(col("vec_id") =!= id))
    val qv = array(queryVec.map(lit).toSeq: _*)
    base
      .select(col("vec_id"), col("label"), col("v"), adc.as("adc_sim"))
      .orderBy(col("adc_sim").desc, col("vec_id").asc)
      .limit(k * refine)
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), qv), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Sign-random-projection LSH bucket id: sign bits of projections onto
    * `planes` deterministic pseudo-random hyperplanes (hash-derived, no
    * RNG state). Vectors in the same bucket are candidate near-neighbors;
    * at scale, join on `bucket` instead of cross-joining the corpus. */
  def srpBucket(v: Column, dim: Int, planes: Int = 8): Column = {
    // Plane p, component d = deterministic pseudo-random in [-0.5, 0.5]:
    // fractional part of sin-hash seeded by (p, d). Stable across runs.
    def comp(p: Int, d: Int): Double = {
      val x = math.sin(p * 12.9898 + d * 78.233) * 43758.5453
      x - math.floor(x) - 0.5
    }
    val bits = (0 until planes).map { p =>
      val proj = (0 until dim).map(d => element_at(v, d + 1) * lit(comp(p, d)))
        .reduce(_ + _)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Sign-band key: the sign bits of dims [band·width, band·width+width)
    * packed into an int. Axis-aligned cousin of [[srpBucket]], chosen for
    * the near-dup pipeline because it is ENGINE-PORTABLE — no float
    * hyperplane components, so the DuckDB oracle reproduces keys exactly
    * (libm `sin` differs across engines; raw sign bits don't). */
  def signBandKey(v: Column, band: Int, width: Int = 8): Column =
    (0 until width).map(i =>
      when(element_at(v, band * width + i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs: banded sign-LSH candidates
    * (a high-cosine pair agrees on all leading signs with overwhelming
    * probability, and `bands` chances to collide), then exact cosine
    * verify. Join key = (band, key): never materializes O(n²) — the same
    * LSH shape as `Dedup.minhashPairs`/`simhashPairs`, for vectors.
    * `emb` needs (vec_id, v array<double>). */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         bands: Int = 4, width: Int = 8): DataFrame = {
    val chunks = (0 until bands).map(b =>
      emb.select(col("vec_id"), col("v"), lit(b).as("band"),
        signBandKey(col("v"), b, width).as("bkey")))
      .reduce(_ unionByName _)
    chunks.as("x").join(chunks.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.band") === col("y.band") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"),
        round(cosine(col("x.v"), col("y.v")), 6).as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") >= threshold)
      .orderBy("d1", "d2")
  }

  /** The planted near-dup embedding corpus shared by `q_cosine_dups` and
    * `q_semantic_keep`: the synthetic corpus has no natural near-dups, so
    * every 10th vector gets a ±0.01-perturbed copy (vec_id + 1,000,000) —
    * a deterministic transform the oracle applies identically. */
  private def plantedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val pert = base.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), (x, i) =>
          x + when(pmod(i, lit(2)) === 0, 0.01).otherwise(-0.01)).as("v"))
    base.unionByName(pert)
  }

  /** q_cosine_dups: find the planted pairs via [[cosineNearDupPairs]]
    * at 0.9. */
  def cosineDupRoundTrip(spark: SparkSession, dir: String): DataFrame =
    cosineNearDupPairs(plantedCorpus(spark, dir), threshold = 0.9)

  /** q_semantic_keep — SemDeDup-shaped embedding-level dedup (Abbas et
    * al. 2023, public): cosine near-dup pairs → connected components →
    * keep ONE representative per semantic cluster (min vec_id — a
    * deterministic stand-in for the paper's centroid-distance choice;
    * swap the keep policy by joining doc metadata). Emits the per-vector
    * keep decision for the FULL corpus, singletons included — the
    * downstream filter is one broadcast-able semi-join on the dropped
    * ids.
    *
    * Scale shape: pairs come banded (never all-pairs), components from
    * the large-star/small-star loop (edge-linear rounds), and the final
    * labeling is two keyed aggregates/joins. Nothing quadratic, nothing
    * driver-side. */
  def semanticKeep(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedCorpus(spark, dir)
    val pairs = cosineNearDupPairs(corpus, threshold = 0.9)
    val cc = Dedup.connectedComponents(
      pairs.select(col("d1").as("u"), col("d2").as("v")))
    val labeled = corpus.select("vec_id")
      .join(cc.select(col("node").as("vec_id"), col("component")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Bucketed ANN: assign SRP buckets, then exact cosine only within the
    * query's bucket. Trades recall for a corpus-size-independent candidate
    * set. */
  def knnLshBucketed(spark: SparkSession, dir: String,
                     queryId: Long = 0L, k: Int = 10, dim: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", srpBucket(col("v"), dim))
    val query = emb.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    emb.join(broadcast(query), col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), col("qv")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Maximal Marginal Relevance re-ranking (q_mmr): the diversified
    * retrieval pass on top of [[knnBruteForce]] — greedily pick `k`
    * results that balance relevance to the query against redundancy with
    * what's already picked: score(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    * (Carbonell & Goldstein '98). The near-dup-heavy corpora this engine
    * curates are exactly where plain top-k returns k copies of one
    * document; MMR is the standard fix.
    *
    * Determinism: rel and all pairwise sims are round-6 cosines (the
    * knn device — exact multiples of 1e-6, so comparisons are exact);
    * each greedy score is two multiplies and a subtract on those, in the
    * same written order both engines; ties break by vec_id. The greedy
    * recursion is UNROLLED to `k` fixed rounds, so the DuckDB oracle
    * replays the identical selection.
    *
    * Scale shape: one corpus scan scores relevance (broadcast query,
    * TakeOrderedAndProject keeps `poolK`); everything after — the
    * poolK² pairwise matrix and k greedy rounds — runs on broadcast-
    * sized frames. poolK bounds the corpus-independent tail exactly the
    * way IVF's nProbe does. */
  def mmrSelect(spark: SparkSession, dir: String, queryId: Long = 0L,
                poolK: Int = 12, k: Int = 5, lam: Double = 0.7): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qv = emb.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val cand = Silver.scratch(
      emb.filter(col("vec_id") =!= queryId)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("v"),
          round(cosine(col("v"), col("qv")), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(poolK),
      "mmr_cand") // feeds the pairwise matrix and every greedy round
    val pw = Silver.scratch(
      cand.as("a").join(cand.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("id"), col("b.vec_id").as("sid"),
          round(cosine(col("a.v"), col("b.v")), 6).as("sim")),
      "mmr_pw")
    var sel: DataFrame = cand
      .orderBy(col("rel").desc, col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("rel"), col("rel").as("mmr_score"),
        lit(1L).as("pick"))
    for (i <- 2 to k) {
      val chosen = sel.select(col("vec_id").as("sid"))
      val next = cand.join(chosen, col("vec_id") === col("sid"), "left_anti")
        .join(pw.join(chosen, "sid"), col("vec_id") === col("id"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(max(col("sim")).as("msim"))
        .select(col("vec_id"), col("rel"),
          (col("rel") * lit(lam) - col("msim") * lit(1.0 - lam))
            .as("mmr_score"),
          lit(i.toLong).as("pick"))
        .orderBy(col("mmr_score").desc, col("vec_id").asc).limit(1)
      sel = Silver.scratch(sel.unionAll(next), "mmr_sel")
    }
    sel.orderBy("pick")
  }

  /** Greedy k-center coreset selection (q_kcenter): Gonzalez's
    * 2-approximation — start from a seed vector, then `k−1` times pick
    * the point FARTHEST from everything selected so far (max-min
    * cosine distance). The diversity-first dual of [[mmrSelect]]
    * (which is relevance-first): this is the "pick maximally spread
    * exemplars" pass of coreset sampling / facility location in
    * training-data curation.
    *
    * Determinism: distances are 1 − round-6 cosine (exact multiples of
    * 1e-6 ⇒ exact comparisons), ties break by vec_id; the greedy
    * recursion is unrolled to k fixed rounds for the oracle.
    *
    * Scale shape: each round is ONE corpus pass against a broadcast
    * ≤ k-row selected set (score, min-reduce, TakeOrderedAndProject
    * top-1) — k passes total, never a corpus self-join; `dmin` at
    * selection time is the classic k-center radius telemetry. */
  def kcenterSelect(spark: SparkSession, dir: String, seedId: Long = 0L,
                    k: Int = 5): DataFrame = {
    val emb = Silver.scratch(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v")),
      "kc_emb") // feeds every greedy round
    var sel: DataFrame = emb.filter(col("vec_id") === seedId)
      .select(col("vec_id"), lit(0.0).as("dmin"), lit(1L).as("pick"))
    for (i <- 2 to k) {
      val chosen = emb.join(sel.select(col("vec_id").as("sid")),
        col("vec_id") === col("sid")).select(col("sid"), col("v").as("sv"))
      val next = emb.join(sel.select(col("vec_id").as("sid")),
          col("vec_id") === col("sid"), "left_anti")
        .crossJoin(broadcast(chosen))
        .select(col("vec_id"),
          (lit(1.0) - round(cosine(col("v"), col("sv")), 6)).as("dist"))
        .groupBy("vec_id").agg(min(col("dist")).as("dmin"))
        .select(col("vec_id"), col("dmin"), lit(i.toLong).as("pick"))
        .orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
      sel = Silver.scratch(sel.unionAll(next), "kc_sel")
    }
    sel.orderBy("pick")
  }

  /** ANN recall audit (q_ann_recall): how much of the EXACT top-k does
    * the sign-band-bucketed search recover? — the accuracy/cost readout
    * every approximate index must publish before it replaces
    * [[knnBruteForce]]. The bucketed search restricts candidates to
    * vectors sharing the query's [[signBandKey]] (band 0: the sign
    * pattern of dims 1–8) — the ENGINE-PORTABLE bucketing (srpBucket's
    * float hyperplanes are not replayable; raw sign bits are), so the
    * oracle reruns the whole audit.
    *
    * recall = |approx∩exact| / k over two deterministic round-6 top-k
    * sets; n_candidates is the bucket's cost denominator (candidates
    * scored vs corpus size). One corpus scan per arm, broadcast query,
    * TakeOrderedAndProject — the audit costs what two queries cost. */
  def annRecallQuery(spark: SparkSession, dir: String,
                     queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Silver.scratch(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("bkey", signBandKey(col("v"), 0)),
      "ann_emb") // feeds the exact arm, the bucket arm, and the query row
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bkey").as("qkey"))
    val exact = emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(k)
    val bucket = emb.join(broadcast(q), col("bkey") === col("qkey"))
      .filter(col("vec_id") =!= queryId)
    val approx = bucket
      .select(col("vec_id"), round(cosine(col("v"), col("qv")), 6).as("s"))
      .orderBy(col("s").desc, col("vec_id").asc).limit(k)
    val nc = bucket.agg(count(lit(1)).as("n_candidates"))
    val hits = approx.join(exact.select("vec_id"), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    nc.crossJoin(hits)
      .select(col("n_candidates"), lit(k.toLong).as("k"), col("n_hits"),
        (col("n_hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Local Outlier Factor over the embedding corpus (q_lof): the
    * density-RELATIVE outlier score (Breunig et al., SIGMOD 2000) —
    * LOF(p) = mean(lrd(o) for o ∈ kNN(p)) / lrd(p), where lrd is the
    * inverse mean reachability distance. Unlike the global distance
    * cutoffs ([[EmbedStats.dbscanCoreQuery]]'s ε, z-scores), LOF flags
    * points sparse RELATIVE TO THEIR OWN NEIGHBORHOOD — the embedding-QA
    * read for "which vectors sit in no cluster at all?".
    *
    * Determinism is the hard part (LOF chains three levels of float
    * averaging): every level is pinned to exact integers —
    *   1. coordinates floor-scale to ints (µ-units), so pairwise
    *      distance² is an exact long per pair;
    *   2. reachability dist floor-scales to long after the ONE
    *      correctly-rounded sqrt: w = ⌊√(max(kdist²(o), d²(p,o)))⌋;
    *   3. lrd inverts via exact integer division lrdu = 5·10¹⁵ div Σw,
    * so both Σ-levels are exact long sums and the final LOF is ONE
    * division: Σlrdu(o) / (k·lrdu(p)).
    *
    * Scoring here is the exact all-pairs broadcast pass (the audit-scale
    * baseline, the [[mutualKnnQuery]] shape — per-point top-k through
    * the bounded-heap [[graft.plans.TopKPerKey]], never a full-width
    * shuffle); at corpus scale the identical kd/rd/lrd ladder runs over
    * [[cosineNearDupPairs]]'s banded LSH candidates instead. */
  /** Leave-one-out 5-NN classification accuracy of the embedding space
    * (q_knn_acc): predict each point's label by the majority label of
    * its 5 nearest neighbors (exact µ-scaled integer distances, the
    * [[lofQuery]] spine), score against its own label — the standard
    * "are the labels linearly recoverable from geometry?" probe run
    * before training anything on the embeddings ([[mutualKnnQuery]]
    * audits the graph's symmetry; this audits its SEMANTICS).
    *
    * Majority = argmax over the ≤5-row per-point label counts, ties
    * broken by smaller label (exact struct max); accuracy is one
    * division of exact counts. */
  def knnAccQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val pts = graft.scale.Silver.scratch(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0))).as("u"))
        .transform(d => Par.fan(d, col("vec_id"))), // compute-width fan (see mutualKnnQuery)
      "knnacc_pts") // feeds both sides of the scoring pass
    val scored = pts.select(col("vec_id").as("src"),
        col("label").as("src_label"), col("u"))
      .join(broadcast(pts.select(col("vec_id").as("dst"),
        col("label").as("dst_label"), col("u").as("ud"))),
        col("src") =!= col("dst"))
      .select(col("src"), col("src_label"), col("dst"), col("dst_label"),
        sqDistLong(col("u"), col("ud")).as("d2"))
    val edges = graft.plans.TopKPerKey(scored, k,
      keys = Seq(col("src")), order = Seq(col("d2").asc, col("dst").asc))
    val votes = edges
      .groupBy(col("src"), col("src_label"), col("dst_label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("src"), col("src_label"))
      .agg(max(struct(col("cnt"), (-col("dst_label")).as("nl"))).as("m"))
      .select(col("src_label"), (-col("m.nl")).as("pred"))
    votes.agg(count(lit(1)).as("n"),
        sum(when(col("src_label") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n").cast("double"))
          .as("accuracy"))
  }

  def lofQuery(spark: SparkSession, dir: String,
               k: Int = 5, topN: Int = 20): DataFrame = {
    // repartition: the snapshot is one input split; without the spread
    // the 25M-pair scoring loop runs on a single core (observed)
    val pts = graft.scale.Silver.scratch(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000000.0))).as("u"))
        .transform(d => Par.fan(d, col("vec_id"))), // compute-width fan (see mutualKnnQuery)
      "lof_pts") // feeds both sides of the scoring pass
    val scored = pts.select(col("vec_id").as("src"), col("u"))
      .join(broadcast(pts.select(col("vec_id").as("dst"),
        col("u").as("ud"))), col("src") =!= col("dst"))
      .select(col("src"), col("dst"), sqDistLong(col("u"), col("ud")).as("d2"))
    val edges = graft.scale.Silver.scratch(
      graft.plans.TopKPerKey(scored, k, keys = Seq(col("src")),
        order = Seq(col("d2").asc, col("dst").asc)),
      "lof_edges") // feeds kdist, reach-dist, and the lrd-sum join
    val kdist = edges.groupBy(col("src").as("o"))
      .agg(max(col("d2")).as("kd2"))
    val sumW = edges
      .join(kdist, col("dst") === col("o"))
      .select(col("src"),
        floor(sqrt(greatest(col("kd2"), col("d2")).cast("double")))
          .as("w"))
      .groupBy("src").agg(sum(col("w")).as("sum_w"))
    // greatest(sum_w, 1): a point whose k-neighborhood is all EXACT
    // duplicate vectors has every reach-dist 0 → sum_w = 0, and the bare
    // integer div would throw under ANSI mode. The guard caps its lrd at
    // the grid maximum (the textbook LOF's infinite density, saturated),
    // mirrored verbatim in the DuckDB oracle.
    val lrd = graft.scale.Silver.scratch(
      sumW.withColumn("lrdu", expr("5000000000000000 div greatest(sum_w, 1L)")),
      "lof_lrd") // feeds the neighbor-sum join and the final per-point row
    edges.select(col("src"), col("dst"))
      .join(lrd.select(col("src").as("dst"), col("lrdu").as("lrdu_o")),
        "dst")
      .groupBy("src").agg(sum(col("lrdu_o")).as("sum_lrdu"))
      .join(lrd, "src")
      .select(col("src").as("vec_id"), col("sum_w"), col("lrdu"),
        (col("sum_lrdu").cast("double") /
          (lit(k.toLong) * col("lrdu")).cast("double")).as("lof"))
      .orderBy(col("lof").desc, col("vec_id").asc)
      .limit(topN)
  }
}
