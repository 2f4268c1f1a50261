package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multi-dimensional data layout: Z-order (Morton-curve) clustering.
  *
  * A sort can give locality on ONE leading column; a Z-order sort gives
  * bounded locality on ALL clustered columns at once by interleaving the
  * bits of each column's normalized bucket value. Files/row-groups then
  * cover small hyper-rectangles of the key space, so parquet min/max
  * statistics prune scans for predicates on ANY clustered column — the
  * single biggest read-path lever for a 100 TB fact table queried along
  * several dimensions (the reference's B-tree index set,
  * database/schema.sql:1051-1095, serves exactly this multi-predicate
  * access pattern; partition pruning + Z-order is the lakehouse
  * equivalent).
  *
  * Scale shape: one aggregation pass for per-column [min, max] (a handful
  * of doubles to the driver — layout parameters, like IVF centroids), a
  * pure bit-interleave expression per row, then `repartitionByRange` +
  * `sortWithinPartitions` on the z-value (parallel range sort, no
  * single-partition stage). Bucketization is linear min-max here;
  * production swaps in range-sampled boundaries for heavily skewed
  * columns (the same reservoir sampler repartitionByRange already uses).
  */
object Layout {

  /** Bits per dimension (k columns × bits ≤ 63 to stay in a signed long). */
  val DefaultBits = 12

  /** Numeric view of a cluster column: timestamps → epoch seconds,
    * dates → epoch days, numerics → double. */
  private def numericize(df: DataFrame, name: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case _: TimestampType | _: TimestampNTZType =>
        col(name).cast("timestamp").cast("double")
      case _: DateType =>
        datediff(col(name), to_date(lit("1970-01-01"))).cast("double")
      case _ => col(name).cast("double")
    }
  }

  /** One aggregation pass collecting [min, max] per expression — the
    * shared layout-parameter collect of every curve builder below (a
    * handful of doubles to the driver, like IVF centroids). Single
    * definition so the clamp/span contract the oracles replay cannot
    * drift between call sites. */
  private def columnRanges(df: DataFrame, cols: Seq[Column]): Seq[(Double, Double)] = {
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(c).cast("double").as(s"__lo_$i"), max(c).cast("double").as(s"__hi_$i"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map(i =>
      (stats.getAs[Double](s"__lo_$i"), stats.getAs[Double](s"__hi_$i")))
  }

  /** Morton z-value over `cols`, each normalized to `bits`-bit buckets by
    * the provided [lo, hi] ranges. Null sorts first (bucket 0). */
  def zvalue(cols: Seq[Column], ranges: Seq[(Double, Double)],
             bits: Int = DefaultBits): Column = {
    val k = cols.length
    require(k >= 2, "z-order needs at least 2 columns")
    require(k * bits <= 63, s"$k cols x $bits bits exceeds a signed long")
    val maxBucket = (1L << bits) - 1
    val buckets = cols.zip(ranges).map { case (c, (lo, hi)) =>
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(greatest(
          floor((c.cast("double") - lit(lo)) / lit(span) * maxBucket).cast("long"),
          lit(0L)), lit(maxBucket))
    }
    // interleave: output bit (i*k + c) = bit i of column c's bucket
    val terms = for {
      i <- 0 until bits
      (b, c) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(coalesce(b, lit(0L)), i).bitwiseAND(lit(1L)),
      i * k + c)
    terms.reduce(_ bitwiseOR _)
  }

  /** Cluster `df` by the Z-order of `clusterCols`: range-partition into
    * `numFiles` splits on the z-value and sort within each. The z column
    * is dropped after ordering — layout is carried by row order, not a
    * schema change. Write the result with one file per partition
    * (`df.write.parquet`) to materialize the layout. */
  def zorder(df: DataFrame, clusterCols: Seq[String], numFiles: Int,
             bits: Int = DefaultBits): DataFrame = {
    val ranges = columnRanges(df, clusterCols.map(c => numericize(df, c)))
    df.withColumn("__z",
        zvalue(clusterCols.map(c => numericize(df, c)), ranges, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** q_zorder: the Morton code of every lineitem row over
    * (l_quantity, l_extendedprice) with exact global min/max ranges —
    * the arithmetic substrate of `zorder`, checkable bit-for-bit across
    * engines: the bucketization is plain IEEE double arithmetic in a
    * fixed operation order and the interleave plain integer bit ops, so
    * a SQL replay (clamp → floor → unrolled shift/mask terms) must agree
    * exactly. The min/max collect is a layout parameter (4 doubles),
    * like `zorder`'s own range pass. */
  def zvalueQuery(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").cast("double").as("p"))
    val ranges = columnRanges(li, Seq(col("q"), col("p")))
    li.select(col("l_orderkey"), col("l_linenumber"),
        zvalue(Seq(col("q"), col("p")), ranges).as("z"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Hilbert-curve index over two columns — the locality-optimal
    * alternative to the Morton code above: consecutive Hilbert indexes
    * are always grid-ADJACENT (no Z-shaped jumps across the key space),
    * so equal-size splits cover tighter hyper-rectangles and parquet
    * min/max pruning discards more row groups for the same predicates.
    * The standard iterative xy2d transform (Hamilton's state machine,
    * one rotate-and-reflect step per bit level, top bit first).
    *
    * Implementation note: each bit level is staged as its OWN projection
    * (x/y/d become named attributes between levels) rather than one
    * nested expression — a single folded expression would re-inline each
    * level's CASE into the next and grow exponentially with bit depth;
    * staged aliases are referenced-many-times non-cheap expressions,
    * which CollapseProject deliberately leaves in place. The per-row
    * cost is `bits` fused projections, all inside whole-stage codegen.
    */
  def hilbertIndex(df: DataFrame, x: Column, y: Column,
                   ranges: Seq[(Double, Double)], bits: Int = DefaultBits,
                   outCol: String = "h"): DataFrame = {
    require(ranges.length == 2, "hilbertIndex is 2-D")
    require(2 * bits <= 62, s"2 x $bits bits exceeds a signed long")
    val maxBucket = (1L << bits) - 1
    def bucket(c: Column, r: (Double, Double)): Column = {
      val span = math.max(r._2 - r._1, java.lang.Double.MIN_NORMAL)
      least(greatest(
          floor((c.cast("double") - lit(r._1)) / lit(span) * maxBucket).cast("long"),
          lit(0L)), lit(maxBucket))
    }
    val n = 1L << bits
    var cur = df.withColumn("__hx", bucket(x, ranges(0)))
      .withColumn("__hy", bucket(y, ranges(1)))
      .withColumn("__hd", lit(0L))
    var s = n / 2
    while (s > 0) {
      val rx = col("__hx").bitwiseAND(lit(s)) > 0
      val ry = col("__hy").bitwiseAND(lit(s)) > 0
      // quadrant = (3*rx) XOR ry, spelled as the same CASE ladder the
      // SQL replay uses (no engine-specific xor needed)
      val quad = when(rx && ry, 2L).when(rx, 3L).when(ry, 1L).otherwise(0L)
      // rotate: ry=1 -> identity; ry=0,rx=1 -> flip both then swap;
      // ry=0,rx=0 -> swap
      val nx = when(ry, col("__hx"))
        .when(rx, lit(n - 1) - col("__hy")).otherwise(col("__hy"))
      val ny = when(ry, col("__hy"))
        .when(rx, lit(n - 1) - col("__hx")).otherwise(col("__hx"))
      val keep = cur.columns.filterNot(Set("__hx", "__hy", "__hd")).map(col)
      cur = cur.select(keep ++ Seq(nx.as("__hx"), ny.as("__hy"),
        (col("__hd") + lit(s * s) * quad).as("__hd")): _*)
      s /= 2
    }
    cur.withColumnRenamed("__hd", outCol).drop("__hx", "__hy")
  }

  /** Cluster `df` by the Hilbert index of two columns — same contract as
    * [[zorder]], better per-split locality. */
  def hilbertOrder(df: DataFrame, xCol: String, yCol: String, numFiles: Int,
                   bits: Int = DefaultBits): DataFrame = {
    val ranges = columnRanges(df,
      Seq(numericize(df, xCol), numericize(df, yCol)))
    hilbertIndex(df, numericize(df, xCol), numericize(df, yCol), ranges,
        bits, outCol = "__h")
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
  }

  /** q_hilbert: the Hilbert index of every lineitem row over
    * (l_quantity, l_extendedprice) with exact global min/max ranges —
    * like q_zorder, pure IEEE bucketization in a fixed operation order
    * followed by pure integer state-machine steps, so a DuckDB replay
    * (one chained CTE per bit level, same CASE ladders) must agree
    * bit-for-bit. */
  def hilbertQuery(spark: org.apache.spark.sql.SparkSession,
                   dir: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").cast("double").as("p"))
    val ranges = columnRanges(li, Seq(col("q"), col("p")))
    hilbertIndex(li, col("q"), col("p"), ranges)
      .select(col("l_orderkey"), col("l_linenumber"), col("h"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Per-split locality report for a clustered frame: for each partition,
    * the normalized min/max span of every probe column (0 = perfectly
    * local, 1 = the split covers the full value range — nothing prunable).
    * This is the measurable form of the row-group pruning benefit: a
    * predicate on a probe column skips every split whose [min, max]
    * misses it. */
  def localityReport(df: DataFrame, probeCols: Seq[String]): DataFrame = {
    val globalAggs = probeCols.flatMap(c => Seq(
      min(numericize(df, c)).as(s"lo_$c"),
      max(numericize(df, c)).as(s"hi_$c")))
    val global = df.agg(globalAggs.head, globalAggs.tail: _*).head()
    val aggs = probeCols.map { c =>
      val span = math.max(
        global.getAs[Double](s"hi_$c") - global.getAs[Double](s"lo_$c"),
        java.lang.Double.MIN_NORMAL)
      ((max(numericize(df, c)) - min(numericize(df, c))) / span)
        .as(s"frac_$c")
    }
    val allAggs = count(lit(1)).as("rows") +: aggs
    df.withColumn("__split", spark_partition_id())
      .groupBy("__split")
      .agg(allAggs.head, allAggs.tail: _*)
  }

  /** Delta+varint encoding profile (q_delta_bits): what sorting the
    * order-price column and storing adjacent differences as varints
    * would cost, by delta bit-length — the layout decision next to
    * [[zvalue]]/[[hilbert]]: Z-order answers "which rows co-locate",
    * this answers "how small does the sorted column get". Adjacent
    * deltas come from a consecutive-rank equi-join over
    * [[graft.operators.Ranking.distributedGlobalRank]] (the lag idiom —
    * no global window); bit lengths via `bin()` string length (the
    * q_degree_dist device, log-free); varint cost = ⌈bits/7⌉ bytes,
    * all exact integers. */
  def deltaEncodingProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ranking
    val vals = Tables.orders(spark, dir)
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("v"), col("o_orderkey").as("k"))
    val ranked = Silver.scratch(
      Ranking.distributedGlobalRank(vals, Seq(col("v").asc, col("k").asc),
        rankCol = "i"),
      "delta_ranked")
    ranked.as("a").join(ranked.as("b"), col("b.i") === col("a.i") + 1)
      .select((col("b.v") - col("a.v")).as("d"))
      .groupBy(length(bin(col("d"))).cast("long").as("bits"))
      .agg(count(lit(1)).as("n_deltas"),
        sum(col("d")).as("delta_sum"))
      .withColumn("varint_bytes", col("n_deltas") * expr("(bits + 6) div 7"))
      .withColumn("raw_bytes", col("n_deltas") * 8L)
      .orderBy("bits")
  }

  /** Compaction plan over time-partitioned fact data (q_compaction):
    * lineitem's 30-day ship-date partitions greedily packed, in
    * partition order, into output files of ~`targetRows` — the
    * small-file maintenance job every parquet lake schedules (thousands
    * of daily partitions → bounded-size compacted files, neighbors
    * merged so partition pruning still works on the result).
    *
    * The greedy first-fit-in-order assignment IS integer arithmetic:
    * group = (running-total-before) div target, off ONE
    * [[graft.operators.Ranking.distributedCumSum]] over the
    * calendar-bounded partition frame (a group overruns the target by
    * at most one input partition — exactly greedy semantics). Everything
    * is exact longs; `over_target` flags groups that a follow-up split
    * would rewrite. */
  def compactionPlanQuery(spark: SparkSession, dir: String,
                          targetRows: Long = 5000L): DataFrame = {
    val parts = graft.sources.Tables.lineitem(spark, dir)
      .groupBy(expr(
        "unix_millis(cast(l_shipdate as timestamp)) div 86400000 div 30")
        .as("part_id"))
      .agg(count(lit(1)).as("n_rows"))
    val cum = graft.operators.Ranking.distributedCumSum(
      parts, Seq(col("part_id").asc), Seq("n_rows"))
    cum.withColumn("grp", expr(s"(cum_n_rows - n_rows) div $targetRows"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_parts"),
        min(col("part_id")).as("from_part"),
        max(col("part_id")).as("to_part"),
        sum(col("n_rows")).as("rows_out"))
      .withColumn("over_target", col("rows_out") > targetRows)
      .orderBy("grp")
  }

  /** Probe months shared by [[zonemapQuery]] and its DuckDB oracle:
    * (month, loDay, hiDay) epoch-day bounds for each month of 1997,
    * computed ONCE in calendar arithmetic so both engines compare the
    * same integer literals. */
  val ZonemapProbes: Seq[(Int, Long, Long)] = (1 to 12).map { m =>
    val lo = java.time.LocalDate.of(1997, m, 1)
    (m, lo.toEpochDay, lo.plusMonths(1).toEpochDay)
  }

  /** Zone-map pruning audit (q_zonemap): per-shard min/max ship-day
    * under the NATURAL layout (arrival order ≈ orderkey) vs the
    * SORTED-by-ship-date layout, probed with twelve one-month range
    * predicates — the number a lakehouse layout decision actually
    * reads: "this sort order turns a 64-shard scan into a 2-shard
    * scan". Companions q_zorder / q_hilbert answer the multi-column
    * version; this is the single-column foundation with the pruning
    * arithmetic made explicit.
    *
    * Shards are rank-ranges from [[graft.operators.Ranking
    * .distributedGlobalRank]] (range exchange + broadcast offsets, no
    * single-partition window) — 64 equal-width buckets of the total
    * order, i.e. ideal equal-size files. Zone maps are exact integer
    * min/max per shard; a shard is scanned iff [min,max] overlaps the
    * probe ([lo,hi) in epoch days). Everything downstream of the two
    * rank passes is shard-bounded (64×12 rows). */
  def zonemapQuery(spark: SparkSession, dir: String,
                   numShards: Int = 64): DataFrame = {
    import graft.operators.Ranking
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
          .as("d"))
    def zones(order: Seq[Column], layout: String): DataFrame =
      Ranking.distributedGlobalRank(rows, order)
        .select(expr(s"((rank - 1) * $numShards) div n").as("shard"),
          col("d"))
        .groupBy("shard")
        .agg(min(col("d")).as("min_d"), max(col("d")).as("max_d"))
        .withColumn("layout", lit(layout))
    val z = zones(Seq(col("l_orderkey").asc, col("l_linenumber").asc),
        "natural")
      .unionByName(zones(
        Seq(col("d").asc, col("l_orderkey").asc, col("l_linenumber").asc),
        "shipdate"))
    val probes = {
      import spark.implicits._
      ZonemapProbes.map { case (m, lo, hi) => (m.toLong, lo, hi) }
        .toDF("m", "lo", "hi")
    }
    val scanned = z.join(probes,
        col("min_d") < col("hi") && col("max_d") >= col("lo"))
      .groupBy("m", "lo", "hi")
      .pivot("layout", Seq("natural", "shipdate"))
      .agg(count(lit(1)))
      .withColumnRenamed("natural", "shards_natural")
      .withColumnRenamed("shipdate", "shards_sorted")
    val matched = rows.crossJoin(probes)
      .filter(col("d") >= col("lo") && col("d") < col("hi"))
      .groupBy("m").agg(count(lit(1)).as("rows_matched"))
    scanned.join(matched, Seq("m"), "left")
      .na.fill(0L, Seq("rows_matched", "shards_natural", "shards_sorted"))
      .select(col("m").as("probe_month"), col("rows_matched"),
        coalesce(col("shards_natural"), lit(0L)).as("shards_natural"),
        coalesce(col("shards_sorted"), lit(0L)).as("shards_sorted"),
        lit(numShards.toLong).as("n_shards"))
      .orderBy("probe_month")
  }
}
