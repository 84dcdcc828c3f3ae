package graft.operators

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: multi-dimensional clustering (Z-order) for
  * data skipping, the write-side half of scan pruning.
  *
  * Why it matters at 100 TB: parquet readers prune row groups / files by
  * min-max statistics. Sorting by ONE column makes only that column's
  * stats selective; interleaving the bits of TWO quantized columns into a
  * single Z-value and range-partitioning + sorting by it bounds EVERY
  * partition in a small rectangle of the 2-D key space, so filters on
  * either dimension (or both) skip most of the data. This is the same
  * technique table formats expose as `OPTIMIZE ... ZORDER BY`, built here
  * from public first principles: quantize → interleave → repartitionByRange
  * → sortWithinPartitions.
  *
  * Everything is exact integer arithmetic (quantization by integer
  * multiply-divide, interleave by shift/and/or), codegen-friendly and
  * hash-identical to the DuckDB oracle.
  */
object Layout {

  private val Bits = 16

  /** Interleave the low 16 bits of `x` (even positions) and `y` (odd
    * positions) into a 32-bit Morton/Z value. Pure shift-and-or tree —
    * stays inside whole-stage codegen. */
  private[operators] def zInterleave(x: Column, y: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Quantize attribute `name` into [0, 65535] given inclusive global
    * bounds (attribute names, not arbitrary columns: the `div` integer
    * division only exists in SQL-expression form). */
  private def quant(name: String, minName: String, maxName: String): Column =
    expr(s"(($name - $minName) * 65535) div greatest($maxName - $minName, 1)")

  /** q94 — per-row Z-values for `orders` over the 2-D key
    * (o_custkey, epoch-ms of o_orderdate): the deterministic core of the
    * Z-order layout, oracle-checked bit for bit. Global bounds come from a
    * 1-row aggregate broadcast into the plan (no driver round trip). */
  def zorderSample(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey").as("x"),
      Rfm.epochMs(col("o_orderdate")).as("y"))
    val bounds = o.agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
      min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    o.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"),
        quant("x", "min_x", "max_x").as("xq"),
        quant("y", "min_y", "max_y").as("yq"))
      .withColumn("zval", zInterleave(col("xq"), col("yq")))
  }

  val zorderSampleSql: String = {
    val interleave = (0 until Bits).map { i =>
      s"(((xq >> $i) & 1) << ${2 * i}) | (((yq >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey AS x, epoch_ms(o_orderdate) AS y
       |  FROM orders
       |), b AS (
       |  SELECT min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y FROM o
       |), q AS (
       |  SELECT o_orderkey,
       |         ((x - min_x) * 65535) // greatest(max_x - min_x, 1) AS xq,
       |         ((y - min_y) * 65535) // greatest(max_y - min_y, 1) AS yq
       |  FROM o CROSS JOIN b
       |)
       |SELECT o_orderkey, xq, yq, ($interleave) AS zval FROM q""".stripMargin
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetBytes` each. The partition count comes from the ACTUAL on-disk
    * byte size (the file-index statistics Spark already collected — no
    * extra pass over the data), so the operator self-tunes: a directory of
    * ten thousand 100 KB files and one of ten 1 GB files both land on the
    * target. `repartition` (round-robin) rather than `coalesce`: coalesce
    * would glue ADJACENT small files into uneven outputs and, worse,
    * collapse the read parallelism of everything upstream of the write.
    *
    * At cluster scale this is the maintenance job that keeps scan-task
    * startup cost amortized: readers pay per-file open/footer overhead, so
    * 100 TB fragmented into 100 KB files is unusable regardless of layout.
    * Returns (compacted frame, chosen partition count). */
  def compactionPlan(spark: SparkSession, inputDir: String,
                     targetBytes: Long): (DataFrame, Int) = {
    val df = spark.read.parquet(inputDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = math.max(1,
      (bytes / BigInt(math.max(targetBytes, 1L))).toInt +
        (if (bytes % BigInt(math.max(targetBytes, 1L)) > 0) 1 else 0))
    (df.repartition(parts), parts)
  }

  /** Hilbert-curve index of the 16-bit quantized pair in columns
    * (`xName`, `yName`) → new column `out` in [0, 4^16). Classic top-down
    * state machine (per level: extract quadrant bits, accumulate
    * s²·gray-code, reflect-then-swap when ry=0), unrolled over the 16
    * levels as CHAINED PROJECTIONS — one `withColumn` batch per level with
    * the quadrant bits materialized as temp columns. Building it as a
    * single Column would nest each level's CASE inside the next (the state
    * update references both x and y twice), exploding the expression tree
    * ~4× per level; separate projections keep it linear and Catalyst's
    * CollapseProject leaves multiply-referenced non-trivial aliases alone.
    *
    * All arithmetic is 64-bit integer (two's-complement `&` on possibly
    * negative reflected intermediates behaves identically in Spark and
    * DuckDB, verified exhaustively on the 8-bit grid), so the index is
    * oracle-exact. The XOR in the d-increment `(3·rx)⊕ry` is folded to
    * arithmetic (`rx=0 → ry, rx=1 → 3-ry`) so no engine-specific bitwise
    * XOR syntax is needed. */
  /** Hilbert index via the native codegen expression
    * ([[graft.functions.SpatialExprs.HilbertIndex]]): plan depth 1 instead
    * of the ~100-Project unrolled chain below — the chain's per-call
    * Catalyst analysis/codegen overhead measured ~2 s at sf0.1 while the
    * row work is trivial. Kept bit-identical to [[hilbertColsUnrolled]]
    * (spec cross-checks them on the exhaustive grid), which is also what
    * the q104 DuckDB oracle pins. */
  private[graft] def hilbertCols(df: DataFrame, xName: String,
                                 yName: String, out: String): DataFrame =
    df.withColumn(out, graft.functions.SpatialExprs.hilbert_index(
      col(xName).cast("long"), col(yName).cast("long"), Bits))

  /** The original unrolled-projection form — the readable reference
    * implementation the expression is checked against. */
  private[graft] def hilbertColsUnrolled(df: DataFrame, xName: String,
                                     yName: String, out: String): DataFrame = {
    var cur = df
      .withColumn("__hx", col(xName).cast("long"))
      .withColumn("__hy", col(yName).cast("long"))
      .withColumn(out, lit(0L))
    for (i <- (Bits - 1) to 0 by -1) {
      val s = 1L << i
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn(out, col(out) + lit(s * s) *
          when(col("__rx") === 0L, col("__ry"))
            .otherwise(lit(3L) - col("__ry")))
        .withColumn("__nx",
          when(col("__ry") === 1L, col("__hx"))
            .when(col("__rx") === 1L, lit(s - 1L) - col("__hy"))
            .otherwise(col("__hy")))
        .withColumn("__hy",
          when(col("__ry") === 1L, col("__hy"))
            .when(col("__rx") === 1L, lit(s - 1L) - col("__hx"))
            .otherwise(col("__hx")))
        .withColumn("__hx", col("__nx"))
    }
    cur.drop("__hx", "__hy", "__nx", "__rx", "__ry")
  }

  /** q104 — per-row Hilbert index for `orders` over the same quantized 2-D
    * key as [[zorderSample]] (q94), oracle-checked bit for bit. Hilbert
    * ordering dominates Morton for layout because the curve never jumps:
    * consecutive index values are always grid-adjacent, so range buckets
    * tile into tighter rectangles and min-max pruning skips more files —
    * the comparison spec measures exactly that on this data. */
  def hilbertSample(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_custkey").as("x"),
      Rfm.epochMs(col("o_orderdate")).as("y"))
    val bounds = o.agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
      min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    hilbertCols(
      o.crossJoin(broadcast(bounds))
        .select(col("o_orderkey"),
          quant("x", "min_x", "max_x").as("xq"),
          quant("y", "min_y", "max_y").as("yq")),
      "xq", "yq", "hval")
  }

  val hilbertSampleSql: String = {
    val levels = new StringBuilder
    var step = 0
    for (i <- (Bits - 1) to 0 by -1) {
      val s = 1L << i
      levels ++=
        s""", l${step + 1} AS (
           |  SELECT o_orderkey, xq, yq,
           |    d + CAST(${s * s} AS BIGINT) * (CASE WHEN (hx & $s) > 0
           |                      THEN 3 - (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)
           |                      ELSE (CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) END) AS d,
           |    CASE WHEN (hy & $s) > 0 THEN hx
           |         WHEN (hx & $s) > 0 THEN ${s - 1} - hy
           |         ELSE hy END AS hx,
           |    CASE WHEN (hy & $s) > 0 THEN hy
           |         WHEN (hx & $s) > 0 THEN ${s - 1} - hx
           |         ELSE hx END AS hy
           |  FROM l$step)""".stripMargin
      step += 1
    }
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey AS x, epoch_ms(o_orderdate) AS y
       |  FROM orders
       |), b AS (
       |  SELECT min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y FROM o
       |), q AS (
       |  SELECT o_orderkey,
       |         ((x - min_x) * 65535) // greatest(max_x - min_x, 1) AS xq,
       |         ((y - min_y) * 65535) // greatest(max_y - min_y, 1) AS yq
       |  FROM o CROSS JOIN b
       |), l0 AS (
       |  SELECT o_orderkey, xq, yq, xq AS hx, yq AS hy, CAST(0 AS BIGINT) AS d
       |  FROM q
       |)$levels
       |SELECT o_orderkey, xq, yq, d AS hval FROM l$step""".stripMargin
  }

  /** Hilbert analog of [[zorderLayout]]: range-cluster `df` by the Hilbert
    * index of (`xCol`, `yCol`). Same cost shape — one range exchange with
    * sampled bounds — tighter per-partition rectangles (see the layout
    * comparison spec). */
  def hilbertLayout(df: DataFrame, xCol: String, yCol: String,
                    numPartitions: Int): DataFrame = {
    val bounds = df.agg(
      min(col(xCol)).as("__hmin_x"), max(col(xCol)).as("__hmax_x"),
      min(col(yCol)).as("__hmin_y"), max(col(yCol)).as("__hmax_y"))
    hilbertCols(
      df.crossJoin(broadcast(bounds))
        .withColumn("__hqx", quant(xCol, "__hmin_x", "__hmax_x"))
        .withColumn("__hqy", quant(yCol, "__hmin_y", "__hmax_y")),
      "__hqx", "__hqy", "__hval")
      .repartitionByRange(numPartitions, col("__hval"))
      .sortWithinPartitions(col("__hval"))
      .drop("__hmin_x", "__hmax_x", "__hmin_y", "__hmax_y",
        "__hqx", "__hqy", "__hval")
  }

  /** The actual layout operator: cluster `df` into `numPartitions` ranges
    * of the Z-value of (`xCol`, `yCol`) and sort within each — the shape a
    * writer hands to a partitioned/bucketed parquet sink. One range
    * exchange (with sampled bounds), no extra shuffle for the sort. */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   numPartitions: Int): DataFrame = {
    // internal names are prefixed so a caller frame that already carries
    // zval/min_x/... columns can neither collide nor be clobbered
    val bounds = df.agg(
      min(col(xCol)).as("__zmin_x"), max(col(xCol)).as("__zmax_x"),
      min(col(yCol)).as("__zmin_y"), max(col(yCol)).as("__zmax_y"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__zval", zInterleave(
        quant(xCol, "__zmin_x", "__zmax_x"),
        quant(yCol, "__zmin_y", "__zmax_y")))
      .repartitionByRange(numPartitions, col("__zval"))
      .sortWithinPartitions(col("__zval"))
      .drop("__zmin_x", "__zmax_x", "__zmin_y", "__zmax_y", "__zval")
  }

  // ---------------------------------------------------------------- q284

  /** Number of range buckets in the clustered layout — at sf0.1's ~80
    * months of orders this is ~3.3 months of data per file/row-group, so
    * zone stats stay selective; at 100 TB the same ratio holds because
    * the bucket count scales with the write parallelism, not this
    * constant. */
  private val ClusterBuckets = 24

  /** Date-clustered copy of `orders` (round-10 verdict item 3 — ACT on
    * the q278 audit): `repartitionByRange` + `sortWithinPartitions` on
    * `o_orderdate`, so every output file covers one contiguous date slice
    * and its parquet row-group min/max stats are tight on exactly the
    * column q278 measured as layout-correlated. Staged once per source
    * build through [[Staging.stage]]. */
  def clusteredOrdersDir(spark: SparkSession, dir: String): String =
    // v2: the clustered column became DATE (NTZ stats don't prune)
    Staging.stage("orders_by_date", dir, sourceTable = "orders",
        version = "v2") { p =>
      // the clustered column is stored as DATE, not TIMESTAMP_NTZ:
      // measured on Spark 4.1's vectorized reader, NTZ min/max stats do
      // NOT drive row-group skipping (the pushed filter shows in the
      // plan but every group is decoded), while DATE stats prune as
      // documented — and a day-grained order date is a DATE anyway
      Tables.orders(spark, dir)
        .withColumn("o_orderdate", to_date(col("o_orderdate")))
        .repartitionByRange(ClusterBuckets, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
        .write.mode("overwrite").parquet(p)
    }

  /** The q278 date predicate, verbatim — the one the audit said skips
    * ~62% of rows once the layout correlates with it. */
  private[graft] val ClusterCutoff = "1999-01-01"

  /** q284 — REALIZED zone-map skipping (the audit→action loop closed):
    * q278 MEASURED that the `o_orderdate >= 1999-01-01` predicate could
    * skip ~62% of `orders` under a date-correlated layout; this lane
    * WRITES that layout once and runs the predicate's monthly revenue
    * rollup against it. The filter lands on the raw NTZ column, so it
    * reaches the parquet scan as a pushed filter and the reader drops
    * whole row groups by their min/max stats — rows in pre-cutoff slices
    * are never decoded, not "read and discarded". The oracle runs the
    * identical rollup on the ORIGINAL unclustered table: hash-equal rows
    * prove the rewrite lost nothing, while the spec pins the REALIZED
    * skip from the executed scan's own `numOutputRows` metric (q130's
    * partition-pruning pin, one level deeper in the stack) and PlanAudit
    * pins the pushed filter.
    *
    * Scale shape: the rewrite is one range-shuffle write (the price any
    * `OPTIMIZE ... ZORDER/CLUSTER BY` pays, amortized over every later
    * scan); the rollup is scan → month-keyed aggregate, with the scan
    * touching only ~38% of the data. Cents ride DECIMAL(38,0) — exact at
    * any scale. */
  def clusteredMonthlyRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, TimestampType}
    spark.read.parquet(clusteredOrdersDir(spark, dir))
      .filter(col("o_orderdate") >=
        lit(java.sql.Date.valueOf(ClusterCutoff)))
      .groupBy(date_trunc("month", col("o_orderdate").cast(TimestampType))
        .as("month"))
      .agg(count(lit(1)).as("n_orders"),
        // the SUM rides DECIMAL(38,0) (overflow-safe under ANSI at any
        // scale); the monthly result is well inside int64, and the
        // driver's hash lane is only stable on BIGINT outputs
        sum(graft.operators.Rfm.cents(col("o_totalprice"))
          .cast(DecimalType(38, 0))).cast(org.apache.spark.sql.types.LongType)
          .as("total_cents"))
  }

  /** [[clusteredMonthlyRollup]]'s oracle — the SAME rollup on the
    * original, unclustered `orders`: the clustered layout must be
    * row-for-row lossless. */
  val clusteredMonthlyRollupSql: String =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |            AS BIGINT) AS total_cents
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- q290

  /** The q290 date cut — the order history runs 1995..2001, so this
    * selects the late ~25% (a realistic "recent data" predicate with
    * real pruning headroom). */
  private[graft] val ZDateCutoff = "2000-01-01"

  /** Staged Z-ordered copy of `orders`, clustered on BOTH
    * (o_custkey, o_orderdate): the write-side realization of q94's
    * Z-value math (q284's staging discipline via [[Staging.prepared]] —
    * built once per source snapshot, `_SUCCESS`+fingerprint gated).
    * The order date is stored as DATE (the q284 finding: NTZ min/max
    * stats do not drive row-group skipping on Spark 4.1; DATE stats do)
    * and the Z key interleaves o_custkey with the epoch-day number, so
    * every output file — and every row group inside it, since rows sort
    * by Z within files — covers a small rectangle of the 2-D key space
    * and carries TIGHT min/max stats on BOTH columns. */
  private[graft] def zorderedOrders(spark: SparkSession, dir: String): DataFrame =
    Staging.prepared(spark, "zorders", dir, sourceTable = "orders") {
      val base = Tables.orders(spark, dir)
        .withColumn("o_orderdate", to_date(col("o_orderdate")))
        .withColumn("__zdays",
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
      zorderLayout(base, "o_custkey", "__zdays", ClusterBuckets)
        .drop("__zdays")
    }

  /** q290 — REALIZED multi-dimensional skipping on the Z-order layout
    * (round-11 verdict item 4): q284 closed the audit→action loop for a
    * ONE-column clustering; Z-order's whole value claim is that a single
    * layout serves selective predicates on EITHER of two columns — until
    * now asserted only by construction ([[zorderLayout]]). This lane
    * writes the (o_custkey, o_orderdate) Z layout once and runs one
    * rollup per clustered dimension against it: a customer-range
    * predicate (lowest quarter of the key domain — the cut derives from
    * `max(o_custkey) DIV 4`, a 1-row aggregate, so it is scale-free) and
    * a date-range predicate ([[ZDateCutoff]] — the late ~25%). Both
    * filters land on stored literal-comparable columns, reach the
    * parquet scan as pushed filters, and prune row groups via the
    * Z-tightened min/max stats; the spec pins the REALIZED per-predicate
    * skip from the executed scans' own `numOutputRows` (the q284
    * discipline, now once per dimension). The oracle runs both rollups
    * on the ORIGINAL unclustered table: hash-equal rows prove the
    * Z rewrite lost nothing.
    *
    * Scale shape: the rewrite is one range exchange on the Z value (the
    * `OPTIMIZE ... ZORDER BY` price, amortized over every later scan);
    * each rollup is scan → 1-row aggregate, with the scan decoding only
    * the row groups whose 2-D rectangle intersects its predicate. Cents
    * ride DECIMAL(38,0) — exact at any scale. */
  def zorderSelectivityRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val z = zorderedOrders(spark, dir)
    // the cut is a bounded model constant (the int8CodedArray precedent):
    // one 1-row aggregate, inlined as a literal so the scan can prune
    val custCut = Tables.orders(spark, dir)
      .agg(max(col("o_custkey")).cast(LongType)).first().getLong(0) / 4
    def roll(tag: String, f: DataFrame): DataFrame =
      f.agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_custkeys"),
        sum(Rfm.cents(col("o_totalprice")).cast(DecimalType(38, 0)))
          .cast(LongType).as("total_cents"))
        .select(lit(tag).as("pred"), col("n_orders"), col("n_custkeys"),
          col("total_cents"))
    roll("custkey_quarter", z.filter(col("o_custkey") <= custCut))
      .unionAll(roll("date_tail", z.filter(col("o_orderdate") >=
        lit(java.sql.Date.valueOf(ZDateCutoff)))))
  }

  /** [[zorderSelectivityRollup]]'s oracle: both rollups on the ORIGINAL
    * unclustered `orders`, the custkey cut re-derived from the same 1-row
    * aggregate — the Z layout must be row-for-row lossless under each
    * predicate. */
  val zorderSelectivityRollupSql: String =
    s"""WITH cut AS (SELECT max(o_custkey) // 4 AS c FROM orders)
       |SELECT 'custkey_quarter' AS pred,
       |       CAST(count(*) AS BIGINT) AS n_orders,
       |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS total_cents
       |FROM orders, cut WHERE o_custkey <= cut.c
       |UNION ALL
       |SELECT 'date_tail' AS pred,
       |       CAST(count(*) AS BIGINT) AS n_orders,
       |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |            AS BIGINT) AS total_cents
       |FROM orders WHERE o_orderdate >= TIMESTAMP '$ZDateCutoff 00:00:00'""".stripMargin
}
