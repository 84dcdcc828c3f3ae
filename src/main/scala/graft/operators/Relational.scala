package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator queries mapped onto the driver testdata, one per
  * SURVEY §2.2/§2.3 operator (plus the sort/limit/window extensions of
  * §2.6 exercised on the star schema).
  *
  * Column-name and float-determinism conventions: see [[Rfm]] scaladoc.
  * All outputs use lowercase column names identical to the oracle SQL.
  */
object Relational {

  /** P1 — row-cleaning filter (reference `src/data.rs:106-112`:
    * `Quantity > 0 AND UnitPrice > 0 AND CustomerID IS NOT NULL`), mapped to
    * lineitem. Pure filter+project: Catalyst pushes both into the parquet
    * scan (PushedFilters + ReadSchema pruning — the scan reads 4 of 11
    * columns), so at 100 TB this is a narrow scan with no shuffle at all. */
  def cleanFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0.0 &&
        col("l_orderkey").isNotNull)
      .select(col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("extendedprice"))

  val cleanFilterSql: String =
    """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
      |       l_quantity AS quantity, l_extendedprice AS extendedprice
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0.0 AND l_orderkey IS NOT NULL""".stripMargin

  /** P3 — derived arithmetic column (reference `TotalAmount = Quantity *
    * UnitPrice`, `src/data.rs:124`) as lineitem net revenue. Per-row IEEE
    * arithmetic on identical inputs — deterministic, no rounding needed. */
  def deriveAmount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("amount"))

  val deriveAmountSql: String =
    """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
      |       l_extendedprice * (1.0 - l_discount) AS amount
      |FROM lineitem""".stripMargin

  /** P2+P4 — timestamp→fractional-days epoch arithmetic (reference
    * `src/data.rs:166-169`: µs/1e6/86400; here a single ms/86400000.0
    * divide, same value, one IEEE op). */
  def dateDays(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"),
        col("l_linenumber").as("linenumber"),
        (Rfm.epochMs(col("l_shipdate")).cast(DoubleType) / 86400000.0)
          .as("shipdate_days"))

  val dateDaysSql: String =
    """SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
      |       CAST(epoch_ms(l_shipdate) AS DOUBLE) / 86400000.0 AS shipdate_days
      |FROM lineitem""".stripMargin

  /** A5+A6+M1-M3 — z-score standardization with POPULATION std floored at
    * 1e-8 (reference `src/data.rs:16-53`; the floor at `src/data.rs:37`).
    * Spark MLlib's StandardScaler uses sample std (n−1) — wrong here, so the
    * scaler is expressed as plain aggregates, exactly like the reference's
    * math. Stats are a 1-row aggregate broadcast against the feature table:
    * two passes over a 3-column table, no wide shuffle. z-scores are rounded
    * to 6 decimals: avg/stddev over doubles is summation-order-dependent at
    * the last-ulp level, and rounding absorbs it (inputs are bit-identical
    * across engines, so the 1e-12-relative drift cannot straddle a rounding
    * boundary in practice). */
  def zscore(spark: SparkSession, dir: String): DataFrame =
    zscoreOn(Rfm.rfmPrepared(spark, dir))

  /** q90 — the reference pipeline as ONE fused plan, no prepared-frame
    * caches anywhere: orders scan → clean filters → RFM aggregate → global
    * scaler stats → z-scored features, exactly the dataflow the Rust
    * reference runs as its single in-memory pass (src/main.rs steps 1–3).
    * This is the apples-to-apples bench number against BASELINE.md: q04/q06
    * measure stages separately (and q06 serves from the session-prepared
    * RFM artifact); q90 re-executes the whole lineage end-to-end on every
    * run. Same oracle SQL as q06 — the fusion must be invisible. */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame =
    zscoreOn(Rfm.rfmOrders(spark, dir))

  private def zscoreOn(rfm: DataFrame): DataFrame = {
    val stats = rfm.agg(
      avg("recency").as("r_mu"),
      greatest(stddev_pop("recency"), lit(1e-8)).as("r_sd"),
      avg("frequency").as("f_mu"),
      greatest(stddev_pop("frequency"), lit(1e-8)).as("f_sd"),
      avg("monetary").as("m_mu"),
      greatest(stddev_pop("monetary"), lit(1e-8)).as("m_sd"))
    rfm.crossJoin(broadcast(stats))
      .select(col("custkey"),
        round((col("recency") - col("r_mu")) / col("r_sd"), 6).as("recency_z"),
        round((col("frequency") - col("f_mu")) / col("f_sd"), 6).as("frequency_z"),
        round((col("monetary") - col("m_mu")) / col("m_sd"), 6).as("monetary_z"))
  }

  private def zscoreOracle(body: String): String =
    s"""WITH rfm AS ($body),
       |stats AS (
       |  SELECT avg(recency) AS r_mu, greatest(stddev_pop(recency), 1e-8) AS r_sd,
       |         avg(frequency) AS f_mu, greatest(stddev_pop(frequency), 1e-8) AS f_sd,
       |         avg(monetary) AS m_mu, greatest(stddev_pop(monetary), 1e-8) AS m_sd
       |  FROM rfm)
       |SELECT custkey,
       |       round((recency - r_mu) / r_sd, 6) AS recency_z,
       |       round((frequency - f_mu) / f_sd, 6) AS frequency_z,
       |       round((monetary - m_mu) / m_sd, 6) AS monetary_z
       |FROM rfm CROSS JOIN stats""".stripMargin

  val zscoreSql: String = zscoreOracle(Rfm.rfmOrdersSql)

  /** A9 — plot-frame bounds: min/max of Frequency & Monetary ± 0.5 padding
    * (reference `src/viz.rs:38-50`). Single-row global aggregate. */
  def plotBounds(spark: SparkSession, dir: String): DataFrame =
    Rfm.rfmPrepared(spark, dir).agg(
      (min("frequency") - 0.5).as("f_min"),
      (max("frequency") + 0.5).as("f_max"),
      (min("monetary") - 0.5).as("m_min"),
      (max("monetary") + 0.5).as("m_max"))

  val plotBoundsSql: String =
    s"""WITH rfm AS (${Rfm.rfmOrdersSql})
       |SELECT min(frequency) - 0.5 AS f_min, max(frequency) + 0.5 AS f_max,
       |       min(monetary) - 0.5 AS m_min, max(monetary) + 0.5 AS m_max
       |FROM rfm""".stripMargin

  /** A3 — exact distinct-count aggregation (reference `n_unique`,
    * `src/data.rs:158-161`), grouped to exercise the partial-aggregate
    * expand path. Exact (not approx) because the oracle hash-compares. */
  def distinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))

  val distinctCountSql: String =
    """SELECT l_returnflag AS returnflag,
      |       count(DISTINCT l_orderkey) AS n_orders,
      |       count(DISTINCT l_partkey) AS n_parts,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Sort + limit (top-k) — extension beyond the reference (§2.6 lists sorts
    * as absent there): top 10 customers by monetary, deterministic tie-break
    * on custkey. Spark executes this as TakeOrderedAndProject — a per-
    * partition top-k then a k-row merge on the driver, no global sort
    * shuffle, which is the right plan at any scale. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Rfm.rfmPrepared(spark, dir)
      .orderBy(col("monetary").desc, col("custkey"))
      .limit(10)

  val topCustomersSql: String =
    s"""WITH rfm AS (${Rfm.rfmOrdersSql})
       |SELECT * FROM rfm ORDER BY monetary DESC, custkey LIMIT 10""".stripMargin

  /** Window function (ranking) — extension (§2.6): top-3 orders per customer
    * by totalprice. One hash-partition shuffle on o_custkey; ranking runs
    * within partitions, no global sort. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        col("o_totalprice").as("totalprice"), col("rn"))
  }

  val windowRankSql: String =
    """SELECT custkey, orderkey, totalprice, rn FROM (
      |  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      |         o_totalprice AS totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** q75 — the remaining ranking-function family in one window pass:
    * rank / dense_rank (gap vs no-gap tie semantics), ntile quartiles,
    * percent_rank. Customers rank within their nation by account balance
    * ROUNDED TO THOUSANDS — the rounding manufactures real ties so
    * rank ≠ dense_rank is actually exercised, not vacuously equal. One
    * exchange on the partition key; all five functions share a single
    * window sort.
    *
    * All cross-engine-compared values are exact integers: the thousand-
    * rounding runs in long-cents arithmetic ((cents+50000) floor-div 1e5 —
    * half rounds toward +inf), and percent_rank is emitted as
    * floor(1e6·(rank−1)/(n−1)) rather than a rounded double. `round()` on
    * doubles diverges between Spark (BigDecimal HALF_UP) and DuckDB
    * (float rounding), which round 2's oracle run caught. */
  def rankFunctions(spark: SparkSession, dir: String): DataFrame = {
    // cents→thousand-dollars: floor((cents+50000)/1e5)·1000, all exact.
    val bal = floor((Rfm.cents(col("c_acctbal")) + lit(50000L)) / lit(100000.0)) * 1000
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(bal.desc, col("c_custkey"))
    val wTies = Window.partitionBy(col("c_nationkey")).orderBy(bal.desc)
    val cnt = count(lit(1)).over(Window.partitionBy(col("c_nationkey")))
    val rnk = rank().over(wTies).cast(LongType)
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"),
        col("c_nationkey").cast(LongType).as("nationkey"),
        bal.as("bal"),
        row_number().over(w).cast(LongType).as("rn"),
        rnk.as("rnk"),
        dense_rank().over(wTies).cast(LongType).as("drnk"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        when(cnt > 1, floor((rnk - 1) * lit(1000000.0) / (cnt - 1)))
          .otherwise(0L).as("pct_rank_e6"))
  }

  val rankFunctionsSql: String =
    """SELECT c_custkey AS custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
      |       bal,
      |       row_number() OVER wtb AS rn,
      |       rank() OVER wt AS rnk,
      |       dense_rank() OVER wt AS drnk,
      |       ntile(4) OVER wtb AS quartile,
      |       CASE WHEN count(*) OVER wp > 1
      |            THEN CAST(floor((rank() OVER wt - 1) * 1000000.0
      |                            / (count(*) OVER wp - 1)) AS BIGINT)
      |            ELSE 0 END AS pct_rank_e6
      |FROM (SELECT c_custkey, c_nationkey,
      |             CAST(floor((CAST(round(c_acctbal * 100) AS BIGINT) + 50000)
      |                        / 100000.0) AS BIGINT) * 1000 AS bal
      |      FROM customer)
      |WINDOW wp AS (PARTITION BY c_nationkey),
      |       wt AS (PARTITION BY c_nationkey ORDER BY bal DESC),
      |       wtb AS (PARTITION BY c_nationkey ORDER BY bal DESC, c_custkey)""".stripMargin

  /** q113 — exact grouped WEIGHTED median: per return flag, the smallest
    * price x with Σ(quantity | price ≤ x) ≥ half the flag's total quantity
    * — the lower weighted median, the robust statistic quality pipelines
    * use where `avg` is skew-fragile. No approx-percentile sketch:
    * everything is exact integers (prices in long cents, quantities
    * rounded to long), so the oracle is hash-exact.
    *
    * Runs on [[OffsetPrefix.crossingMedian]] — the distributed
    * crossing-value search — so no task ever owns a whole flag's rows
    * (the round-3 plan windowed by the 3-value flag, which serializes each
    * group into ONE task at any cluster size; the oracle SQL keeps that
    * naive shape, proving the distributed form value-identical). */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    OffsetPrefix.crossingMedian(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          Rfm.cents(col("l_extendedprice")).as("cents"),
          round(col("l_quantity")).cast(LongType).as("wq")),
      grp = "flag", valCol = "cents", w = col("wq"), out = "median_cents")
      .select(col("flag"), col("median_cents"), col("__tot").as("total_w"))
      // (q116's 32-partition lever was measured HERE too and reverted: one
      // crossing pass over weights doesn't amortize the extra checkpoint
      // blocks — 1.55 s at 32 vs 1.19 s at the default 8)

  val weightedMedianSql: String =
    """WITH items AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |         CAST(round(l_quantity) AS BIGINT) AS wq,
      |         l_orderkey, l_linenumber
      |  FROM lineitem
      |), cum AS (
      |  SELECT flag, cents, wq,
      |         sum(wq) OVER (PARTITION BY flag
      |           ORDER BY cents, l_orderkey, l_linenumber
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |         sum(wq) OVER (PARTITION BY flag) AS total_w
      |  FROM items
      |)
      |SELECT flag,
      |       CAST(min_by(cents, cumw) AS BIGINT) AS median_cents,
      |       CAST(min(total_w) AS BIGINT) AS total_w
      |FROM cum WHERE cumw * 2 >= total_w GROUP BY flag""".stripMargin

  /** The q75 rank family WITHOUT per-nation windows — the port the
    * low-cardinality window inventory (COVERAGE.md) promises: every rank
    * function derives from distributed ordinals/cumulatives,
    *  - rn   = [[OffsetPrefix.ordinal]] over (−bal, custkey);
    *  - rnk  = 1 + (count of strictly-greater bals), from the per-value
    *           histogram's [[OffsetPrefix.cumSum]];
    *  - drnk = the VALUE's ordinal in the same histogram;
    *  - quartile = Spark's ntile law applied to (rn, n): first n mod 4
    *           tiles carry ⌈n/4⌉ rows;
    *  - pct_rank_e6 = exact integer floor over (rnk − 1, n − 1).
    * Value-identical to [[rankFunctions]] (spec-pinned); the windowed form
    * stays the contract query, this is the documented scale path. */
  def rankFunctionsDistributed(spark: SparkSession, dir: String): DataFrame = {
    val bal = floor((Rfm.cents(col("c_acctbal")) + lit(50000L)) / lit(100000.0)) * 1000
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"),
        col("c_nationkey").cast(LongType).as("nationkey"),
        bal.as("bal"), (-bal).as("negbal"))
    val withRn = OffsetPrefix.ordinal(
      base, "nationkey", Seq("negbal", "custkey"))
      .withColumnRenamed("__ord", "rn")
    val hist = base.groupBy(col("nationkey"), col("negbal"))
      .agg(count(lit(1)).as("nv"))
    val histRanked = OffsetPrefix.ordinal(
        OffsetPrefix.cumSum(hist, "nationkey", Seq("negbal"), "nv"),
        "nationkey", Seq("negbal"))
      .select(col("nationkey"), col("negbal"),
        (col("__cum") - col("nv") + 1).as("rnk"), col("__ord").as("drnk"))
    val cnt = base.groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
    val size = expr("n div 4")
    val rem = expr("n % 4")
    withRn
      .join(histRanked, Seq("nationkey", "negbal"))
      .join(broadcast(cnt), Seq("nationkey"))
      .select(col("custkey"), col("nationkey"), col("bal"), col("rn"),
        col("rnk"), col("drnk"),
        when(col("rn") <= rem * (size + 1),
          expr("(rn - 1) div (n div 4 + 1)") + 1)
          .otherwise(rem + expr("(rn - 1 - (n % 4) * (n div 4 + 1)) div (n div 4)") + 1)
          .cast(LongType).as("quartile"),
        when(col("n") > 1,
          floor((col("rnk") - 1) * lit(1000000.0) / (col("n") - 1))
            .cast(LongType))
          .otherwise(lit(0L)).as("pct_rank_e6"))
  }

  /** Lower median of `valCol` per `grp` — [[OffsetPrefix.crossingMedian]]
    * with unit weights. 16 range partitions: a round-8 sweep at sf0.1
    * measured 8/16/32 within noise of each other (3.2/3.1/3.5 s for the whole
    * q116 — the localCheckpoint materialization and the two full passes
    * dominate, not window parallelism), so this sits at the middle knob;
    * at cluster scale the count follows data volume. Result is
    * partition-count invariant (spec-pinned). */
  private def lowerMedian(df: DataFrame, grp: String, valCol: String,
                          out: String): DataFrame =
    OffsetPrefix.crossingMedian(df, grp, valCol, lit(1L), out,
      partitions = 16).drop("__tot")

  /** q116 — robust scaling (median / MAD), the outlier-immune scaler a
    * quality pipeline uses where the z-score's mean/σ are skew-fragile:
    * per return flag, center = lower median of price cents, spread = lower
    * median of |cents − median| (the MAD), output = every row's robust
    * score in exact micro-units, `⌊10⁶·(cents − med) / mad⌋`.
    *
    * Exactness: medians are SELECTED values (never interpolated), so both
    * passes stay in long cents; the one division is IEEE on exact integers
    * ((cents−med)·10⁶ < 2⁵³).
    *
    * Plan: two [[OffsetPrefix.crossingMedian]] passes — the distributed
    * crossing-value search, no per-flag serialization — whose 3-row
    * results broadcast back onto the scan; the big side is never
    * re-shuffled for the scaling itself.
    *
    * WHY TWO PASSES ARE KEPT (round-13 verdict item 5, attempted and
    * measured round 14): the single-data-pass form — groupBy a (flag,
    * cents, multiplicity) VALUE HISTOGRAM once, run both medians as
    * weighted crossings over it (the MAD's deviation distribution is a
    * pure function of the value histogram) — is correct (oracle-hash
    * identical) but measured SLOWER on this data: 3.25 s vs 2.55 s
    * same-host at sf0.1, because the price domain is near-unique
    * (197–198k distinct cents per 200k-row flag), so the pre-aggregation
    * compresses nothing and its extra hash exchange is pure cost. The
    * other exact alternative — deriving the MAD crossing from pass 1's
    * cumulative layout via mirror lookups C(2m−v) — replaces the second
    * range pass with a data-sized as-of self-join: same asymptotics,
    * more failure surface. Two passes over the cached 4-column
    * projection are the honest exact price for a near-unique value
    * domain; a domain that DOES repeat (quantities, ratings) should use
    * the histogram form. */
  def robustScale(spark: SparkSession, dir: String): DataFrame = {
    // registry-cached: the projection feeds THREE consumers (median pass,
    // MAD pass via the broadcast-joined devs, final scaling) and Catalyst
    // re-inlines the parquet scan per reference — one 4-column
    // materialization serves all, saving two full rescans per run (the
    // round-5 audit's one flagged shave). At cluster scale the artifact is
    // the same narrow projection persisted once; the plan shape above it is
    // unchanged.
    val items = graft.CacheRegistry.cached(spark, s"robust-items:$dir")(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          Rfm.cents(col("l_extendedprice")).as("cents"),
          col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber")))
    val med = lowerMedian(items, "flag", "cents", "med")
    val withMed = items.join(broadcast(med), Seq("flag"))
      .withColumn("dev", abs(col("cents") - col("med")))
    val mad = lowerMedian(withMed, "flag", "dev", "mad")
    // mad = 0 (≥ half the group at one value) would divide by zero — Spark
    // silently emits ±Infinity→Long saturation while DuckDB errors; unit
    // spread for the degenerate group (scikit-learn RobustScaler's rule)
    // keeps both engines defined and identical
    withMed.join(broadcast(mad), Seq("flag"))
      .withColumn("mad", greatest(col("mad"), lit(1L)))
      .select(col("l_orderkey"), col("l_linenumber"), col("flag"),
        col("cents"), col("med"), col("mad"),
        floor((col("cents") - col("med")).cast(DoubleType) * 1000000.0 /
          col("mad").cast(DoubleType)).cast(LongType).as("robust_e6"))
  }

  val robustScaleSql: String =
    """WITH items AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |         l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
      |  FROM lineitem
      |), m1 AS (
      |  SELECT flag, min_by(cents, rn) AS med FROM (
      |    SELECT flag, cents,
      |           row_number() OVER (PARTITION BY flag
      |             ORDER BY cents, l_orderkey, l_linenumber) AS rn,
      |           count(*) OVER (PARTITION BY flag) AS tot
      |    FROM items)
      |  WHERE rn * 2 >= tot GROUP BY flag
      |), devs AS (
      |  SELECT i.*, m1.med, abs(i.cents - m1.med) AS dev
      |  FROM items i JOIN m1 USING (flag)
      |), m2 AS (
      |  SELECT flag, min_by(dev, rn) AS mad FROM (
      |    SELECT flag, dev,
      |           row_number() OVER (PARTITION BY flag
      |             ORDER BY dev, l_orderkey, l_linenumber) AS rn,
      |           count(*) OVER (PARTITION BY flag) AS tot
      |    FROM devs)
      |  WHERE rn * 2 >= tot GROUP BY flag
      |)
      |SELECT d.l_orderkey, d.l_linenumber, d.flag, d.cents, d.med,
      |       greatest(m2.mad, 1) AS mad,
      |       CAST(floor(CAST(d.cents - d.med AS DOUBLE) * 1000000.0
      |                  / CAST(greatest(m2.mad, 1) AS DOUBLE)) AS BIGINT)
      |         AS robust_e6
      |FROM devs d JOIN m2 USING (flag)""".stripMargin

  /** Broadcast-join star query — extension: revenue per region/market
    * segment. Dimension tables (region, nation, customer at this grain) are
    * broadcast; the only shuffle is the final group-aggregate. At 100 TB the
    * same shape holds: facts stream once, dims ship to every executor. */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        // exact fixed-point revenue in 10^-4 dollars (see Rfm scaladoc)
        (Rfm.cents(col("l_extendedprice")) *
          (lit(100L) - Rfm.cents(col("l_discount")))).as("revenue_e4"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("c_mktsegment").as("mktsegment"))
      .agg((sum(col("revenue_e4")).cast(DoubleType) / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val starJoinSql: String =
    """SELECT r_name AS region, c_mktsegment AS mktsegment,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |                (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS DOUBLE) / 10000.0 AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, c_mktsegment""".stripMargin

  /** Exact percentiles (median & p90 of order totals per market segment) —
    * `percentile` is Spark's exact interpolating implementation, matching
    * DuckDB's `quantile_cont` formula; rounded to absorb last-ulp division
    * differences. At scale the exact form needs a per-group sort — the
    * documented trade-off vs `approx_percentile` (t-digest, no sort), which
    * is the 100 TB default but is estimator-specific and so not
    * oracle-comparable. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
  }

  val percentilesSql: String =
    """SELECT c_mktsegment AS mktsegment,
      |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |       count(*) AS n
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** ROLLUP grouping — multi-level aggregate (region → region+segment →
    * grand total) in ONE pass: Spark expands grouping sets before the hash
    * aggregate, so the cost is one scan + one exchange regardless of how
    * many levels roll up. Null grouping cells are coalesced to '(all)' so
    * both engines sort/compare identically. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"),
      col("c_mktsegment"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("c_mktsegment"))
      .agg((sum(Rfm.cents(col("o_totalprice"))).cast(DoubleType) / 100.0)
        .as("revenue"), count(lit(1)).as("n_orders"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("mktsegment"),
        col("revenue"), col("n_orders"))
  }

  val rollupRevenueSql: String =
    """SELECT coalesce(r_name, '(all)') AS region,
      |       coalesce(c_mktsegment, '(all)') AS mktsegment,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |         / 100.0 AS revenue,
      |       count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, c_mktsegment)""".stripMargin

  /** q86 — full CUBE (every grouping-set combination) over market segment ×
    * order year, with an explicit grouping-bit column so subtotal rows are
    * machine-distinguishable from a real `(all)` segment. `gid` is built
    * from per-column `grouping()` bits (2·seg + yr) rather than
    * `grouping_id()`, pinning the bit order identically on both engines.
    * Same plan shape as rollup: one expanded aggregate, one exchange. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("yr"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("yr"))
      .agg((sum(Rfm.cents(col("o_totalprice"))).cast(DoubleType) / 100.0)
        .as("revenue"), count(lit(1)).as("n_orders"),
        (grouping(col("c_mktsegment")) * 2 + grouping(col("yr")))
          .cast(LongType).as("gid"))
      .select(coalesce(col("c_mktsegment"), lit("(all)")).as("mktsegment"),
        coalesce(col("yr"), lit(-1)).cast(LongType).as("yr"),
        col("revenue"), col("n_orders"), col("gid"))
  }

  /** Revenue and order count per (segment, year) grouping with its `gid`:
    * the select of the CUBE and GROUPING SETS oracles, which differ only
    * in their GROUP BY. */
  private val segmentYearRevenueSql: String =
    """SELECT coalesce(c_mktsegment, '(all)') AS mktsegment,
      |       CAST(coalesce(year(o_orderdate), -1) AS BIGINT) AS yr,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |         / 100.0 AS revenue,
      |       count(*) AS n_orders,
      |       CAST(grouping(c_mktsegment) * 2 + grouping(year(o_orderdate))
      |            AS BIGINT) AS gid
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  val cubeRevenueSql: String =
    s"""$segmentYearRevenueSql
       |GROUP BY CUBE (c_mktsegment, year(o_orderdate))""".stripMargin

  /** q96 — explicit GROUPING SETS: the general form cube/rollup specialize.
    * Exactly the three business rollups ((segment, year), (segment), ())
    * in ONE pass over the join — Catalyst plans a single Expand + aggregate
    * (asserted in PlanAudit), versus three scans for a UNION ALL of
    * separate GROUP BYs. gid disambiguates rows per set cross-engine. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("yr"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupingSets(
        Seq(Seq(col("c_mktsegment"), col("yr")), Seq(col("c_mktsegment")),
          Seq.empty),
        col("c_mktsegment"), col("yr"))
      .agg((sum(Rfm.cents(col("o_totalprice"))).cast(DoubleType) / 100.0)
        .as("revenue"), count(lit(1)).as("n_orders"),
        (grouping(col("c_mktsegment")) * 2 + grouping(col("yr")))
          .cast(LongType).as("gid"))
      .select(coalesce(col("c_mktsegment"), lit("(all)")).as("mktsegment"),
        coalesce(col("yr"), lit(-1)).cast(LongType).as("yr"),
        col("revenue"), col("n_orders"), col("gid"))
  }

  val groupingSetsRevenueSql: String =
    s"""$segmentYearRevenueSql
       |GROUP BY GROUPING SETS ((c_mktsegment, year(o_orderdate)),
       |                        (c_mktsegment), ())""".stripMargin

  /** Approximate distinct counting (HyperLogLog++) — the 100 TB default for
    * cardinality: constant memory per group, order-independent merge, no
    * expand. Estimator internals differ across engines, so the estimate is
    * soft-oracled (round 6): deterministic for a fixed dataset
    * (register-max merge), it is captured as a VALUES literal while the
    * `within_bound` flag — `|approx − exact|·100 ≤ 5·exact`, exact integer
    * arithmetic, 5% ≈ 2.5σ of the 2% rsd — is re-derived by DuckDB against
    * its own exact distinct count (see [[Sketches]] scaladoc for the flag's
    * never-flaky argument). */
  /** HLL++ estimate beside the exact distinct count. Both aggregates run
    * over the PRE-DEDUPLICATED (flag, part) pairs instead of mixing a
    * distinct and a plain aggregate in one `agg` — that mixed form plans
    * through Expand (every input row duplicated per aggregate family),
    * while this shape is two ordinary hash aggregates with map-side
    * partials. HLL is duplicate-insensitive, so feeding it deduped rows
    * leaves the estimate identical. Measured 1.5 → 0.7 s at sf0.1. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("returnflag"), col("l_partkey"))
      .distinct()
      .groupBy(col("returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("exact_parts"))
    capturedApprox.put(dir, (),
      graft.CacheRegistry.memo(spark, s"approx-distinct:$dir")(
        agg.select("returnflag", "approx_parts").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq))
    agg.withColumn("within_bound",
      abs(col("approx_parts") - col("exact_parts")) * lit(100L) <=
        lit(5L) * col("exact_parts"))
  }

  private val capturedApprox =
    new graft.OracleCapture.Captured[Unit, Seq[(String, Long)]]

  private def approxDistinctSql(est: Seq[(String, Long)]): String = {
    val values = est.sortBy(_._1).map { case (f, e) =>
      s"('$f', CAST($e AS BIGINT))"
    }.mkString(", ")
    s"""WITH est(returnflag, approx_parts) AS (VALUES $values),
       |ex AS (SELECT l_returnflag AS returnflag,
       |              count(DISTINCT l_partkey) AS exact_parts
       |       FROM lineitem GROUP BY 1)
       |SELECT returnflag, approx_parts, exact_parts,
       |       abs(approx_parts - exact_parts) * 100 <= 5 * exact_parts
       |         AS within_bound
       |FROM est JOIN ex USING (returnflag)""".stripMargin
  }

  /** q19's soft-oracle entry, buildable once the estimate has been captured
    * this session (see [[Sketches.oracleEntries]] for the mechanism). */
  def sketchOracleEntries: Map[String, String] =
    capturedApprox.get(()).map(e => "q19_approx_distinct" -> approxDistinctSql(e)).toMap

  /** Equal-width histogram — the one-pass distributed histogram: bucket id
    * per row is pure arithmetic (width_bucket semantics, written out
    * explicitly so both engines evaluate the identical expression — this
    * DuckDB build lacks the function, and engine-internal bucketing
    * arithmetic could differ in the last ulp at exact bucket boundaries),
    * then a count per bucket. 12 buckets of 50k over [0, 600k). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val bucket = when(x < 0.0, 0L)
      .when(x >= 600000.0, 13L)
      .otherwise(floor(x / 50000.0).cast(LongType) + 1L)
    Tables.orders(spark, dir)
      .select(bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  val histogramSql: String =
    """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
      |            WHEN o_totalprice >= 600000.0 THEN 13
      |            ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
      |       count(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** Semi/anti joins — extension (§2.6 lists them absent in the reference):
    * customers with no orders (anti) vs with at least one order (semi),
    * counted per market segment. Both are broadcast-able from the orders'
    * distinct-keys side at small SF; at scale Spark picks shuffled hash. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("kind", lit("without_orders"))
    semi.unionByName(anti)
  }

  val semiAntiJoinSql: String =
    """SELECT c_mktsegment AS mktsegment, count(*) AS n, 'with_orders' AS kind
      |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT c_mktsegment AS mktsegment, count(*) AS n, 'without_orders' AS kind
      |FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
      |GROUP BY c_mktsegment""".stripMargin

  /** q180 — UNPIVOT (wide→long melt) through the native `Dataset.unpivot`
    * API: the per-customer order metrics flip from one row × three columns
    * to three (metric, value) rows — the EAV shape a metrics store or a
    * generic drift monitor ingests. Complements q69's pivot (long→wide);
    * with it the reshape pair is closed. Values are exact long cents/
    * counts. Unpivot is a zero-shuffle narrow projection (each input row
    * expands locally), so the only exchange is the aggregate's own. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val price = Rfm.cents(col("o_totalprice"))
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(price).as("total_cents"),
        max(price).as("max_cents"))
      .unpivot(Array(col("custkey")),
        Array(col("n_orders"), col("total_cents"), col("max_cents")),
        "metric", "value")
  }

  val unpivotMetricsSql: String =
    """WITH m AS (
      |  SELECT o_custkey AS custkey, count(*) AS n_orders,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS total_cents,
      |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT custkey, 'n_orders' AS metric, n_orders AS value FROM m
      |UNION ALL
      |SELECT custkey, 'total_cents' AS metric, total_cents AS value FROM m
      |UNION ALL
      |SELECT custkey, 'max_cents' AS metric, max_cents AS value FROM m""".stripMargin

  /** q181 — per-flag EQUI-DEPTH decile boundaries of the lineitem price in
    * one distributed pass: [[OffsetPrefix.crossingBoundaries]] derives, per
    * row, the exact range of k/10 ranks that row's cumulative weight
    * crosses first and explodes only those — all nine boundaries per group
    * from ONE range-partition shuffle, where nine
    * [[OffsetPrefix.crossingQuantile]] calls would re-shuffle nine times
    * and a per-group window would serialize each flag's 200k-row slice
    * through one task. The equi-depth histogram is
    * the optimizer-statistics / data-skew primitive (equi-WIDTH is q09). */
  def equidepthDeciles(spark: SparkSession, dir: String): DataFrame =
    OffsetPrefix.crossingBoundaries(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"),
          Rfm.cents(col("l_extendedprice")).as("cents")),
      "flag", "cents", lit(1L), "boundary_cents", den = 10, partitions = 8)
      .select(col("flag"), col("k").cast(LongType).as("k"),
        col("boundary_cents"))

  /** `daily(day, day_cents)`: order revenue per epoch day in integer
    * cents, and `grid`: every day from the first to the last — the
    * gap-filled day series of q183, q190 and q197. */
  private val dayGridCtes: String =
    """daily AS (
      |  SELECT epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000 AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS day_cents
      |  FROM orders GROUP BY 1
      |), grid AS (
      |  SELECT unnest(range((SELECT min(day) FROM daily),
      |                      (SELECT max(day) FROM daily) + 1)) AS day
      |)""".stripMargin

  /** q183 — 7-day TRAILING moving average of daily order revenue on a
    * gap-filled day grid (q80's gap-fill semantics: a day with no orders
    * contributes zero, so the window always spans calendar days, not
    * order days). Days are epoch-day integers and the average is e2 fixed
    * point over the ACTUAL trailing span (the first six days divide by
    * their shorter span) — all-integer, engine-exact. The daily rollup is
    * the only data-sized exchange; the grid and its window are
    * days-sized (the aggregate-sized-window discipline). */
  def movingAvgDailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select((Rfm.epochMs(col("o_orderdate")) / lit(86400000L))
        .cast(LongType).as("day"),
        Rfm.cents(col("o_totalprice")).as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("day_cents"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = bounds.select(
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, Window.currentRow)
    grid.join(daily, Seq("day"), "left")
      .withColumn("day_cents", coalesce(col("day_cents"), lit(0L)))
      .withColumn("win_cents", sum(col("day_cents")).over(w))
      .withColumn("span", count(lit(1)).over(w))
      .select(col("day"), col("day_cents"), col("win_cents"),
        expr("win_cents * 100 DIV span").as("avg_e2"))
  }

  val movingAvgDailyRevenueSql: String =
    s"""WITH $dayGridCtes, filled AS (
       |  SELECT g.day, coalesce(d.day_cents, 0) AS day_cents
       |  FROM grid g LEFT JOIN daily d ON g.day = d.day)
       |SELECT day, day_cents,
       |       CAST(sum(day_cents) OVER w AS BIGINT) AS win_cents,
       |       CAST(sum(day_cents) OVER w * 100 // count(*) OVER w AS BIGINT)
       |         AS avg_e2
       |FROM filled
       |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  /** q190 — SEASONAL-NAIVE FORECAST BACKTEST: on the q183 gap-filled day
    * grid, forecast each day's revenue as last week's same weekday (lag 7)
    * vs yesterday (lag 1), and report per-weekday MAE in exact cents —
    * the baseline every real forecaster must beat, and the backtest
    * harness shape (point forecasts joined back to actuals) a capacity
    * planner runs. A lag-7 MAE below lag-1 quantifies weekly
    * seasonality. Integer-only; windows on the days-sized grid. */
  def seasonalBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select((Rfm.epochMs(col("o_orderdate")) / lit(86400000L))
        .cast(LongType).as("day"),
        Rfm.cents(col("o_totalprice")).as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("day_cents"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = bounds.select(
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
    grid.join(daily, Seq("day"), "left")
      .withColumn("day_cents", coalesce(col("day_cents"), lit(0L)))
      .withColumn("f7", lag(col("day_cents"), 7).over(w))
      .withColumn("f1", lag(col("day_cents"), 1).over(w))
      .filter(col("f7").isNotNull)
      .groupBy(((col("day") + 4) % 7).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("day_cents") - col("f7"))).as("ae7"),
        sum(abs(col("day_cents") - col("f1"))).as("ae1"))
      .select(col("dow"), col("n_days"),
        expr("ae7 DIV n_days").as("mae7_cents"),
        expr("ae1 DIV n_days").as("mae1_cents"))
  }

  val seasonalBacktestSql: String =
    s"""WITH $dayGridCtes, filled AS (
       |  SELECT g.day, coalesce(d.day_cents, 0) AS day_cents
       |  FROM grid g LEFT JOIN daily d ON g.day = d.day
       |), lagged AS (
       |  SELECT day, day_cents,
       |         lag(day_cents, 7) OVER (ORDER BY day) AS f7,
       |         lag(day_cents, 1) OVER (ORDER BY day) AS f1
       |  FROM filled)
       |SELECT (day + 4) % 7 AS dow, CAST(count(*) AS BIGINT) AS n_days,
       |       CAST(sum(abs(day_cents - f7)) // count(*) AS BIGINT)
       |         AS mae7_cents,
       |       CAST(sum(abs(day_cents - f1)) // count(*) AS BIGINT)
       |         AS mae1_cents
       |FROM lagged WHERE f7 IS NOT NULL
       |GROUP BY (day + 4) % 7""".stripMargin

  /** q193 — REVENUE CONCENTRATION (Gini) across customers, exact:
    * gini_ppm = (2·Σ i·xᵢ − (n+1)·Σx) · 10⁶ div (n·Σx) over revenues
    * sorted ascending with ordinal i — the inequality/concentration gauge
    * behind "top-1% of accounts" dashboards, plus the exact integer
    * components so any downstream can re-derive Lorenz points. The
    * ordinal comes from [[OffsetPrefix.ordinal]] on a constant
    * group — the DISTRIBUTED rank (range partition + offset prefix), so
    * the customers-sized frame never serializes through one window task
    * even when "customers" means billions. Ties order by custkey in both
    * engines (a total order, required by the ordinal's contract). */
  def revenueGini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(Rfm.cents(col("o_totalprice"))).as("rev"))
      .withColumn("__g", lit(1))
    OffsetPrefix.ordinal(rev, "__g", Seq("rev", "o_custkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("total_cents"),
        sum(col("__ord") * col("rev")).as("sum_irev"))
      .select(col("n_customers"), col("total_cents"),
        // the ×10⁶ scaling overflows Long past ~10¹³ cents of Σi·x — run
        // the scaled product in DECIMAL(38,0) (exact integer lane, the
        // same widening DuckDB's HUGEINT sum applies), floor back to Long
        expr("""CAST(floor(
                  CAST(2 * sum_irev - (n_customers + 1) * total_cents
                       AS DECIMAL(38,0)) * 1000000
                  / (CAST(n_customers AS DECIMAL(38,0)) * total_cents))
                AS LONG)""").as("gini_ppm"))
  }

  val revenueGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS rev
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT rev,
      |         CAST(row_number() OVER (ORDER BY rev, o_custkey) AS BIGINT)
      |           AS i
      |  FROM rev)
      |SELECT CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(rev) AS BIGINT) AS total_cents,
      |       CAST((2 * sum(i * rev) - (count(*) + 1) * sum(rev)) * 1000000
      |              // (count(*) * sum(rev)) AS BIGINT) AS gini_ppm
      |FROM ranked""".stripMargin

  /** The q90 pipeline instrumented with Spark's `Observation` API — the
    * production monitoring hook: named aggregate metrics (row count, a
    * key checksum, |z| > 3 outlier tallies) piggyback on the SAME action
    * that materializes the result, costing zero extra passes (a
    * CollectMetrics node in the plan, accumulated task-side). This is how
    * a deployed pipeline exports freshness/quality counters to its
    * scheduler without a second scan; OperatorSpec pins the observed
    * values against independent recomputation. The bench's q90 stays
    * un-instrumented so its number keeps measuring the bare dataflow. */
  def pipelineObserved(spark: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("rfm_pipeline")
    val df = pipelineE2e(spark, dir).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(col("custkey")).as("custkey_checksum"),
      sum(when(abs(col("recency_z")) > 3, 1L).otherwise(0L))
        .as("recency_outliers"),
      sum(when(abs(col("monetary_z")) > 3, 1L).otherwise(0L))
        .as("monetary_outliers"))
    (df, obs)
  }

  /** q194 — SLA lateness by order priority: per priority, line items
    * shipped more than 90 days after the order date, exact ppm — the
    * operational-SLA rollup (TPC-H Q4's flavor, line-item-grained). One
    * fact-fact equi-join on orderkey (both sides hash-partition on it)
    * and one priority-sized aggregate; epoch-ms day arithmetic keeps the
    * late predicate integer-exact. */
  def slaLateness(spark: SparkSession, dir: String,
                  slaDays: Long = 90L): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        Rfm.epochMs(col("o_orderdate")).as("o_ms"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), Rfm.epochMs(col("l_shipdate")).as("s_ms"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("s_ms") - col("o_ms") > slaDays * 86400000L, 1L)
          .otherwise(0L)).as("n_late"))
      .select(col("priority"), col("n_lines"), col("n_late"),
        expr("n_late * 1000000 DIV n_lines").as("late_ppm"))
  }

  def slaLatenessSql(slaDays: Long = 90L): String = {
    val slaMs = slaDays * 86400000L // pre-multiplied: a 90*86400000
    // literal pair overflows DuckDB's INT32 literal arithmetic
    s"""SELECT o_orderpriority AS priority,
       |       CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(sum(CASE WHEN epoch_ms(CAST(l_shipdate AS TIMESTAMP))
       |                        - epoch_ms(CAST(o_orderdate AS TIMESTAMP))
       |                        > $slaMs THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_late,
       |       CAST(sum(CASE WHEN epoch_ms(CAST(l_shipdate AS TIMESTAMP))
       |                        - epoch_ms(CAST(o_orderdate AS TIMESTAMP))
       |                        > $slaMs THEN 1 ELSE 0 END)
       |            * 1000000 // count(*) AS BIGINT) AS late_ppm
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin
  }

  /** q195 — DISCOUNT-BAND revenue effect (TPC-H Q6's shape, exact): the
    * yearly revenue that would be reclaimed by eliminating discounts in
    * the 5–7% band on small quantities. Discounts become integer BASIS
    * POINTS (round(d·100): the data carries exact hundredths) so
    * Σ cents·bp is a pure integer chain — the filter+aggregate pushes
    * down to the scan, no join, no shuffle beyond one 1-group aggregate
    * per year. */
  def discountEffect(spark: SparkSession, dir: String): DataFrame = {
    val bp = round(col("l_discount") * 100).cast(LongType)
    Tables.lineitem(spark, dir)
      .filter(bp.between(5, 7) && col("l_quantity") < 24)
      .select(year(col("l_shipdate").cast(TimestampType)).cast(LongType)
        .as("ship_year"),
        (Rfm.cents(col("l_extendedprice")) * bp).as("rev_e4"))
      .groupBy(col("ship_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("revenue_e4"))
  }

  val discountEffectSql: String =
    """SELECT CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS ship_year,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_e4
      |FROM lineitem
      |WHERE CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |  AND l_quantity < 24
      |GROUP BY year(CAST(l_shipdate AS TIMESTAMP))""".stripMargin

  /** q197 — exact CUSUM CHANGEPOINT on daily revenue: the day k maximizing
    * |Σ_{i≤k} (n·xᵢ − T)| over the gap-filled grid — the classic
    * mean-shift locator (scaled by n so every term is an exact integer;
    * S_n = 0 by construction). A large |S| at k says the mean before k
    * differs most from the mean after; sign(S) < 0 means the level ROSE
    * after the changepoint. Ties break to the earliest day in both
    * engines. One data-sized daily rollup; the CUSUM window and argmax
    * run on the days-sized grid. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select((Rfm.epochMs(col("o_orderdate")) / lit(86400000L))
        .cast(LongType).as("day"),
        Rfm.cents(col("o_totalprice")).as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("day_cents"))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = bounds.select(
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val filled = grid.join(daily, Seq("day"), "left")
      .withColumn("day_cents", coalesce(col("day_cents"), lit(0L)))
    val tot = filled.agg(sum(col("day_cents")).as("total_cents"),
      count(lit(1)).as("n_days"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled.crossJoin(broadcast(tot))
      .withColumn("s",
        sum(col("n_days") * col("day_cents") - col("total_cents")).over(w))
      .orderBy(abs(col("s")).desc, col("day"))
      .limit(1)
      .select(col("day").as("cp_day"), col("n_days"), col("total_cents"),
        col("s").as("s_scaled"))
  }

  val cusumChangepointSql: String =
    s"""WITH $dayGridCtes, filled AS (
       |  SELECT g.day, coalesce(d.day_cents, 0) AS day_cents
       |  FROM grid g LEFT JOIN daily d ON g.day = d.day
       |), tot AS (
       |  SELECT CAST(sum(day_cents) AS BIGINT) AS total_cents,
       |         CAST(count(*) AS BIGINT) AS n_days
       |  FROM filled
       |), cusum AS (
       |  SELECT day, n_days, total_cents,
       |         CAST(sum(n_days * day_cents - total_cents)
       |                OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND CURRENT ROW) AS BIGINT) AS s
       |  FROM filled CROSS JOIN tot)
       |SELECT day AS cp_day, n_days, total_cents, s AS s_scaled
       |FROM cusum ORDER BY abs(s) DESC, day LIMIT 1""".stripMargin

  /** q199 — revenue-BAND MIGRATION: customers bucketed into spend
    * quartiles separately for the first and second half of the order
    * timeline, cross-tabulated — the lifecycle matrix behind churn/
    * upgrade dashboards (band 0 = absent that half, so the new/churned
    * lanes appear as first-band-0 / second-band-0 rows). Each half's
    * quartile boundaries come from ONE [[OffsetPrefix.crossingBoundaries]] pass
    * (grp = half, den = 4) and broadcast back as a 6-row miniature;
    * banding is `1 + #{boundaries below the customer}` — tie-invariant,
    * identical in the oracle's window form. */
  def bandMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        (Rfm.epochMs(col("o_orderdate")) / lit(86400000L)).cast(LongType)
          .as("day"),
        Rfm.cents(col("o_totalprice")).as("cents"))
    val mid = o.agg(((min(col("day")) + max(col("day"))) / lit(2L))
      .cast(LongType).as("mid"))
    val halves = o.crossJoin(broadcast(mid))
      .withColumn("half", when(col("day") <= col("mid"), 1L).otherwise(2L))
      .groupBy(col("half"), col("custkey")).agg(sum(col("cents")).as("rev"))
    val qs = OffsetPrefix.crossingBoundaries(halves, "half", "rev", lit(1L),
      "qv", den = 4)
    val banded = halves.join(broadcast(qs), Seq("half"))
      .groupBy(col("half"), col("custkey"))
      .agg((sum(when(col("rev") > col("qv"), 1L).otherwise(0L)) + 1L)
        .as("band"))
    val first = banded.filter(col("half") === 1L)
      .select(col("custkey"), col("band").as("band_first"))
    val second = banded.filter(col("half") === 2L)
      .select(col("custkey"), col("band").as("band_second"))
    first.join(second, Seq("custkey"), "full_outer")
      .groupBy(coalesce(col("band_first"), lit(0L)).as("band_first"),
        coalesce(col("band_second"), lit(0L)).as("band_second"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val bandMigrationSql: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey,
      |         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000 AS day,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM o),
      |halves AS (
      |  SELECT CASE WHEN day <= m.mid THEN 1 ELSE 2 END AS half, custkey,
      |         CAST(sum(cents) AS BIGINT) AS rev
      |  FROM o CROSS JOIN m GROUP BY 1, 2
      |), r AS (
      |  SELECT half, rev,
      |         count(*) OVER (PARTITION BY half ORDER BY rev
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         count(*) OVER (PARTITION BY half) AS n
      |  FROM halves
      |), qs AS (
      |  SELECT half, k.k AS k, min(rev) AS qv
      |  FROM r CROSS JOIN (SELECT unnest(range(1, 4)) AS k) k
      |  WHERE cum * 4 >= k.k * n GROUP BY half, k.k
      |), banded AS (
      |  SELECT h.half, h.custkey,
      |         1 + sum(CASE WHEN h.rev > qs.qv THEN 1 ELSE 0 END) AS band
      |  FROM halves h JOIN qs ON qs.half = h.half
      |  GROUP BY h.half, h.custkey
      |), f AS (SELECT custkey, band FROM banded WHERE half = 1),
      |s AS (SELECT custkey, band FROM banded WHERE half = 2)
      |SELECT CAST(coalesce(f.band, 0) AS BIGINT) AS band_first,
      |       CAST(coalesce(s.band, 0) AS BIGINT) AS band_second,
      |       CAST(count(*) AS BIGINT) AS n_customers
      |FROM f FULL OUTER JOIN s ON f.custkey = s.custkey
      |GROUP BY coalesce(f.band, 0), coalesce(s.band, 0)""".stripMargin

  /** q215 — TIME-WEIGHTED average order value per customer: the step
    * function "price of the customer's latest order" integrated between
    * consecutive orders — the warehouse pattern behind time-weighted
    * balances, exposure, and inventory levels, where a plain AVG
    * over-weights bursts of short-lived rows. Exact integers end-to-end:
    * cents × whole-day durations (num, den) plus the floor-scaled ratio,
    * so the DuckDB oracle hash-matches bit-for-bit.
    *
    * Scale: one window over the HIGH-cardinality customer key (partitions
    * with the data — the COVERAGE.md window discipline) and one hash
    * aggregate on the same key, which AQE coalesces into the window's
    * partitioning; nothing else shuffles. Day-resolution durations keep
    * `price_c · dur` ≤ ~1e11 per row, so the BIGINT sums cannot overflow
    * at any realistic history depth (ms-resolution would flirt with 2⁶³
    * on wide-interval keys). */
  def twaPrice(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("custkey"),
      Rfm.epochMs(col("o_orderdate")).as("ts_ms"),
      col("o_orderkey").as("okey"),
      round(col("o_totalprice") * 100).cast(LongType).as("price_c"))
      .select(col("custkey"), expr("ts_ms div 86400000").as("day"),
        col("okey"), col("price_c"))
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("day"), col("okey"))
    o.withColumn("dur", lead(col("day"), 1).over(w) - col("day"))
      .filter(col("dur").isNotNull)
      .groupBy(col("custkey"))
      .agg(sum(col("price_c") * col("dur")).as("num"),
        sum(col("dur")).as("den"))
      .filter(col("den") > 0)
      .select(col("custkey"), col("num"), col("den"),
        expr("(num * 100) div den").as("twa_c_e2"))
  }

  val twaPriceSql: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey,
      |         epoch_ms(o_orderdate) // 86400000 AS day,
      |         o_orderkey AS okey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders
      |), s AS (
      |  SELECT custkey, price_c,
      |         lead(day) OVER (PARTITION BY custkey ORDER BY day, okey)
      |           - day AS dur
      |  FROM o
      |)
      |SELECT custkey, CAST(sum(price_c * dur) AS BIGINT) AS num,
      |       CAST(sum(dur) AS BIGINT) AS den,
      |       CAST((sum(price_c * dur) * 100) // sum(dur) AS BIGINT)
      |         AS twa_c_e2
      |FROM s WHERE dur IS NOT NULL
      |GROUP BY custkey HAVING sum(dur) > 0""".stripMargin

  /** q224 — hierarchical RATIO-TO-PARENT revenue shares: per nation, its
    * exact-cents revenue plus its ppm share of the parent region and of
    * the grand total — the drill-path report (region → nation) every
    * OLAP cube front-end asks for, in exact integers so the gate is
    * bit-for-bit.
    *
    * Scale: one fact-side aggregate keyed by custkey-joined nation (the
    * orders⋈customer join carries only the two join/group columns); the
    * nation/region dims and the 25-row aggregate output are miniatures —
    * parent totals come from broadcast re-aggregates of the nation-level
    * result, never a second fact pass. */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).agg(sum(col("cents")).as("rev_c"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("rev_c"))
    val regionTot = rev.groupBy(col("region"))
      .agg(sum(col("rev_c")).as("region_c"))
    val grandTot = rev.agg(sum(col("rev_c")).as("total_c"))
    rev.join(broadcast(regionTot), Seq("region"))
      .crossJoin(broadcast(grandTot))
      .select(col("region"), col("nation"), col("rev_c"),
        expr("(rev_c * 1000000) div region_c").as("region_share_ppm"),
        expr("(rev_c * 1000000) div total_c").as("total_share_ppm"))
  }

  val revenueShareSql: String =
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
      |              AS BIGINT) AS rev_c
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2
      |)
      |SELECT region, nation, rev_c,
      |       CAST((rev_c * 1000000) //
      |            sum(rev_c) OVER (PARTITION BY region) AS BIGINT)
      |         AS region_share_ppm,
      |       CAST((rev_c * 1000000) // sum(rev_c) OVER () AS BIGINT)
      |         AS total_share_ppm
      |FROM rev""".stripMargin

  /** q225 — DAU/MAU stickiness per calendar month: distinct daily actives
    * summed across the month against the month's distinct actives — the
    * product-analytics engagement ratio, in exact ppm (denominator
    * n_days·mau, the "perfect attendance" bound, so 1e6 ⇔ every monthly
    * user active every day).
    *
    * Scale: two exact-distinct aggregates — (month, day, user) then
    * (month, user) — both keyed on high-cardinality user-rooted keys that
    * partition with the data; the month-level join is a miniature. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(
      (year(col("ts")) * 100 + month(col("ts"))).cast(LongType).as("ym"),
      expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").as("day"),
      col("user_id"))
    val dau = e.select(col("ym"), col("day"), col("user_id")).distinct()
      .groupBy(col("ym"), col("day")).agg(count(lit(1)).as("dau"))
      .groupBy(col("ym"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = e.select(col("ym"), col("user_id")).distinct()
      .groupBy(col("ym")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("ym"))
      .select(col("ym"), col("n_days"), col("dau_sum"), col("mau"),
        expr("(dau_sum * 1000000) div (n_days * mau)").as("stickiness_ppm"))
  }

  val stickinessSql: String =
    """WITH e AS (
      |  SELECT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym,
      |         epoch_ms(ts) // 86400000 AS day, user_id
      |  FROM events
      |), dau AS (
      |  SELECT ym, day, count(DISTINCT user_id) AS dau
      |  FROM e GROUP BY ym, day
      |), m AS (
      |  SELECT ym, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(dau) AS BIGINT) AS dau_sum
      |  FROM dau GROUP BY ym
      |), mau AS (
      |  SELECT ym, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      |  FROM e GROUP BY ym
      |)
      |SELECT m.ym, m.n_days, m.dau_sum, mau.mau,
      |       CAST((m.dau_sum * 1000000) // (m.n_days * mau.mau) AS BIGINT)
      |         AS stickiness_ppm
      |FROM m JOIN mau ON m.ym = mau.ym""".stripMargin

  /** q226 — LOCAL-SUPPLIER revenue per region (the TPC-H Q5 shape): the
    * 6-way star join lineitem⋈orders⋈customer⋈supplier⋈nation⋈region
    * restricted to lines where the customer's and supplier's nations
    * coincide — "how much commerce stays in-region" — with discounted
    * revenue in exact cent·percent integers (the q195 convention).
    *
    * Scale: the one real exchange is the lineitem⋈orders fact-fact join;
    * supplier/nation/region broadcast explicitly (nation-bounded dims),
    * customer joins on its key and AQE picks broadcast at test SFs while
    * a 100 TB run shuffles it — exactly the decision Catalyst should own.
    * The locality predicate applies BEFORE the dim decorations, so
    * non-local lines never reach the wider joins. */
  def localSupplyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val bp = round(col("l_discount") * 100).cast(LongType)
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"),
      col("l_suppkey"),
      (Rfm.cents(col("l_extendedprice")) * (lit(100L) - bp)).as("rev_e4"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter(col("cust_nation") === col("supp_nation"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("cust_nation") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_e4")).as("local_rev_e4"))
  }

  val localSupplyRevenueSql: String =
    """SELECT r.r_name AS region, n.n_name AS nation,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS local_rev_e4
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE c.c_nationkey = s.s_nationkey
      |GROUP BY r.r_name, n.n_name""".stripMargin

  /** q227 — supplier CONCENTRATION per part brand: the Herfindahl–
    * Hirschman index over suppliers' quantity shares, in exact ppm²
    * (share_ppm = floor(1e6·qty_s/qty_brand); HHI = Σ share_ppm² — the
    * floor is applied identically in both engines, so the gate is
    * bit-exact). The supply-chain risk audit: HHI → 1e12 means one
    * supplier owns the brand, → 1e12/n means even split.
    *
    * Scale: two chained hash aggregates — (brand, supplier) quantity
    * sums, then the brand-keyed HHI fold with the brand total arriving
    * via a broadcast re-aggregate (brand cardinality is catalog-sized,
    * not fact-sized). */
  def supplierConcentration(spark: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(LongType)).as("q"))
    val tot = qty.groupBy(col("brand")).agg(sum(col("q")).as("qt"))
    qty.join(broadcast(tot), Seq("brand"))
      .select(col("brand"),
        expr("(q * 1000000) div qt").as("share_ppm"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("share_ppm") * col("share_ppm")).as("hhi_e12"))
  }

  val supplierConcentrationSql: String =
    """WITH qty AS (
      |  SELECT p.p_brand AS brand, l.l_suppkey,
      |         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2
      |), tot AS (
      |  SELECT brand, sum(q) AS qt FROM qty GROUP BY brand
      |)
      |SELECT qty.brand, CAST(count(*) AS BIGINT) AS n_suppliers,
      |       CAST(sum(((q * 1000000) // qt) * ((q * 1000000) // qt))
      |            AS BIGINT) AS hhi_e12
      |FROM qty JOIN tot ON qty.brand = tot.brand
      |GROUP BY qty.brand""".stripMargin

  /** q229 — CATALOG-MARGIN realization per brand: the realized per-unit
    * selling price against the part's catalog retail price, in exact ppm
    * (unit price = extendedprice/quantity in TPC-H, so realized ppm =
    * ⌊1e6·Σ extendedprice_cents / Σ (qty·retail_cents)⌋ — revenue-weighted,
    * one floor at the end). The merchandising report that finds brands
    * systematically selling above or below catalog.
    *
    * Scale: one broadcast dim join (part) + one brand-keyed aggregate —
    * the q227 shape; the ratio runs on two exact BIGINT sums. */
  def catalogMargin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"),
          Rfm.cents(col("p_retailprice")).as("retail_c"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(Rfm.cents(col("l_extendedprice"))).as("sold_c"),
        sum(col("l_quantity").cast(LongType) * col("retail_c"))
          .as("catalog_c"))
      .withColumn("realized_ppm",
        expr("(sold_c * 1000000) div catalog_c"))

  val catalogMarginSql: String =
    """SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS sold_c,
      |       CAST(sum(CAST(l.l_quantity AS BIGINT)
      |                * CAST(round(p.p_retailprice * 100) AS BIGINT))
      |            AS BIGINT) AS catalog_c,
      |       CAST((sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |             * 1000000)
      |            // sum(CAST(l.l_quantity AS BIGINT)
      |                 * CAST(round(p.p_retailprice * 100) AS BIGINT))
      |            AS BIGINT) AS realized_ppm
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_brand""".stripMargin

  /** q230 — RETURNS rate per brand: returned-line share (l_returnflag =
    * 'R') and returned-revenue share in exact ppm — the product-quality
    * screen over the part dimension. Same broadcast-dim + brand-keyed
    * aggregate shape as q229; the flag predicate folds into the
    * aggregate, so the fact table is scanned once with no join blow-up. */
  def returnsRate(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(Rfm.cents(col("l_extendedprice"))).as("rev_c"),
        sum(when(col("l_returnflag") === "R",
          Rfm.cents(col("l_extendedprice"))).otherwise(0L))
          .as("returned_c"))
      .withColumn("return_ppm", expr("(n_returned * 1000000) div n_lines"))
      .withColumn("returned_rev_ppm",
        expr("(returned_c * 1000000) div rev_c"))

  val returnsRateSql: String =
    """SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_returned,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS rev_c,
      |       CAST(sum(CASE WHEN l.l_returnflag = 'R'
      |                     THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                     ELSE 0 END) AS BIGINT) AS returned_c,
      |       CAST((sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
      |             * 1000000) // count(*) AS BIGINT) AS return_ppm,
      |       CAST((sum(CASE WHEN l.l_returnflag = 'R'
      |                      THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |                      ELSE 0 END) * 1000000)
      |            // sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS returned_rev_ppm
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_brand""".stripMargin

  val equidepthDecilesSql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem
      |), r AS (
      |  SELECT flag, c,
      |         count(*) OVER (PARTITION BY flag ORDER BY c
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         count(*) OVER (PARTITION BY flag) AS n
      |  FROM v
      |), ks AS (SELECT unnest(range(1, 10)) AS k)
      |SELECT flag, CAST(ks.k AS BIGINT) AS k, min(c) AS boundary_cents
      |FROM r CROSS JOIN ks
      |WHERE cum * 10 >= ks.k * n
      |GROUP BY flag, ks.k""".stripMargin

  // ----------------------------------------------- grouped OLS regression

  /** q245 — grouped linear regression by SUFFICIENT STATISTICS: per return
    * flag, fit `price_dollars ≈ slope·quantity + intercept` and report the
    * fit quality (R²). The distributed-ML shape that matters at 100 TB:
    * closed-form OLS needs only the six sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy) — ONE map-side-combinable hash aggregate,
    * one |groups|-row shuffle, and a per-group constant-time solve. No
    * gradient iterations, no driver-side matrix, no second pass. The same
    * one-pass moment discipline as the PCA gate (`Spectral.scala`),
    * specialized to the regression everyone actually runs in a profiler.
    *
    * Exactness: y is integer dollars derived from exact cents
    * (`round(price·100) DIV 100` — never `round(price)`, whose half-dollar
    * ties the two engines may round differently), x integer quantity; the
    * centered moments `cxy/cxx/cyy = n·Σab − Σa·Σb` are
    * computed in DECIMAL(38,0) (DuckDB HUGEINT — the q141 cast precedent)
    * so nothing overflows through sf1; slope/intercept quantize to e3 and
    * R² to e4 (basis points) by truncating division, which both engines
    * define identically toward zero (checked: Spark `DIV` and DuckDB `//`
    * both give −7/2 = −3). `slope_e3` is computed once and REUSED in the
    * intercept projection (the rendezvous double-hash lesson — never
    * recompute a truncated quantity and hope the two copies agree).
    * R²'s numerator `cxy²·10⁴` stays ≤ ~1e37 at sf0.1 — inside both
    * DECIMAL(38) and HUGEINT; at sf≥1 drop the R² scale a decade
    * (documented, not silently lossy). */
  def groupedOls(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast(LongType).as("x"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV 100").as("y"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    s.select(col("flag"), col("n"), col("sx"), col("sy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy")
          .as("cxy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
          .as("cxx"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy")
          .as("cyy"))
      .select(col("flag"), col("n"), col("sx"), col("sy"),
        col("cxy"), col("cxx"), col("cyy"),
        expr("cxy * 1000 DIV cxx").as("slope_e3"))
      .select(col("flag"), col("n"), col("slope_e3"),
        expr("(sy * 1000 - slope_e3 * sx) DIV n").as("intercept_e3"),
        expr("cxy * cxy * 10000 DIV (cxx * cyy)").as("r2_e4"))
  }

  val groupedOlsSql: String =
    """WITH s AS (
      |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
      |         CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) // 100)) AS BIGINT)
      |           AS sy,
      |         CAST(sum(CAST(l_quantity AS BIGINT)
      |                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
      |         CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS HUGEINT)
      |                  * (CAST(round(l_extendedprice * 100) AS BIGINT) // 100)) AS HUGEINT)
      |           AS syy,
      |         CAST(sum(CAST(l_quantity AS BIGINT)
      |                  * (CAST(round(l_extendedprice * 100) AS BIGINT) // 100)) AS BIGINT)
      |           AS sxy
      |  FROM lineitem GROUP BY l_returnflag
      |), c AS (
      |  SELECT flag, n, sx, sy,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS cxx,
      |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS cyy
      |  FROM s
      |), k AS (
      |  SELECT flag, n, sx, sy, cxy, cxx, cyy,
      |         cxy * 1000 // cxx AS slope_e3
      |  FROM c)
      |SELECT flag, n, CAST(slope_e3 AS BIGINT) AS slope_e3,
      |       CAST((sy * 1000 - slope_e3 * sx) // n AS BIGINT)
      |         AS intercept_e3,
      |       CAST(cxy * cxy * 10000 // (cxx * cyy) AS BIGINT) AS r2_e4
      |FROM k""".stripMargin
}
