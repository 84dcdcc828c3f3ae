package graft.operators

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Data-profiling operator: per-column null counts, exact distinct
  * cardinality and min/max over a table — the validation pass a pipeline
  * runs before training data is trusted.
  *
  * Scale shape: one NARROW scan per column, unioned — deliberately NOT the
  * single Expand-based multi-distinct (q08/q19's shape). With k mixed
  * string/long columns the Expand plan inflates the shuffle ×k AND falls
  * back to SortAggregate over the expanded rows (string min/max keys defeat
  * the mutable hash-agg buffer), measured 10 s at sf0.1 vs ~1 s for this
  * plan. On columnar storage the union reads each column exactly once — the
  * same total I/O as one wide scan.
  *
  * Each branch is `groupBy(value).count` (two-phase HASH aggregate with
  * map-side partials — the only per-row work) and then derives ALL the
  * metrics from the distinct-value table: n_rows = Σcnt, n_null = cnt of
  * the null key, n_distinct = non-null key count, min/max over the keys.
  * The row-volume path never sorts; the residual sort-based aggregate runs
  * over the already-tiny distinct set.
  *
  * Only integer/string columns are profiled with min/max: double rendering
  * differs between engines ("1.0E7" vs "10000000.0"), which would break the
  * hash compare without saying anything about correctness. */
object Profiling {

  private val Cols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_linestatus")

  /** q98 — profile the six integer/string lineitem columns. Output: one row
    * per column (col_name, n_rows, n_null, n_distinct, min_s, max_s). */
  def profileLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    Cols.map { c =>
      li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_s"),
          max(col(c)).cast("string").as("max_s"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionAll _)
  }

  val profileLineitemSql: String = Cols.map { c =>
    s"""SELECT '$c' AS col_name, count(*) AS n_rows,
       |       count(*) - count($c) AS n_null,
       |       count(DISTINCT $c) AS n_distinct,
       |       CAST(min($c) AS VARCHAR) AS min_s,
       |       CAST(max($c) AS VARCHAR) AS max_s
       |FROM lineitem""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** Benford's-law expected first-digit frequencies, log10(1+1/d), as
    * exact ppm literals — constants, so no transcendental runs in either
    * engine. */
  private val BenfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L, 51153L,
      45757L)

  /** q123 — Benford first-digit screen over order totals (the standard
    * numeric-forgery / data-corruption tripwire in data-quality suites):
    * per leading digit of the price in cents, the observed count, observed
    * share in exact ppm, the Benford expectation, and the absolute
    * deviation. A synthetic-uniform or fat-fingered column jumps out as a
    * large dev_ppm; the screen itself is one narrow map + a 9-row
    * aggregate, scan-speed at any size.
    *
    * ALWAYS emits all nine digits: the observed counts left-join a 9-row
    * digit domain, so a digit absent from the data surfaces as n = 0 with
    * its full expected share as deviation — a pathologically skewed column
    * (every price starting with 1) must show eight loud zero rows, not
    * silently drop them.
    *
    * The leading digit comes from the STRING of the exact long cents —
    * integer-to-string is engine-stable where double formatting is not. */
  def benfordScreen(spark: SparkSession, dir: String): DataFrame = {
    val cents = Rfm.cents(col("o_totalprice"))
    // reduceRight: otherwise() only applies to a when()-column, so the
    // chain must nest to the right
    val expected = BenfordPpm.zipWithIndex
      .map { case (p, i) => when(col("digit") === (i + 1).toLong, lit(p)) }
      .reduceRight((w, rest) => w.otherwise(rest))
    val counts = Tables.orders(spark, dir)
      .filter(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    spark.range(1, 10).select(col("id").as("digit"))
      .join(counts, Seq("digit"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .select(col("digit"), col("n"),
        floor(col("n") * lit(1000000L) / col("total")).cast("long")
          .as("obs_ppm"),
        expected.as("benford_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
  }

  val benfordScreenSql: String = {
    val cases = BenfordPpm.zipWithIndex
      .map { case (p, i) => s"WHEN digit = ${i + 1} THEN $p" }
      .mkString(" ")
    s"""WITH digits AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders
       |  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
       |), raw AS (
       |  SELECT digit, count(*) AS n FROM digits GROUP BY digit
       |), counts AS (
       |  SELECT d.digit, COALESCE(r.n, 0) AS n
       |  FROM (SELECT unnest(range(1, 10)) AS digit) d
       |  LEFT JOIN raw r ON d.digit = r.digit
       |)
       |SELECT digit, n,
       |       CAST(floor(n * 1000000 / (SELECT sum(n) FROM counts))
       |            AS BIGINT) AS obs_ppm,
       |       CAST(CASE $cases END AS BIGINT) AS benford_ppm,
       |       abs(CAST(floor(n * 1000000 / (SELECT sum(n) FROM counts))
       |                AS BIGINT) - CAST(CASE $cases END AS BIGINT))
       |         AS dev_ppm
       |FROM counts""".stripMargin
  }

  /** q139 — rule-based data-quality constraint suite (the Deequ-style
    * expectation run a pipeline gates ingestion on), long format: one row
    * per rule with (rule, checked, violations, pass). Complements q98's
    * statistical profile with hard pass/fail CONTRACTS: completeness,
    * value-range, accepted-domain, key-uniqueness and referential
    * integrity. NULL counts as a violation of every value rule (a null
    * quantity is not "in [1, 50]"), stated identically in both engines.
    *
    * Scale shape, rule family by rule family:
    *  - completeness/range/domain: ONE conditional-sum pass per table
    *    (`sum(when(violated, 1))` fused into a single scan per table,
    *    unpivoted with `stack`) — scan speed, no exchange beyond the
    *    1-row final agg, regardless of how many rules share the table;
    *  - uniqueness: one two-phase hash agg on the key (map-side partials;
    *    violations = Σ(cnt−1) so each extra duplicate counts once);
    *  - referential: one left join per FK against the DISTINCT key
    *    projection of the dimension (orders→customer, lineitem→orders)
    *    with the null-probe conditional sum — checked and violations in
    *    the same pass; AQE broadcasts the key projection when small.
    * The union is |rules| rows — nothing wide ever moves. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)
    def viol(bad: org.apache.spark.sql.Column) =
      sum(when(bad, lit(1L)).otherwise(lit(0L)))

    val ordersPass = orders.agg(
      count(lit(1)).as("n"),
      viol(col("o_custkey").isNull).as("v_ck"),
      viol(col("o_totalprice").isNull || col("o_totalprice") <= 0).as("v_tp"),
      viol(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("O", "F", "P")).as("v_st"),
      viol(col("o_orderdate").isNull).as("v_dt"))
      .select(expr(
        """stack(4,
          |  'orders_custkey_complete',   n, v_ck,
          |  'orders_totalprice_positive', n, v_tp,
          |  'orders_status_domain',      n, v_st,
          |  'orders_orderdate_complete', n, v_dt)
          |  AS (rule, checked, violations)""".stripMargin))

    val liPass = lineitem.agg(
      count(lit(1)).as("n"),
      viol(col("l_quantity").isNull ||
        !col("l_quantity").between(1, 50)).as("v_qty"),
      viol(col("l_discount").isNull ||
        !col("l_discount").between(0.0, 1.0)).as("v_dis"),
      viol(col("l_extendedprice").isNull ||
        col("l_extendedprice") <= 0).as("v_px"),
      viol(col("l_returnflag").isNull ||
        !col("l_returnflag").isin("R", "A", "N")).as("v_rf"))
      .select(expr(
        """stack(4,
          |  'lineitem_quantity_range',   n, v_qty,
          |  'lineitem_discount_range',   n, v_dis,
          |  'lineitem_price_positive',   n, v_px,
          |  'lineitem_returnflag_domain', n, v_rf)
          |  AS (rule, checked, violations)""".stripMargin))

    def unique(df: DataFrame, rule: String, keys: String*) =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("checked"),
          sum(col("c") - 1).as("violations"))
        .select(lit(rule).as("rule"), col("checked"), col("violations"))

    def fk(fact: DataFrame, factKey: String, dim: DataFrame,
           dimKey: String, rule: String) =
      fact.select(col(factKey))
        .join(dim.select(col(dimKey)).distinct(),
          col(factKey) === col(dimKey), "left")
        .agg(count(lit(1)).as("checked"),
          viol(col(dimKey).isNull).as("violations"))
        .select(lit(rule).as("rule"), col("checked"), col("violations"))

    Seq(ordersPass, liPass,
      unique(orders, "orders_pk_unique", "o_orderkey"),
      unique(lineitem, "lineitem_pk_unique", "l_orderkey", "l_linenumber"),
      fk(orders, "o_custkey", customer, "c_custkey", "orders_custkey_fk"),
      fk(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem_orderkey_fk"))
      .reduce(_ unionAll _)
      .withColumn("pass", col("violations") === 0L)
  }

  val dqChecksSql: String =
    """WITH o AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_ck,
      |    sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
      |             THEN 1 ELSE 0 END) AS v_tp,
      |    sum(CASE WHEN o_orderstatus IS NULL
      |               OR o_orderstatus NOT IN ('O','F','P')
      |             THEN 1 ELSE 0 END) AS v_st,
      |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v_dt
      |  FROM orders
      |), li AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN l_quantity IS NULL
      |               OR l_quantity NOT BETWEEN 1 AND 50
      |             THEN 1 ELSE 0 END) AS v_qty,
      |    sum(CASE WHEN l_discount IS NULL
      |               OR l_discount NOT BETWEEN 0.0 AND 1.0
      |             THEN 1 ELSE 0 END) AS v_dis,
      |    sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
      |             THEN 1 ELSE 0 END) AS v_px,
      |    sum(CASE WHEN l_returnflag IS NULL
      |               OR l_returnflag NOT IN ('R','A','N')
      |             THEN 1 ELSE 0 END) AS v_rf
      |  FROM lineitem
      |), long AS (
      |  SELECT 'orders_custkey_complete' AS rule, n AS checked, v_ck AS violations FROM o
      |  UNION ALL SELECT 'orders_totalprice_positive', n, v_tp FROM o
      |  UNION ALL SELECT 'orders_status_domain', n, v_st FROM o
      |  UNION ALL SELECT 'orders_orderdate_complete', n, v_dt FROM o
      |  UNION ALL SELECT 'lineitem_quantity_range', n, v_qty FROM li
      |  UNION ALL SELECT 'lineitem_discount_range', n, v_dis FROM li
      |  UNION ALL SELECT 'lineitem_price_positive', n, v_px FROM li
      |  UNION ALL SELECT 'lineitem_returnflag_domain', n, v_rf FROM li
      |  UNION ALL
      |  SELECT 'orders_pk_unique', sum(c), sum(c - 1)
      |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_pk_unique', sum(c), sum(c - 1)
      |  FROM (SELECT count(*) AS c FROM lineitem
      |        GROUP BY l_orderkey, l_linenumber)
      |  UNION ALL
      |  SELECT 'orders_custkey_fk', count(*),
      |         sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |  FROM orders o2
      |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o2.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'lineitem_orderkey_fk', count(*),
      |         sum(CASE WHEN ok.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |  FROM lineitem l2
      |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
      |    ON l2.l_orderkey = ok.o_orderkey
      |)
      |SELECT rule, CAST(checked AS BIGINT) AS checked,
      |       CAST(violations AS BIGINT) AS violations,
      |       violations = 0 AS pass
      |FROM long""".stripMargin

  /** q157 — distribution-DRIFT monitor between two time slices of the event
    * stream (first vs second half of the month): per event type, the value
    * distribution is binned into fixed $50 buckets and compared by TOTAL
    * VARIATION distance — `Σ|share_a − share_b| / 2` over bins — in exact
    * ppm, with a drift flag at 5%. TV distance is the bounded, exactly-
    * computable sibling of PSI/KL (which need logs — the q93/q147 integer
    * convention keeps the oracle hash-exact), and it is THE number a
    * training-data owner watches between corpus snapshots: "did this
    * source's distribution move?".
    *
    * Share arithmetic: ppm shares per (type, bin) via integer division of
    * per-slice totals; |a − b| sums then halve (the final `DIV 2` keeps the
    * truncation deterministic). A bin present in one slice only contributes
    * its full share (full-outer bin join, zero-coalesced).
    *
    * Scale: one (type, slice, bin) aggregate with map-side combine (bin
    * cardinality is value-range-bounded), a per-(type, slice) total
    * broadcast back, and a |types|·|bins|-row comparison — nothing
    * data-sized after the first aggregate. */
  def distributionDrift(spark: SparkSession, dir: String,
                        driftPpm: Long = 50000): DataFrame = {
    // parsed in the UTC-pinned session timezone (NOT Timestamp.valueOf,
    // which would use the JVM default tz and shift the slice on a
    // non-UTC host relative to DuckDB's naive TIMESTAMP literal)
    val cut = lit("2024-01-16 00:00:00").cast(TimestampType)
    val binned = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        when(col("ts").cast(TimestampType) < cut, "a").otherwise("b")
          .as("slice"),
        expr("CAST(round(value * 100) AS BIGINT) DIV 5000").as("bin"))
      .groupBy(col("event_type"), col("slice"), col("bin"))
      .agg(count(lit(1)).as("n"))
    val totals = binned.groupBy(col("event_type"), col("slice"))
      .agg(sum(col("n")).as("total"))
    val shares = binned.join(broadcast(totals), Seq("event_type", "slice"))
      .select(col("event_type"), col("slice"), col("bin"),
        expr("n * 1000000 DIV total").as("share_ppm"))
    val a = shares.filter(col("slice") === "a")
      .select(col("event_type"), col("bin"), col("share_ppm").as("a_ppm"))
    val b = shares.filter(col("slice") === "b")
      .select(col("event_type"), col("bin"), col("share_ppm").as("b_ppm"))
    a.join(b, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"),
        abs(coalesce(col("a_ppm"), lit(0L)) - coalesce(col("b_ppm"), lit(0L)))
          .as("d"))
      .groupBy(col("event_type"))
      .agg(expr("sum(d) DIV 2").as("tv_ppm"))
      .select(col("event_type"), col("tv_ppm"),
        (col("tv_ppm") > driftPpm).as("drifted"))
  }

  def distributionDriftSql(driftPpm: Long = 50000): String =
    s"""WITH binned AS (
       |  SELECT event_type,
       |         CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
       |              THEN 'a' ELSE 'b' END AS slice,
       |         CAST(round(value * 100) AS BIGINT) // 5000 AS bin,
       |         count(*) AS n
       |  FROM events GROUP BY 1, 2, 3
       |), tot AS (
       |  SELECT event_type, slice, CAST(sum(n) AS BIGINT) AS total
       |  FROM binned GROUP BY 1, 2
       |), shares AS (
       |  SELECT b.event_type, b.slice, b.bin,
       |         CAST(b.n * 1000000 // t.total AS BIGINT) AS share_ppm
       |  FROM binned b JOIN tot t
       |    ON b.event_type = t.event_type AND b.slice = t.slice
       |), joined AS (
       |  SELECT coalesce(a.event_type, b.event_type) AS event_type,
       |         abs(coalesce(a.share_ppm, 0) - coalesce(b.share_ppm, 0)) AS d
       |  FROM (SELECT * FROM shares WHERE slice = 'a') a
       |  FULL OUTER JOIN (SELECT * FROM shares WHERE slice = 'b') b
       |    ON a.event_type = b.event_type AND a.bin = b.bin)
       |SELECT event_type, CAST(sum(d) // 2 AS BIGINT) AS tv_ppm,
       |       sum(d) // 2 > $driftPpm AS drifted
       |FROM joined GROUP BY event_type""".stripMargin

  /** q164 — SOURCE-similarity matrix: pairwise total-variation distance
    * between the unigram token distributions of every pair of sources
    * (q157's exact-ppm TV machinery turned source×source). Low TV between
    * two sources means they carry near-identical token statistics — the
    * corpus-level signal that two crawls hit the same upstream, BEFORE any
    * pairwise document comparison runs; together with q155 (which counts
    * actual near-dup pairs) it triages where dedup effort should go.
    *
    * Scale: shares computed once per source on the vocabulary-sized
    * aggregate; the pair expansion is |sources|² × shared-vocab rows on a
    * token equi-join of two share tables — never documents. A 100 TB
    * corpus caps the vocabulary (q57 top-k) first; the testdata vocab is
    * already small, so the contract query runs uncapped and exact. */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    // per-source token totals are a |sources|-row miniature — broadcast
    // joined, never a source-partitioned window over the vocab aggregate
    // (20 source values would funnel each source's vocab slice into one
    // window task; the q268/q62/q75 discipline)
    val srcTot = broadcast(
      counts.groupBy(col("source")).agg(sum(col("n")).as("total")))
    val shares = counts.join(srcTot, Seq("source"))
      .select(col("source"), col("w"),
        expr("n * 1000000 DIV total").as("ppm"))
    // TV·2 = Σ_shared |a−b| + Σ_{A only} a + Σ_{B only} b; the one-sided
    // masses come from each source's TOTAL share minus its shared share,
    // so only the shared-token equi-join ever materializes pairs
    val totals = shares.groupBy(col("source")).agg(sum(col("ppm")).as("s_tot"))
    val sharedAgg = shares.toDF("source_a", "w", "a_ppm")
      .join(shares.toDF("source_b", "w", "b_ppm"), Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(abs(col("a_ppm") - col("b_ppm"))).as("d_shared"),
        sum(col("a_ppm")).as("a_shared"), sum(col("b_ppm")).as("b_shared"))
    // the complete pair grid (sources sharing no token still get a row)
    val srcs = totals.select(col("source"), col("s_tot"))
    srcs.toDF("source_a", "sa").crossJoin(broadcast(srcs.toDF("source_b", "sb")))
      .filter(col("source_a") < col("source_b"))
      .join(sharedAgg, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        expr("""(coalesce(d_shared, 0)
                + (sa - coalesce(a_shared, 0))
                + (sb - coalesce(b_shared, 0))) DIV 2""").as("tv_ppm"))
  }

  val sourceSimilaritySql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      |), shares AS (
      |  SELECT source, w,
      |         CAST(n * 1000000 //
      |              sum(n) OVER (PARTITION BY source) AS BIGINT) AS ppm
      |  FROM (SELECT source, w, count(*) AS n FROM tok GROUP BY 1, 2)
      |), totals AS (
      |  SELECT source, CAST(sum(ppm) AS BIGINT) AS s_tot
      |  FROM shares GROUP BY source
      |), shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         CAST(sum(abs(a.ppm - b.ppm)) AS BIGINT) AS d_shared,
      |         CAST(sum(a.ppm) AS BIGINT) AS a_shared,
      |         CAST(sum(b.ppm) AS BIGINT) AS b_shared
      |  FROM shares a JOIN shares b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT ta.source AS source_a, tb.source AS source_b,
      |       CAST((coalesce(s.d_shared, 0)
      |             + (ta.s_tot - coalesce(s.a_shared, 0))
      |             + (tb.s_tot - coalesce(s.b_shared, 0))) // 2 AS BIGINT)
      |         AS tv_ppm
      |FROM totals ta JOIN totals tb ON ta.source < tb.source
      |LEFT JOIN shared s
      |  ON s.source_a = ta.source AND s.source_b = tb.source""".stripMargin

  /** q179 — per-source WINSORIZED length statistics: document length
    * clamped to the source's own [p05, p95] nearest-rank band before the
    * mean, against the raw mean — the outlier-immune summary a corpus
    * monitor alerts on (a raw mean jumps when one crawler dumps a few
    * mega-documents; the winsorized mean moves only on real shift). Means
    * are exact integer e2 fixed point.
    *
    * The percentiles ride [[OffsetPrefix.crossingQuantile]] — the
    * crossing-median generalized to pNum/pDen — so the grouped p05/p95
    * stay DISTRIBUTED (range-partition + offset-prefix), never a
    * per-source window that would serialize each source's whole slice
    * through one task at 100 TB. The two quantile frames are source-sized
    * miniatures and BROADCAST back onto the scan. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast(LongType).as("n_chars"))
    val p05 = OffsetPrefix.crossingQuantile(
      docs, "source", "n_chars", lit(1L), "p05", 5L, 100L).drop("__tot")
    val p95 = OffsetPrefix.crossingQuantile(
      docs, "source", "n_chars", lit(1L), "p95", 95L, 100L).drop("__tot")
    docs
      .join(broadcast(p05), Seq("source"))
      .join(broadcast(p95), Seq("source"))
      .withColumn("wchars",
        greatest(col("p05"), least(col("p95"), col("n_chars"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("wchars")).as("sum_wchars"),
        min(col("p05")).as("p05"), min(col("p95")).as("p95"))
      .select(col("source"), col("n_docs"),
        expr("sum_chars * 100 DIV n_docs").as("mean_e2"),
        expr("sum_wchars * 100 DIV n_docs").as("win_mean_e2"),
        col("p05"), col("p95"))
  }

  /** q186 — per-source KOLMOGOROV–SMIRNOV drift: the exact KS distance
    * between each source's document-length distribution and the REST of
    * the corpus, as an exact integer fraction — D·ppm =
    * max_v |c_s(≤v)·n_r − c_r(≤v)·n_s| · 10⁶ div (n_s·n_r). KS complements
    * q157's binned PSI: it is binning-free (sensitive anywhere in the
    * CDF), and the cross-multiplied integer form makes the oracle gate
    * engine-exact where the usual float CDF difference would not be.
    *
    * Scale shape: one data-sized aggregate to (source, value) counts;
    * everything after lives on the sources × |value support| grid — the
    * support is bounded by the VALUE DOMAIN (document lengths), not the
    * corpus, so the grid windows are aggregate-sized at any corpus size. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast(LongType).as("v"))
    val bySrcVal = docs.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val byVal = bySrcVal.groupBy(col("v")).agg(sum(col("c")).as("cg"))
    val totals = bySrcVal.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val grand = totals.agg(sum(col("ns")).as("n_all"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals.crossJoin(byVal)
      .join(bySrcVal, Seq("source", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cs", sum(col("c")).over(w))
      .withColumn("cu", sum(col("cg")).over(w))
      .crossJoin(broadcast(grand))
      .withColumn("nr", col("n_all") - col("ns"))
      .withColumn("diff",
        abs(col("cs") * col("nr") - (col("cu") - col("cs")) * col("ns")))
      .groupBy(col("source"))
      .agg(min(col("ns")).as("n_docs"), min(col("nr")).as("n_rest"),
        max(col("diff")).as("d_num"))
      .select(col("source"), col("n_docs"),
        expr("d_num * 1000000 DIV (n_docs * n_rest)").as("ks_ppm"))
  }

  val ksDriftSql: String =
    """WITH d AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
      |), sv AS (
      |  SELECT source, v, count(*) AS c FROM d GROUP BY source, v
      |), gv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cg FROM sv GROUP BY v),
      |tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sv GROUP BY source),
      |g AS (SELECT CAST(sum(ns) AS BIGINT) AS n_all FROM tt),
      |grid AS (
      |  SELECT tt.source, tt.ns, gv.v, gv.cg, coalesce(sv.c, 0) AS c
      |  FROM tt CROSS JOIN gv
      |  LEFT JOIN sv ON sv.source = tt.source AND sv.v = gv.v
      |), cum AS (
      |  SELECT source, ns, v,
      |         sum(c) OVER w AS cs, sum(cg) OVER w AS cu
      |  FROM grid
      |  WINDOW w AS (PARTITION BY source ORDER BY v
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT source, CAST(min(ns) AS BIGINT) AS n_docs,
      |       CAST(max(abs(cs * (g.n_all - ns) - (cu - cs) * ns)) * 1000000
      |              // (min(ns) * min(g.n_all - ns)) AS BIGINT) AS ks_ppm
      |FROM cum CROSS JOIN g
      |GROUP BY source, g.n_all""".stripMargin

  val winsorizedStatsSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |         count(*) OVER (PARTITION BY source ORDER BY n_chars
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), q05 AS (
      |  SELECT source, min(n_chars) AS p05 FROM r
      |  WHERE cumv * 100 >= 5 * n GROUP BY source
      |), q95 AS (
      |  SELECT source, min(n_chars) AS p95 FROM r
      |  WHERE cumv * 100 >= 95 * n GROUP BY source)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(d.n_chars) * 100 // count(*) AS BIGINT) AS mean_e2,
      |       CAST(sum(greatest(q05.p05, least(q95.p95, d.n_chars))) * 100
      |              // count(*) AS BIGINT) AS win_mean_e2,
      |       CAST(min(q05.p05) AS BIGINT) AS p05,
      |       CAST(min(q95.p95) AS BIGINT) AS p95
      |FROM documents d
      |JOIN q05 ON q05.source = d.source
      |JOIN q95 ON q95.source = d.source
      |GROUP BY d.source""".stripMargin

  // ---------------------------------------------------------------- q241

  /** q241 — per-source DATA CARD: the release report a training-data team
    * publishes alongside a corpus drop, fused as ONE plan — per source:
    * volume (docs, tokens), language mix (distinct langs, dominant lang
    * with exact-ppm share), duplication exposure (members of q35 near-dup
    * clusters, ppm), and quality pass rate (q109 keep verdicts, ppm).
    * Every constituent already exists as its own audited operator; the
    * card is their composition, and the composition — four aggregates
    * meeting on a 20-row source key — is what this query gates.
    *
    * Plan: the corpus projects once into (doc_id, source, lang, n_words);
    * four independent source-keyed hash aggregates (volume, language
    * histogram → struct-argmax dominant, cluster-membership semi-join
    * count, quality-keep count) meet in broadcast joins on the
    * source-cardinality key. The cluster and quality inputs are the
    * session-cached artifacts the dedup/quality families already
    * maintain — at 100 TB those are persisted tables and this card is one
    * linear corpus pass plus the source-key miniature joins; the
    * dup-membership semi-join is corpus-fraction-sized there, so it rides
    * a shuffle semi-join (broadcast only when the cached set is measured
    * small). Exact integers end to end. */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_words"))
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
    val langTop = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("t"))
      .select(col("source"), col("n_langs"),
        col("t.lang").as("top_lang"), col("t.c").as("top_c"))
    val dupCnt = docs
      .join(Dedup.dedupClusters(spark, dir).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("dup_docs"))
    val keepCnt = docs
      .join(TextAnalysis.qualityScores(spark, dir)
        .select(col("doc_id"), col("keep")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keep_docs"))
    base.join(broadcast(langTop), Seq("source"))
      .join(broadcast(dupCnt), Seq("source"), "left")
      .join(broadcast(keepCnt), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("top_lang"),
        expr("top_c * 1000000 DIV n_docs").as("top_lang_ppm"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        expr("coalesce(dup_docs, 0L) * 1000000 DIV n_docs").as("dup_ppm"),
        col("keep_docs"),
        expr("keep_docs * 1000000 DIV n_docs").as("keep_ppm"))
  }

  /** Oracle for [[dataCard]]: the q35 recursive closure + q109 quality
    * CTEs compose with the same four aggregates; the dominant-language
    * struct-argmax replays as row_number ORDER BY c DESC, lang DESC
    * (identical tie order to the Spark struct-max). Integer ppm via
    * DuckDB's `//`. */
  def dataCardSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterCtes}, q AS (
       |${TextAnalysis.linearQualityScoreSql}
       |), d AS (
       |  SELECT doc_id, source, lang,
       |         len(string_split(text, ' ')) AS n_words
       |  FROM documents
       |), base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_words) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY source
       |), lc AS (
       |  SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang
       |), lt AS (
       |  SELECT source, n_langs, lang AS top_lang, CAST(c AS BIGINT) AS top_c
       |  FROM (SELECT source, lang, c,
       |               CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
       |                 AS n_langs,
       |               row_number() OVER (PARTITION BY source
       |                                  ORDER BY c DESC, lang DESC) AS rn
       |        FROM lc) WHERE rn = 1
       |), dup AS (
       |  SELECT DISTINCT doc_id FROM cl
       |), dc AS (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS dup_docs
       |  FROM d JOIN dup USING (doc_id) GROUP BY d.source
       |), kc AS (
       |  SELECT d.source,
       |         CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT)
       |           AS keep_docs
       |  FROM d JOIN q USING (doc_id) GROUP BY d.source
       |)
       |SELECT b.source, b.n_docs, b.n_tokens, lt.n_langs, lt.top_lang,
       |       lt.top_c * 1000000 // b.n_docs AS top_lang_ppm,
       |       COALESCE(dc.dup_docs, 0) AS dup_docs,
       |       COALESCE(dc.dup_docs, 0) * 1000000 // b.n_docs AS dup_ppm,
       |       kc.keep_docs,
       |       kc.keep_docs * 1000000 // b.n_docs AS keep_ppm
       |FROM base b JOIN lt USING (source)
       |LEFT JOIN dc USING (source)
       |JOIN kc USING (source)""".stripMargin

  // ---------------------------------------------------------------- q278

  /** q278 — ZONE-MAP data-skipping audit: per month-zone min/max stats on
    * `orders` evaluated against two representative predicates, summed to
    * the skip ratio each would achieve — the data-LAYOUT decision table.
    * Every lakehouse format (parquet row-group stats, Delta/Iceberg file
    * stats) prunes a zone when `zone.max < literal` for a `col >=
    * literal` predicate; whether that helps depends entirely on whether
    * the column CORRELATES with the layout. The audit makes the contrast
    * measurable before anyone re-clusters 100 TB: the date predicate
    * prunes almost perfectly (orders are laid out by time), the price
    * predicate prunes almost nothing (price is uncorrelated with month)
    * — so a price-heavy workload needs a price-sorted rewrite, and the
    * `skip_ppm` column is exactly the number that justifies it.
    *
    * Scale shape: ONE fact scan → a calendar-bounded month-keyed
    * aggregate (the zone stats — at 100 TB this table IS the parquet
    * footer / metadata-table readout, no fact scan at all); the ×2
    * predicate explode and the 2-row summary ride the zone miniature.
    * Exact integers throughout (cents, counts, ppm DIV). */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    val zones = Tables.orders(spark, dir)
      .select(
        date_trunc("month", col("o_orderdate").cast(TimestampType))
          .as("zone"),
        col("o_orderdate").cast(TimestampType).as("d"),
        graft.operators.Rfm.cents(col("o_totalprice")).as("c"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("d")).as("max_d"), max(col("c")).as("max_c"))
    val audits = zones.select(explode(array(
      struct(lit("o_orderdate >= 1999-01-01").as("predicate"),
        (col("max_d") < lit("1999-01-01").cast(TimestampType))
          .as("prunable"),
        col("n_rows")),
      struct(lit("o_totalprice >= 450000.00").as("predicate"),
        (col("max_c") < lit(45000000L)).as("prunable"),
        col("n_rows")))).as("a"))
      .select(col("a.predicate").as("predicate"),
        col("a.prunable").as("prunable"), col("a.n_rows").as("n_rows"))
    audits.groupBy(col("predicate"))
      .agg(count(lit(1)).as("n_zones"),
        sum(when(col("prunable"), 1L).otherwise(0L)).as("n_prunable"),
        sum(when(col("prunable"), col("n_rows")).otherwise(0L))
          .as("rows_skipped"),
        sum(col("n_rows")).as("rows_total"))
      .withColumn("skip_ppm", expr("rows_skipped * 1000000 DIV rows_total"))
  }

  val zoneMapAuditSql: String =
    """WITH z AS (
      |  SELECT date_trunc('month', o_orderdate) AS zone, count(*) AS n_rows,
      |         max(o_orderdate) AS max_d,
      |         max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_c
      |  FROM orders GROUP BY 1
      |), a AS (
      |  SELECT 'o_orderdate >= 1999-01-01' AS predicate,
      |         max_d < TIMESTAMP '1999-01-01' AS prunable, n_rows FROM z
      |  UNION ALL
      |  SELECT 'o_totalprice >= 450000.00', max_c < 45000000, n_rows FROM z
      |)
      |SELECT predicate, CAST(count(*) AS BIGINT) AS n_zones,
      |       CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_prunable,
      |       CAST(sum(CASE WHEN prunable THEN n_rows ELSE 0 END) AS BIGINT)
      |         AS rows_skipped,
      |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
      |       CAST(sum(CASE WHEN prunable THEN n_rows ELSE 0 END) * 1000000
      |            // sum(n_rows) AS BIGINT) AS skip_ppm
      |FROM a GROUP BY predicate""".stripMargin
}
