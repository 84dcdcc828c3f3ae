package graft.operators

import graft.Tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mergeable-sketch surface: pre-aggregated HyperLogLog sketches that can be
  * stored, shipped, and unioned later — the 100 TB pattern for distinct
  * counting where the raw data is touched ONCE and every downstream rollup
  * (per type, per week, global, cross-dataset) merges constant-size sketch
  * buffers instead of rescanning.
  *
  * Uses Spark's Apache DataSketches-backed `hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate` (binary-compatible with the
  * DataSketches ecosystem, so sketches survive parquet round-trips to other
  * engines). Distinct from [[Relational.approxDistinct]], which estimates
  * inline with HLL++ but never materializes a reusable sketch.
  *
  * ==Soft oracles (round 6)==
  * Sketch INTERNALS are engine-specific, so no portable SQL can recompute an
  * estimate — but the estimates are deterministic for a fixed dataset, and
  * each one carries a published error bound against an EXACT quantity DuckDB
  * can compute independently. So each sketch query emits
  * `(group, estimate, within_bound)` where `within_bound` compares the
  * estimate to the exact value, and its oracle freezes the session's
  * estimates as literals (the [[Clustering.oracleEntries]] capture
  * mechanism) while re-deriving the exact side and the bound check in
  * DuckDB. The estimate column is thereby an export-path check
  * (self-consistent by construction); the `within_bound` flag is the genuine
  * cross-engine gate — it only matches when both engines' exact aggregates
  * and bound arithmetic agree, and a bound violation would flip the flag
  * identically on both sides (captured literal vs same literal), so the gate
  * is exact, never flaky. */
object Sketches {

  /** q85 — two-level sketch pipeline over events: (day × type) sketches of
    * distinct users — the shape you'd persist — then a type-level merge via
    * `hll_union_agg` WITHOUT re-reading events. Output per event type:
    * merged estimate and max single-day estimate beside their soft-oracle
    * flags (vs exact distinct users / exact max daily distinct, both within
    * 5% ≈ 3σ of the lgK=12 sketch's 1.6% rsd — integer arithmetic:
    * `|est − exact|·100 ≤ 5·exact`), plus the day count, which DuckDB
    * recomputes exactly. Deterministic for a fixed dataset: register-max
    * union is merge-order independent and the post-union estimate is
    * register-based. */
  def hllUserSketches(spark: SparkSession, dir: String,
                      lgConfigK: Int = 12): DataFrame = {
    val ev = Tables.events(spark, dir)
    val day = to_date(col("ts").cast(TimestampType)).as("day")
    val daily = ev.groupBy(day, col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
    val sk = daily.groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_users"),
        max(hll_sketch_estimate(col("sk"))).as("max_daily_est"),
        count(lit(1)).cast(LongType).as("n_days"))
    // exact sides for the bound flags: one extra pass each at test scale
    // (at 100 TB these are the passes the sketch EXISTS to avoid — here
    // they are the ground truth the estimates are gated against)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("xu"))
    val exactDaily = ev.groupBy(col("event_type"), day)
      .agg(countDistinct(col("user_id")).as("du"))
      .groupBy(col("event_type"))
      .agg(max(col("du")).as("xd"))
    val out = sk.join(exact, Seq("event_type")).join(exactDaily, Seq("event_type"))
      .select(col("event_type"), col("est_users"), col("max_daily_est"),
        col("n_days"),
        (abs(col("est_users") - col("xu")) * lit(100L) <= lit(5L) * col("xu"))
          .as("users_ok"),
        (abs(col("max_daily_est") - col("xd")) * lit(100L) <= lit(5L) * col("xd"))
          .as("daily_ok"))
    capturedHll.put(dir, lgConfigK,
      graft.CacheRegistry.memo(spark, s"hll-est:$lgConfigK:$dir")(
        sk.select("event_type", "est_users", "max_daily_est")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq))
    out
  }

  private val capturedHll =
    new graft.OracleCapture.Captured[Int, Seq[(String, Long, Long)]]

  /** [[hllUserSketches]]'s soft oracle: captured estimates as VALUES
    * literals; exact distinct users, exact max-daily distinct, the day
    * count, and both bound flags re-derived by DuckDB. */
  private def hllSketchesSql(est: Seq[(String, Long, Long)]): String = {
    val values = est.sortBy(_._1).map { case (t, eu, ed) =>
      s"('$t', CAST($eu AS BIGINT), CAST($ed AS BIGINT))"
    }.mkString(", ")
    s"""WITH est(event_type, est_users, max_daily_est) AS (VALUES $values),
       |exact AS (
       |  SELECT event_type, count(DISTINCT user_id) AS xu
       |  FROM events GROUP BY 1),
       |daily AS (
       |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |         count(DISTINCT user_id) AS du
       |  FROM events GROUP BY 1, 2),
       |exact_daily AS (
       |  SELECT event_type, max(du) AS xd, count(*) AS n_days
       |  FROM daily GROUP BY 1)
       |SELECT event_type, est_users, max_daily_est, n_days,
       |       abs(est_users - xu) * 100 <= 5 * xu AS users_ok,
       |       abs(max_daily_est - xd) * 100 <= 5 * xd AS daily_ok
       |FROM est JOIN exact USING (event_type)
       |         JOIN exact_daily USING (event_type)""".stripMargin
  }

  /** q97 — Count-Min-Sketch heavy hitters over `events.user_id`: the
    * sketch answers point frequency queries in O(depth) with bounded
    * overestimate (`est ≤ true + ε·N` w.p. ≥ δ), never underestimating —
    * THE structure for frequency estimation when the key space is too big
    * for an exact groupBy. Built through Spark's public
    * `df.stat.countMinSketch` (one distributed pass, commutative integer
    * merge of per-partition sketches → deterministic for a fixed seed
    * regardless of partition order), then every key's estimate is emitted
    * next to its exact count and the CMS contract as a `within_bound` flag
    * (`est ≥ true AND (est − true)/ε ≤ N` in exact integer arithmetic).
    *
    * At 100 TB the exact side of this query is the thing you CANNOT run
    * (that's the point of the sketch); it exists here as the ground truth
    * the estimates are validated against at test scale. */
  /** One CMS broadcast per (session, dir, params), a
    * [[graft.CacheRegistry]] memo: the sketch build is an eager full-scan
    * action and the broadcast lives for the session — rebuilding per call
    * (Bench runs each query 3×, Verify and PlanAudit once more) would
    * rescan events and leak one broadcast per invocation. */
  private def cmsSketch(spark: SparkSession, dir: String, eps: Double,
                        confidence: Double, seed: Int) =
    graft.CacheRegistry.memo(spark, s"cms:$eps:$confidence:$seed:$dir")(
      spark.sparkContext.broadcast(Tables.events(spark, dir)
        .stat.countMinSketch(col("user_id"), eps, confidence, seed)))

  private val capturedCms =
    new graft.OracleCapture.Captured[(Double, Double, Int), Seq[(Long, Long)]]

  def cmsHeavyHitters(spark: SparkSession, dir: String,
                      eps: Double = 0.001, confidence: Double = 0.99,
                      seed: Int = 42): DataFrame = {
    val bc = cmsSketch(spark, dir, eps, confidence, seed)
    val est = udf((u: Long) => bc.value.estimateCount(u))
    val base = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("true_n"))
      .withColumn("est_n", est(col("user_id")))
    // ε⁻¹ as an exact integer so the bound check is integer arithmetic on
    // both engines: est − true ≤ ε·N  ⇔  (est − true)·(1/ε) ≤ N for
    // integer counts
    val invEps = math.round(1.0 / eps)
    val tot = Tables.events(spark, dir).agg(count(lit(1)).as("n_total"))
    val out = base.crossJoin(broadcast(tot))
      .withColumn("within_bound",
        col("est_n") >= col("true_n") &&
          (col("est_n") - col("true_n")) * lit(invEps) <= col("n_total"))
      .drop("n_total")
    capturedCms.put(dir, (eps, confidence, seed),
      graft.CacheRegistry.memo(spark, s"cms-est:$eps:$confidence:$seed:$dir")(
        base.select("user_id", "est_n").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq))
    out
  }

  /** [[cmsHeavyHitters]]'s soft oracle: captured per-key estimates as VALUES
    * literals; exact counts, stream length, and the CMS
    * never-underestimate + ε·N bound re-derived by DuckDB. */
  private def cmsHeavyHittersSql(est: Seq[(Long, Long)], invEps: Long): String = {
    val values = est.sortBy(_._1).map { case (u, e) =>
      s"(CAST($u AS BIGINT), CAST($e AS BIGINT))"
    }.mkString(", ")
    s"""WITH est(user_id, est_n) AS (VALUES $values),
       |ex AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM events)
       |SELECT user_id, true_n, est_n,
       |       est_n >= true_n AND (est_n - true_n) * $invEps <= n_total
       |         AS within_bound
       |FROM est JOIN ex USING (user_id) CROSS JOIN tot""".stripMargin
  }

  /** q118 — mergeable approximate quantiles (Greenwald–Khanna via
    * `percentile_approx`): per event type, approximate p50/p95/p99 of
    * `value` at 1/accuracy relative-rank error. Completes the sketch
    * family (HLL distincts, CMS counts, Bloom membership — this is the
    * rank/quantile member): one pass, fixed-size state per group,
    * partial-aggregable — the shape that works when the exact sort-based
    * percentile (q17) is too expensive to run corpus-wide at 100 TB.
    *
    * The GK merge can depend on partial-merge order, so the sketch runs
    * ONCE per session (an eager capture, like the CMS broadcast) and the
    * contract output derives from the captured values: each quantile
    * beside a rank-window flag — `p{q}_ok` ⇔ at least ⌈(q−ε)n⌉ values ≤ v
    * and fewer than (q+ε)n values < v — the sketch's actual guarantee,
    * checked in exact integer counts + one shared double product per side,
    * identically computable by DuckDB (no cross-engine interpolation). */
  def approxQuantiles(spark: SparkSession, dir: String,
                      accuracy: Int = 1000): DataFrame = {
    val probes = graft.CacheRegistry.memo(spark, s"gk-probes:$accuracy:$dir")(
      Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(expr(s"percentile_approx(value, array(0.5, 0.95, 0.99), $accuracy)")
          .as("q"))
        .collect().map { r =>
          val q = r.getSeq[Double](1)
          (r.getString(0), q(0), q(1), q(2))
        }.toSeq)
    capturedGk.put(dir, accuracy, probes)
    val eps = 1.0 / accuracy
    val litDf = spark.createDataFrame(probes)
      .toDF("event_type", "p50", "p95", "p99")
    val j = Tables.events(spark, dir).select(col("event_type"), col("value"))
      .join(broadcast(litDf), Seq("event_type"))
    def le(p: Column) = sum(when(col("value") <= p, 1L).otherwise(0L))
    def lt(p: Column) = sum(when(col("value") < p, 1L).otherwise(0L))
    val a = j.groupBy(col("event_type"), col("p50"), col("p95"), col("p99"))
      .agg(count(lit(1)).as("n"),
        le(col("p50")).as("le50"), lt(col("p50")).as("lt50"),
        le(col("p95")).as("le95"), lt(col("p95")).as("lt95"),
        le(col("p99")).as("le99"), lt(col("p99")).as("lt99"))
    def ok(q: Double, leC: Column, ltC: Column): Column =
      leC.cast(DoubleType) >= lit(q - eps) * col("n").cast(DoubleType) &&
        ltC.cast(DoubleType) <= lit(q + eps) * col("n").cast(DoubleType)
    a.select(col("event_type"), col("p50"), col("p95"), col("p99"),
      ok(0.50, col("le50"), col("lt50")).as("p50_ok"),
      ok(0.95, col("le95"), col("lt95")).as("p95_ok"),
      ok(0.99, col("le99"), col("lt99")).as("p99_ok"))
  }

  private val capturedGk =
    new graft.OracleCapture.Captured[Int, Seq[(String, Double, Double, Double)]]

  /** [[approxQuantiles]]'s soft oracle: captured quantiles as VALUES double
    * literals (`Double.toString` round-trips bit-exactly through the DuckDB
    * parser); the rank-window flags re-derived from exact counts. */
  private def approxQuantilesSql(probes: Seq[(String, Double, Double, Double)],
                                 accuracy: Int): String = {
    val eps = 1.0 / accuracy
    val values = probes.sortBy(_._1).map { case (t, a, b, c) =>
      s"('$t', ${SqlLit.dbl(a)}, ${SqlLit.dbl(b)}, ${SqlLit.dbl(c)})"
    }.mkString(", ")
    def ok(q: Double, le: String, lt: String) =
      s"CAST($le AS DOUBLE) >= ${q - eps} * CAST(n AS DOUBLE) AND " +
        s"CAST($lt AS DOUBLE) <= ${q + eps} * CAST(n AS DOUBLE)"
    s"""WITH est(event_type, p50, p95, p99) AS (VALUES $values),
       |j AS (
       |  SELECT e.event_type, e.value, p50, p95, p99
       |  FROM events e JOIN est USING (event_type)),
       |a AS (
       |  SELECT event_type, p50, p95, p99, count(*) AS n,
       |         sum(CASE WHEN value <= p50 THEN 1 ELSE 0 END) AS le50,
       |         sum(CASE WHEN value <  p50 THEN 1 ELSE 0 END) AS lt50,
       |         sum(CASE WHEN value <= p95 THEN 1 ELSE 0 END) AS le95,
       |         sum(CASE WHEN value <  p95 THEN 1 ELSE 0 END) AS lt95,
       |         sum(CASE WHEN value <= p99 THEN 1 ELSE 0 END) AS le99,
       |         sum(CASE WHEN value <  p99 THEN 1 ELSE 0 END) AS lt99
       |  FROM j GROUP BY 1, 2, 3, 4)
       |SELECT event_type, p50, p95, p99,
       |       ${ok(0.50, "le50", "lt50")} AS p50_ok,
       |       ${ok(0.95, "le95", "lt95")} AS p95_ok,
       |       ${ok(0.99, "le99", "lt99")} AS p99_ok
       |FROM a""".stripMargin
  }

  /** Soft-oracle entries for the sketch queries, buildable once each sketch
    * has run this session on the harness's pinned dir (contract params). */
  /** q204 — KMV source-overlap matrix: per-source k-minimum-values
    * sketches over word 3-grams, merged pairwise into distinct-count
    * estimates for each source, their union, and their INTERSECTION —
    * the corpus-overlap question a data-mixing pipeline asks before
    * setting source weights ("how much of src_a is already in src_b?"),
    * answered from k-sized sketches instead of a quadratic gram join.
    * HLL (q85) cannot do the intersection column: inclusion–exclusion on
    * HLL differences amplifies error; KMV supports it natively via the
    * Jaccard of the merged sketch (Beyer et al., SIGMOD'07).
    *
    * Determinism (full oracle, not rows-only): the "random" hash is the
    * q44/q48 portable md5 basis — `conv(hex(md5(gram))[1:12], 16, 10)`,
    * a 48-bit integer both engines derive identically — and every
    * estimate is an integer chain:
    * {{{
    * est(S)      = |S| < k ? |S| : (k−1)·2^48 div S[k]
    * merged      = k smallest of (A ∪ B)       -- exact KMV merge
    * ρ_num       = |{h ∈ merged : h ∈ A ∧ h ∈ B}|
    * est_inter   = (ρ_num · est(merged)) div |merged|
    * jaccard_ppm = (ρ_num · 1e6) div |merged|
    * }}}
    *
    * Scale shape: ONE corpus pass — grams explode (O(tokens)) and feed
    * [[graft.functions.MinKAgg]] directly; the sketch dedupes internally,
    * so no global `distinct()` shuffle precedes it, and partial
    * aggregation bounds the exchange at k rows per source. The pairwise
    * stage is |sources|²·k on sketch rows (bytes, not corpus) — at 100 TB
    * the sketches for thousands of sources fit on one executor. Only the
    * 5 lexicographically-first sources pair up here to keep the contract
    * output small; the sketch build covers ALL sources. */
  def kmvSourceOverlap(spark: SparkSession, dir: String,
                       k: Int = 64, nSources: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(spark, dir)
      .select(col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("ws")) - 2), i =>
          concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
        .as("gram"))
      .select(col("source"),
        conv(substring(md5(col("gram")), 1, 12), 16, 10).cast(LongType)
          .as("h"))
    val minK = udaf(graft.functions.MinKAgg.MinK(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val sketches = grams.groupBy(col("source"))
      .agg(minK(col("h")).as("sk"))
      .orderBy(col("source")).limit(nSources)
    val a = sketches.select(col("source").as("src_a"), col("sk").as("ska"))
    val b = sketches.select(col("source").as("src_b"), col("sk").as("skb"))
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("merged",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("m", size(col("merged")).cast(LongType))
      .withColumn("rho", size(filter(col("merged"), h =>
        array_contains(col("ska"), h) && array_contains(col("skb"), h)))
        .cast(LongType))
      .withColumn("est_a",
        when(size(col("ska")) < k, size(col("ska")).cast(LongType))
          .otherwise(expr(s"(${k - 1} * 281474976710656) div element_at(ska, $k)")))
      .withColumn("est_b",
        when(size(col("skb")) < k, size(col("skb")).cast(LongType))
          .otherwise(expr(s"(${k - 1} * 281474976710656) div element_at(skb, $k)")))
      .withColumn("est_union",
        when(col("m") < k, col("m"))
          .otherwise(expr(s"(${k - 1} * 281474976710656) div element_at(merged, $k)")))
      .withColumn("est_inter", expr("(rho * est_union) div m"))
      .withColumn("jaccard_ppm", expr("(rho * 1000000) div m"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"), col("jaccard_ppm"))
  }

  def kmvSourceOverlapSql(k: Int = 64, nSources: Int = 5): String =
    s"""WITH grams AS (
       |  SELECT source,
       |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
       |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents),
       |       unnest(range(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 3
       |), hashes AS (
       |  SELECT DISTINCT source,
       |         ('0x' || substr(md5(gram), 1, 12))::BIGINT AS h
       |  FROM grams
       |), sk AS (
       |  SELECT source, (list(h ORDER BY h))[:$k] AS sk
       |  FROM hashes GROUP BY source
       |  ORDER BY source LIMIT $nSources
       |), pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, a.sk AS ska, b.sk AS skb,
       |         (list_sort(list_distinct(a.sk || b.sk)))[:$k] AS merged
       |  FROM sk a JOIN sk b ON a.source < b.source
       |), scored AS (
       |  SELECT src_a, src_b, ska, skb, merged,
       |         CAST(len(merged) AS BIGINT) AS m,
       |         CAST(len(list_filter(merged, h ->
       |           list_contains(ska, h) AND list_contains(skb, h)))
       |           AS BIGINT) AS rho,
       |         CASE WHEN len(ska) < $k THEN CAST(len(ska) AS BIGINT)
       |              ELSE (${k - 1} * 281474976710656) // ska[$k] END AS est_a,
       |         CASE WHEN len(skb) < $k THEN CAST(len(skb) AS BIGINT)
       |              ELSE (${k - 1} * 281474976710656) // skb[$k] END AS est_b,
       |         CASE WHEN len(merged) < $k THEN CAST(len(merged) AS BIGINT)
       |              ELSE (${k - 1} * 281474976710656) // merged[$k] END
       |           AS est_union
       |  FROM pairs
       |)
       |SELECT src_a, src_b, est_a, est_b, est_union,
       |       (rho * est_union) // m AS est_inter,
       |       (rho * 1000000) // m AS jaccard_ppm
       |FROM scored""".stripMargin

  /** q210 — mergeable moment-sketch profile (Gan et al., "Moments:
    * Aggregating Moment Sketches", VLDB'18 shape): per return flag, the
    * exact integer power sums s1..s4 of revenue cents plus n/min/max and
    * the integer-derived mean/variance. The power sums ARE the sketch:
    * they merge by addition, so the whole profile is ONE hash aggregate
    * with map-side partial combine — no shuffle carries row-level data,
    * and two shards' profiles union by summing columns (the spec pins
    * partition-count invariance). Everything stays integer-exact:
    * s1 is a BIGINT cent sum; s2..s4 run in DECIMAL(38,0) (cents⁴ ≈ 10²⁸
    * per row — headroom to ~10⁹ rows per group before 38 digits bind, and
    * the scaladoc'd fallback at larger scale is whole-dollar units). The
    * s2..s4 OUTPUT columns are emitted as digit strings on both engines:
    * their values exceed int64 range (~5.9e24 / ~4.9e31 at sf0.01) and
    * wide-decimal hashing is engine-specific, while digit strings are
    * representation-stable — internal arithmetic (var_c2) stays decimal;
    * mean_e6 and the population variance derive by integer division, so
    * the DuckDB oracle (same chain on HUGEINT) hash-matches bit-for-bit. */
  def momentSketch(spark: SparkSession, dir: String): DataFrame = {
    val cents = graft.operators.Rfm.cents(col("l_extendedprice"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"), cents.as("c"),
        cents.cast(DecimalType(38, 0)).as("cd"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        min(col("c")).as("mn"), max(col("c")).as("mx"),
        sum(col("c")).as("s1"),
        sum(col("cd") * col("cd")).cast(DecimalType(38, 0)).as("s2"),
        sum(col("cd") * col("cd") * col("cd")).cast(DecimalType(38, 0)).as("s3"),
        sum(col("cd") * col("cd") * col("cd") * col("cd"))
          .cast(DecimalType(38, 0)).as("s4"))
      .select(col("flag"), col("n"), col("mn"), col("mx"), col("s1"),
        col("s2").cast(StringType).as("s2"),
        col("s3").cast(StringType).as("s3"),
        col("s4").cast(StringType).as("s4"),
        expr("(CAST(s1 AS DECIMAL(38,0)) * 1000000) div n").as("mean_e6"),
        expr("""(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1)
                div (CAST(n AS DECIMAL(38,0)) * n)""").as("var_c2"))
  }

  val momentSketchSql: String =
    """WITH src AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
      |         CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS ch
      |  FROM lineitem
      |), m AS (
      |  SELECT flag, count(*) AS n, min(c) AS mn, max(c) AS mx,
      |         CAST(sum(c) AS HUGEINT) AS s1h,
      |         sum(ch * ch) AS s2h,
      |         sum(ch * ch * ch) AS s3h,
      |         sum(ch * ch * ch * ch) AS s4h
      |  FROM src GROUP BY flag
      |)
      |SELECT flag, n, mn, mx, CAST(s1h AS BIGINT) AS s1,
      |       CAST(s2h AS VARCHAR) AS s2,
      |       CAST(s3h AS VARCHAR) AS s3,
      |       CAST(s4h AS VARCHAR) AS s4,
      |       CAST((s1h * 1000000) // n AS BIGINT) AS mean_e6,
      |       CAST((n * s2h - s1h * s1h) // (CAST(n AS HUGEINT) * n) AS BIGINT)
      |         AS var_c2
      |FROM m""".stripMargin

  /** q237 — join-size estimation by Count-Min inner product (the
    * AGMS/CM estimator query optimizers lean on): sketch each side of
    * `events ⋈ orders` on the join key into a depth×width counter table,
    * and estimate `|A ⋈ B| = Σ_k c_A(k)·c_B(k)` as `min_r Σ_b A[r][b]·B[r][b]`
    * — the planning primitive that prices a 100 TB join from two
    * kilobyte-sized artifacts WITHOUT moving either table. The output keeps
    * the per-depth estimates next to the exact answer (computable at test
    * scale only — at 100 TB the exact side is the thing you cannot run) and
    * the CM guarantee as an integer flag:
    * `est ≥ exact AND (est − exact)·width ≤ 3·F1(A)·F1(B)` (e < 3).
    *
    * Unlike q97's library-built CMS (engine-internal hashing ⇒ soft
    * oracle), this sketch is built DECLARATIVELY on the portable md5 chain
    * (q44/q48): ONE md5 per row supplies all `depth ≤ 4` hash rows (its 32
    * hex chars split into independent 8-char windows — the digest's bits
    * are pairwise independent across windows, which is all CM needs), then
    * one explode(depth) + groupBy(row, bucket) count per side — map-side
    * combine caps each side's shuffle at depth·width rows per partition —
    * so DuckDB rebuilds the identical counters from its own scan and the
    * whole estimator rides the HARD hash gate, estimates and all. */
  def joinSizeEstimate(spark: SparkSession, dir: String,
                       depth: Int = 4, width: Int = 4096): DataFrame = {
    require(depth >= 1 && depth <= 4, s"one md5 carries 4 hash windows: $depth")
    def sketch(df: DataFrame, key: Column, tag: String): DataFrame =
      df.select(md5(concat(lit("js:"), key.cast(StringType))).as("h"))
        .select(explode(transform(sequence(lit(0), lit(depth - 1)), r =>
          struct(r.cast(LongType).as("r"),
            (conv(substring(col("h"), r * lit(8) + lit(1), lit(8)), 16, 10)
              .cast(LongType) % width).as("b")))).as("e"))
        .groupBy(col("e.r").as("r"), col("e.b").as("b"))
        .agg(count(lit(1)).as(tag))
    val a = sketch(Tables.events(spark, dir), col("user_id"), "ca")
    val b = sketch(Tables.orders(spark, dir), col("o_custkey"), "cb")
    // est_min as a whole-frame window over the depth-row aggregate: a
    // separate min() AGGREGATE of perDepth re-evaluates the whole
    // two-sided sketch build a second time (Catalyst shares no work
    // across the two references), which round-14's bench measured as the
    // lane's slow drift. The window moves the (depth ≤ 4)-row frame to
    // one partition — free — and both sketch pipelines run exactly once.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val perDepth = a.join(b, Seq("r", "b"))
      .groupBy(col("r")).agg(sum(col("ca") * col("cb")).as("est_r"))
      .withColumn("est_min", min(col("est_r")).over(wAll))
    val exact = broadcast(
      Tables.events(spark, dir).groupBy(col("user_id")).agg(count(lit(1)).as("na"))
        .join(Tables.orders(spark, dir).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("nb")),
          col("user_id") === col("o_custkey"))
        .agg(sum(col("na") * col("nb")).as("exact_size")))
    val f1 = broadcast(Tables.events(spark, dir).agg(count(lit(1)).as("f1_a"))
      .crossJoin(Tables.orders(spark, dir).agg(count(lit(1)).as("f1_b"))))
    perDepth.crossJoin(exact).crossJoin(f1)
      .select(col("r"), col("est_r"), col("est_min"), col("exact_size"),
        col("f1_a"), col("f1_b"),
        (col("est_min") >= col("exact_size") &&
          (col("est_min") - col("exact_size")) * lit(width.toLong) <=
            lit(3L) * col("f1_a") * col("f1_b")).as("within_bound"))
  }

  def joinSizeEstimateSql(depth: Int = 4, width: Int = 4096): String =
    s"""WITH ra AS (SELECT unnest(range($depth)) AS r),
       |sa AS (
       |  SELECT ra.r,
       |         ('0x' || substr(md5('js:' || CAST(user_id AS VARCHAR)),
       |                         CAST(ra.r * 8 + 1 AS INTEGER), 8))::BIGINT
       |           % $width AS b,
       |         count(*) AS ca
       |  FROM events, ra GROUP BY 1, 2
       |), sb AS (
       |  SELECT ra.r,
       |         ('0x' || substr(md5('js:' || CAST(o_custkey AS VARCHAR)),
       |                         CAST(ra.r * 8 + 1 AS INTEGER), 8))::BIGINT
       |           % $width AS b,
       |         count(*) AS cb
       |  FROM orders, ra GROUP BY 1, 2
       |), pd AS (
       |  SELECT sa.r, CAST(sum(sa.ca * sb.cb) AS BIGINT) AS est_r
       |  FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY 1
       |), me AS (SELECT min(est_r) AS est_min FROM pd),
       |ex AS (
       |  SELECT CAST(sum(na * nb) AS BIGINT) AS exact_size
       |  FROM (SELECT user_id, count(*) AS na FROM events GROUP BY 1) ea
       |  JOIN (SELECT o_custkey, count(*) AS nb FROM orders GROUP BY 1) ob
       |    ON ea.user_id = ob.o_custkey
       |), f1 AS (
       |  SELECT (SELECT count(*) FROM events) AS f1_a,
       |         (SELECT count(*) FROM orders) AS f1_b
       |)
       |SELECT pd.r, pd.est_r, me.est_min, ex.exact_size, f1.f1_a, f1.f1_b,
       |       me.est_min >= ex.exact_size AND
       |       (me.est_min - ex.exact_size) * $width <= 3 * f1.f1_a * f1.f1_b
       |         AS within_bound
       |FROM pd, me, ex, f1""".stripMargin

  /** q263 — AMS "tug-of-war" sketch of the second frequency moment
    * F₂ = Σ_v f_v² of `events.user_id` (Alon, Matias & Szegedy, STOC'96):
    * 54 counters S_j = Σ_rows sign_j(v), each an md5-derived ±1 per value;
    * E[S_j²] = F₂ exactly, so the estimate is a median (over 6 groups) of
    * means (over 9 counters each) of S_j². F₂ is the self-join size of the
    * column — the quantity a join planner needs when BOTH sides are the
    * same skewed key, completing [[joinSizeEstimate]]'s cross-table CM
    * estimator with the single-column AMS form.
    *
    * Execution is the map-side-combinable factoring of the one-pass sketch:
    * Σ_rows sign_j(v) = Σ_v f_v·sign_j(v), so the per-value count table is
    * built first (ONE scan with partial aggregation) and the ×54 counter
    * fan-out hits only the distinct-value table — at 100 TB the explode
    * costs |distinct|·54 rows, not |rows|·54, and the 54-key final
    * aggregate map-side-combines to 54 rows per partition. Every estimate
    * is exact integer arithmetic: S_j in BIGINT (|S| ≤ N), squares through
    * DECIMAL(38,0)/HUGEINT, group means and the signed error in the ppm DIV
    * convention (the error product runs in DECIMAL before the DIV); the
    * median is the deterministic lower median (rank ⌈groups/2⌉ ascending,
    * ties by group id). Like q237, the exact F₂ rides along so the
    * estimator is HARD-oracled, estimates, error and all.
    *
    * Headroom (the q251 convention): the BIGINT f2 outputs are valid while
    * F₂ < 2⁶³ — i.e. until a single key approaches ~3.04·10⁹ occurrences
    * (√2⁶³) or the key-frequency RMS crosses the same bar. Beyond that,
    * re-emit f2_exact/f2_est as digit strings per the q210 moment-sketch
    * precedent; the decimal→long cast past int64 throws under this
    * deployment's ANSI-on default (and would go NULL silently with ANSI
    * off) where DuckDB errors loudly. */
  def amsF2(spark: SparkSession, dir: String,
            groups: Int = 6, perGroup: Int = 9): DataFrame = {
    val nSketch = groups * perGroup
    val freq = graft.CacheRegistry.cached(spark, s"amsf2freq:$dir")(
      Tables.events(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("f")))
    val counters = freq
      .select(col("user_id"), col("f"),
        explode(sequence(lit(0L), lit(nSketch - 1L))).as("j"))
      .withColumn("sign",
        lit(1L) - lit(2L) * (Sampling.hashU32(concat(lit("ams:"),
          col("j").cast(StringType), lit(":"),
          col("user_id").cast(StringType))) % 2))
      .groupBy(col("j")).agg(sum(col("sign") * col("f")).as("s"))
    val perG = counters
      .groupBy(expr(s"j div $perGroup").as("r"))
      .agg(sum(col("s").cast(DecimalType(38, 0)) * col("s")).as("ss"))
      .select(col("r"), expr(s"ss div $perGroup").as("est_r"))
    val wMed = org.apache.spark.sql.expressions.Window
      .orderBy(col("est_r"), col("r"))
    val med = broadcast(perG
      .withColumn("rn", row_number().over(wMed))
      .filter(col("rn") === (groups + 1) / 2)
      .select(col("est_r").as("f2_est")))
    val exact = broadcast(freq.agg(
      count(lit(1)).as("n_distinct"),
      sum(col("f")).as("n_rows"),
      sum(col("f").cast(DecimalType(38, 0)) * col("f")).cast(LongType)
        .as("f2_exact")))
    perG.crossJoin(med).crossJoin(exact)
      .select(col("r"), col("est_r"), col("f2_est"), col("f2_exact"),
        col("n_rows"), col("n_distinct"),
        expr("""(cast(f2_est as decimal(38,0)) - f2_exact) * 1000000
                div f2_exact""").as("err_ppm"))
  }

  /** [[amsF2]]'s oracle: DuckDB rebuilds the identical 54 counters from its
    * own scan — the whole estimator is HARD-gated, like [[joinSizeEstimate]]. */
  def amsF2Sql(groups: Int = 6, perGroup: Int = 9): String =
    s"""WITH js AS (SELECT unnest(range(${groups * perGroup})) AS j),
       |freq AS (SELECT user_id, count(*) AS f FROM events GROUP BY 1),
       |cnt AS (
       |  SELECT js.j,
       |         sum((1 - 2 * (('0x' || substr(md5('ams:' ||
       |                CAST(js.j AS VARCHAR) || ':' ||
       |                CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2)) * f)
       |           AS s
       |  FROM freq, js GROUP BY 1
       |), pg AS (
       |  SELECT j // $perGroup AS r,
       |         CAST(sum(CAST(s AS HUGEINT) * s) // $perGroup AS BIGINT)
       |           AS est_r
       |  FROM cnt GROUP BY 1
       |), med AS (
       |  SELECT est_r AS f2_est FROM (
       |    SELECT est_r, row_number() OVER (ORDER BY est_r, r) AS rn FROM pg)
       |  WHERE rn = ${(groups + 1) / 2}
       |), ex AS (
       |  SELECT count(*) AS n_distinct, CAST(sum(f) AS BIGINT) AS n_rows,
       |         CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2_exact
       |  FROM freq
       |)
       |SELECT pg.r, pg.est_r, med.f2_est, ex.f2_exact, ex.n_rows,
       |       ex.n_distinct,
       |       CAST((CAST(med.f2_est AS HUGEINT) - ex.f2_exact) * 1000000
       |            // ex.f2_exact AS BIGINT) AS err_ppm
       |FROM pg, med, ex""".stripMargin

  /** α_m·m²·2⁵³ for m = 256 — the Flajolet HLL bias constant times the
    * fixed-point scale, ONE shared double literal (Scala shortest-repr
    * round-trips bit-exactly through DuckDB's parser). */
  private val HllNumer: Double = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 *
    9007199254740992.0 // 2^53

  /** q267 — DECLARATIVE HyperLogLog (Flajolet et al. 2007), HARD-oracled:
    * where [[hllUserSketches]] (q85) wields Spark's DataSketches-backed
    * aggregate (engine-internal buffers → captured-literal oracle), this
    * builds the identical register array from NOTHING but md5, integer
    * division and binary-string length — so DuckDB rebuilds every register
    * and the estimate rides the full hash gate, like the CM (q237) and AMS
    * (q263) treatments. Completes the portable-sketch trilogy: distinct
    * count (HLL), join size (CM), self-join size (AMS).
    *
    * Construction: h = 60 md5 bits; bucket = top 8 (m = 256 registers);
    * rank = leading-zero count of the low 52 bits + 1 = 53 − len(bin(rem))
    * (rem = 0 → 53) — `bin`/`printf('%b')` make the rank EXACT integer on
    * both engines (no log2, which is libm territory). Register M_b = max
    * rank per bucket; the harmonic indicator Σ 2^(−M_j) is held in fixed
    * point as S = Σ 2^(53−M_j) ≤ 256·2⁵³ = 2⁶¹ — exact BIGINT, absent
    * buckets contributing 2⁵³ each. The raw estimate α·m²/Σ2^(−M) is then
    * ONE double division of two exact quantities — bit-identical cross-
    * engine. The small-range linear-counting branch (E ≤ 2.5m, estimate
    * m·ln(m/V)) is deliberately OUT of the cross-engine contract — ln is
    * libm territory — but v_zero ships precisely so a consumer can apply
    * it: at sf0.001 (15 users over 256 registers, the deep small-range
    * regime where raw HLL floors at ~α·m) the correction recovers 15.5 vs
    * truth 15, which the spec pins driver-side. At sf0.1+ the data clears
    * 2.5m and the raw estimate governs.
    *
    * Scale shape: the production path is one scan → 256-row register
    * aggregate (map-side combine caps shuffle at 256 rows/partition) →
    * scalar assembly. The EXACT distinct is the audit rider, not the
    * production path — it costs its own count_distinct pass, which is
    * precisely the cost the sketch exists to avoid (q269 states the same
    * honestly for its three rider aggregates). Registers are mergeable by
    * max — the 100 TB rollup pattern of q85, now portable. */
  /** md5 → (keep…, bucket, rank) — the ONE register construction shared by
    * [[hllDeclarative]] and [[hllMergeRollup]]. q269's union-distinct law
    * (the ALL row equals q267's estimate) depends on the two queries'
    * chains staying bit-identical, so the chain lives exactly once. */
  private def hllBucketRank(df: DataFrame, id: Column,
                            keep: Seq[String]): DataFrame = {
    val twoP52 = 4503599627370496L // 2^52
    val h = conv(substring(md5(id.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType)
    val k = keep.map(col)
    df.select(k :+ h.as("h"): _*)
      .select(k :+ expr(s"h div $twoP52").as("bucket")
        :+ expr(s"h % $twoP52").as("rem"): _*)
      .select(k :+ col("bucket")
        :+ when(col("rem") === 0L, 53L)
          .otherwise(lit(53L) - length(bin(col("rem"))).cast(LongType))
          .as("rank"): _*)
  }

  /** The fixed-point harmonic-indicator aggregates over a register frame
    * with column `mb` — shared by q267/q269 for the same reason. */
  private def hllSScaled: Column =
    (sum(expr("shiftleft(cast(1 as bigint), cast(53 - mb as int))"))
      + (lit(256L) - count(lit(1))) * lit(1L << 53)).as("s_scaled")
  private def hllVZero: Column = (lit(256L) - count(lit(1))).as("v_zero")

  def hllDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val regs = hllBucketRank(Tables.events(spark, dir), col("user_id"), Nil)
      .groupBy(col("bucket")).agg(max(col("rank")).as("mb"))
    val s = regs.agg(hllSScaled, hllVZero)
    val exact = broadcast(Tables.events(spark, dir)
      .agg(count_distinct(col("user_id")).as("exact_distinct")))
    s.crossJoin(exact)
      .select(lit(256L).as("m"), col("v_zero"), col("s_scaled"),
        (lit(HllNumer) / col("s_scaled").cast(DoubleType)).as("est_raw"),
        col("exact_distinct"),
        ((lit(HllNumer) / col("s_scaled").cast(DoubleType)
          - col("exact_distinct").cast(DoubleType))
          / col("exact_distinct").cast(DoubleType)).as("rel_err"))
  }

  /** [[hllDeclarative]]'s oracle: DuckDB rebuilds the identical registers
    * (md5 → bucket/rank via printf('%b') length) and the same one-division
    * estimate from the shared double literal. */
  val hllDeclarativeSql: String = {
    s"""WITH hashed AS (
       |  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
       |           AS h
       |  FROM events
       |), ranked AS (
       |  SELECT h // 4503599627370496 AS bucket,
       |         CASE WHEN h % 4503599627370496 = 0 THEN 53
       |              ELSE 53 - length(printf('%b', h % 4503599627370496))
       |         END AS rank
       |  FROM hashed
       |), regs AS (
       |  SELECT bucket, max(rank) AS mb FROM ranked GROUP BY bucket
       |), s AS (
       |  SELECT CAST(sum(1::BIGINT << (53 - mb))
       |              + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT)
       |           AS s_scaled,
       |         CAST(256 - count(*) AS BIGINT) AS v_zero
       |  FROM regs
       |), ex AS (
       |  SELECT count(DISTINCT user_id) AS exact_distinct FROM events
       |)
       |SELECT CAST(256 AS BIGINT) AS m, s.v_zero, s.s_scaled,
       |       $HllNumer / CAST(s.s_scaled AS DOUBLE) AS est_raw,
       |       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       |       ($HllNumer / CAST(s.s_scaled AS DOUBLE)
       |        - CAST(ex.exact_distinct AS DOUBLE))
       |         / CAST(ex.exact_distinct AS DOUBLE) AS rel_err
       |FROM s, ex""".stripMargin
  }

  /** q269 — HLL register MERGE rollup, the property that justifies sketches
    * at 100 TB: per-event-type register arrays are built independently (as
    * a partitioned sketch table would be persisted), then the GLOBAL
    * distinct estimate is recovered by merging registers with max — no
    * second pass over the data. Emits one row per event type plus one
    * 'ALL' rollup row, each with its own exact distinct riding along, so
    * the oracle hash-gates BOTH the per-partition sketches and the merge
    * (q85's DataSketches rollup shape, re-expressed in the q267 portable
    * register algebra).
    *
    * The union-distinct law the spec pins: merged registers equal the
    * registers of the unioned stream BY CONSTRUCTION (max commutes), so
    * the ALL row's estimate is exactly [[hllDeclarative]]'s — merging is
    * lossless, unlike any count rollup.
    *
    * Scale shape: one scan → (type, bucket) aggregate (map-side combine
    * caps at |types|·256 rows/partition) → the ALL row is a 256-row
    * re-aggregate of the REGISTER table, not of events. Exact distincts
    * cost one more aggregate each — they are the audit rider, not the
    * production path. */
  def hllMergeRollup(spark: SparkSession, dir: String): DataFrame = {
    val perType = hllBucketRank(Tables.events(spark, dir), col("user_id"),
        Seq("event_type"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rank")).as("mb"))
    val merged = perType.groupBy(col("bucket"))
      .agg(max(col("mb")).as("mb"))
      .select(lit("ALL").as("event_type"), col("bucket"), col("mb"))
    def estimate(regs: DataFrame): DataFrame = regs
      .groupBy(col("event_type"))
      .agg(hllSScaled, hllVZero)
      .select(col("event_type"), col("v_zero"), col("s_scaled"),
        (lit(HllNumer) / col("s_scaled").cast(DoubleType)).as("est_raw"))
    val exactPer = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    val exactAll = Tables.events(spark, dir)
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
      .select(lit("ALL").as("event_type"), col("exact_distinct"))
    estimate(perType.unionAll(merged))
      .join(exactPer.unionAll(exactAll), Seq("event_type"))
      .select(col("event_type"), col("v_zero"), col("s_scaled"),
        col("est_raw"), col("exact_distinct"))
  }

  /** [[hllMergeRollup]]'s oracle: identical per-type registers, identical
    * max-merge, identical one-division estimates in DuckDB. */
  val hllMergeRollupSql: String =
    s"""WITH ranked AS (
       |  SELECT event_type,
       |         h // 4503599627370496 AS bucket,
       |         CASE WHEN h % 4503599627370496 = 0 THEN 53
       |              ELSE 53 - length(printf('%b', h % 4503599627370496))
       |         END AS rank
       |  FROM (
       |    SELECT event_type,
       |           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |             ::BIGINT AS h
       |    FROM events)
       |), per_type AS (
       |  SELECT event_type, bucket, max(rank) AS mb
       |  FROM ranked GROUP BY 1, 2
       |), merged AS (
       |  SELECT 'ALL' AS event_type, bucket, max(mb) AS mb
       |  FROM per_type GROUP BY 2
       |), all_regs AS (
       |  SELECT * FROM per_type UNION ALL SELECT * FROM merged
       |), est AS (
       |  SELECT event_type,
       |         CAST(256 - count(*) AS BIGINT) AS v_zero,
       |         CAST(sum(1::BIGINT << (53 - mb))
       |              + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT)
       |           AS s_scaled
       |  FROM all_regs GROUP BY 1
       |), ex AS (
       |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', count(DISTINCT user_id) FROM events
       |)
       |SELECT e.event_type, e.v_zero, e.s_scaled,
       |       $HllNumer / CAST(e.s_scaled AS DOUBLE) AS est_raw,
       |       CAST(x.exact_distinct AS BIGINT) AS exact_distinct
       |FROM est e JOIN ex x ON e.event_type = x.event_type""".stripMargin

  /** q277 — COUNT-MIN per-key error audit: the q266 calibration story
    * (estimator vs exact, decide the sketch size BEFORE the 100 TB pass)
    * applied to the CM point-frequency sketch. Build the declarative
    * depth×width counter table over `events.user_id` (the q237 md5-window
    * hash chain), read back every key's estimate `min_r C[r][b_r(key)]`,
    * and report the error structure per log₂ frequency band: CM
    * overestimates by exactly the colliding mass, so `err = est − true ≥ 0`
    * always, heavy keys suffer relatively less, and a width too small for
    * the key cardinality shows up as a collapsing `n_exact` share and an
    * `agg_rel_err_ppm` the audit quantifies — the number that tells you
    * whether width=$width survives your key domain. `n_within_2eps` checks
    * the textbook Markov-bound per row: err·width ≤ 2·F1.
    *
    * Everything is exact integers (the band via the bin()-length integer
    * log₂, errors and ppm ratios by integer DIV). Deliberately UNDERSIZED
    * defaults (depth 2, width 64): at sf0.01+ the key domain exceeds the
    * width and the audit demonstrably measures real collisions, which is
    * its purpose; q237/q97 carry the production-sized sketches.
    *
    * Scale shape: ONE scan → per-key counts (map-side combine); the ×depth
    * explode hits the DISTINCT-key table only; the counter table is
    * depth·width rows and BROADCASTS back onto the key table for the
    * read-back (no shuffle); the band aggregate is ≤64 rows. */
  def cmsErrorAudit(spark: SparkSession, dir: String,
                    depth: Int = 2, width: Int = 64): DataFrame = {
    require(depth >= 1 && depth <= 4, s"one md5 carries 4 hash windows: $depth")
    // the per-key count table feeds THREE consumers (the counter build,
    // the read-back stream side, and F1 = sum of counts) — checkpoint it
    // so the fact scan runs once, not three times (the multi-consumer
    // barrier discipline; the keyed explode downstream is a narrow
    // recompute over the materialized rows, never a scan)
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .withColumn("h",
        md5(concat(lit("cms:"), col("user_id").cast(StringType))))
      .localCheckpoint(true)
    val keyed = counts
      .select(col("user_id"), col("cnt"),
        explode(transform(sequence(lit(0), lit(depth - 1)), r =>
          struct(r.cast(LongType).as("r"),
            (conv(substring(col("h"), r * lit(8) + lit(1), lit(8)), 16, 10)
              .cast(LongType) % width).as("b")))).as("e"))
      .select(col("user_id"), col("cnt"),
        col("e.r").as("r"), col("e.b").as("b"))
    val counters = keyed.groupBy(col("r"), col("b"))
      .agg(sum(col("cnt")).as("cell"))
    val est = keyed.join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("user_id"), col("cnt")).agg(min(col("cell")).as("est"))
    val f1 = broadcast(counts.agg(sum(col("cnt")).as("f1")))
    est.withColumn("err", col("est") - col("cnt"))
      .crossJoin(f1)
      .withColumn("band", length(bin(col("cnt"))).cast(LongType))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("err") === 0L, 1L).otherwise(0L)).as("n_exact"),
        sum(col("err")).as("sum_err"),
        sum(col("cnt")).as("sum_true"),
        max(expr("err * 1000000 DIV cnt")).as("max_rel_err_ppm"),
        sum(when(col("err") * width <= lit(2L) * col("f1"), 1L)
          .otherwise(0L)).as("n_within_2eps"))
      .withColumn("agg_rel_err_ppm",
        expr("sum_err * 1000000 DIV sum_true"))
  }

  def cmsErrorAuditSql(depth: Int = 2, width: Int = 64): String =
    s"""WITH cnts AS (
       |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
       |), ra AS (SELECT unnest(range($depth)) AS r),
       |keyed AS (
       |  SELECT user_id, cnt, ra.r,
       |         ('0x' || substr(md5('cms:' || CAST(user_id AS VARCHAR)),
       |                         CAST(ra.r * 8 + 1 AS INTEGER), 8))::BIGINT
       |           % $width AS b
       |  FROM cnts, ra
       |), counters AS (
       |  SELECT r, b, sum(cnt) AS cell FROM keyed GROUP BY 1, 2
       |), est AS (
       |  SELECT k.user_id, k.cnt, min(c.cell) AS est
       |  FROM keyed k JOIN counters c USING (r, b) GROUP BY 1, 2
       |), f1 AS (SELECT count(*) AS f1 FROM events)
       |SELECT CAST(length(printf('%b', cnt)) AS BIGINT) AS band,
       |       CAST(count(*) AS BIGINT) AS n_keys,
       |       CAST(sum(CASE WHEN est - cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_exact,
       |       CAST(sum(est - cnt) AS BIGINT) AS sum_err,
       |       CAST(sum(cnt) AS BIGINT) AS sum_true,
       |       CAST(max((est - cnt) * 1000000 // cnt) AS BIGINT)
       |         AS max_rel_err_ppm,
       |       CAST(sum(CASE WHEN (est - cnt) * $width <= 2 * f1.f1
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_2eps,
       |       CAST(sum(est - cnt) * 1000000 // sum(cnt) AS BIGINT)
       |         AS agg_rel_err_ppm
       |FROM est, f1 GROUP BY 1""".stripMargin

  def oracleEntries: Map[String, String] =
    capturedHll.get(12).map(e => "q85_hll_sketches" -> hllSketchesSql(e)).toMap ++
      capturedCms.get((0.001, 0.99, 42))
        .map(e => "q97_cms_heavy_hitters" -> cmsHeavyHittersSql(e, 1000L)).toMap ++
      capturedGk.get(1000)
        .map(e => "q118_approx_quantiles" -> approxQuantilesSql(e, 1000)).toMap
}
