package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic content-addressed sampling — the split/subsample ops a
  * training-data pipeline runs before anything touches a trainer (no
  * reference counterpart; extension surface like [[Dedup]]).
  *
  * Everything here keys on `md5(cast(doc_id as string))` instead of `rand()`:
  *  - reproducible across runs, engines, partitionings and retries (a task
  *    retry with `rand()` silently changes the sample);
  *  - a document keeps its split assignment when the corpus is re-ingested —
  *    the property that keeps eval sets uncontaminated across crawls;
  *  - embarrassingly parallel: a narrow map, no shuffle, no state.
  *
  * The uniform variate is `conv(hex[0:8], 16, 10) / 2^32` — the first 32
  * md5 bits as a double in [0,1). All thresholds compare that same double on
  * both engines (one division — IEEE-identical), so the DuckDB oracle is
  * hash-exact, not approximate.
  *
  * Scale notes: all three ops are single narrow projections/filters over the
  * scan (plus, for [[mixtureRebalance]], a broadcast join of per-source
  * rates — |sources| rows). At 100 TB they run at scan speed with zero
  * exchanges on the big side.
  */
object Sampling {

  /** First 32 bits of md5(doc_id) as a uniform double in [0,1). */
  private[operators] def hashUnit(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType).cast(DoubleType) / 4294967296.0

  /** First hex nibble of md5(doc_id) — 16 equal buckets. */
  private[operators] def hexBucket(id: Column): Column =
    substring(md5(id.cast(StringType)), 1, 1)

  /** q47 — deterministic train/val/test assignment: 16 md5 nibble buckets,
    * 0–b → train (75%), c–d → val (12.5%), e–f → test (12.5%). Per-doc
    * output so the oracle checks every assignment, not just the counts. */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val b = hexBucket(col("doc_id"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      b.as("bucket"),
      when(b < "c", "train").when(b < "e", "val").otherwise("test").as("split"))
  }

  val trainValTestSplitSql: String =
    """SELECT doc_id, bucket,
      |       CASE WHEN bucket < 'c' THEN 'train'
      |            WHEN bucket < 'e' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
      |      FROM documents)""".stripMargin

  /** q48 — deterministic fractional subsample: keep docs whose md5 variate
    * falls below `rate`. The 100 TB story for "give me 5% of the corpus,
    * the same 5% every time". */
  def hashSample(spark: SparkSession, dir: String,
                 rate: Double = 0.25): DataFrame =
    Tables.documents(spark, dir)
      .filter(hashUnit(col("doc_id")) < rate)
      .select(col("doc_id"), col("source"), col("n_chars"))

  val hashSampleSql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |           / 4294967296.0 AS u
      |  FROM documents)
      |WHERE u < 0.25""".stripMargin

  /** q49 — mixture rebalance: downsample every language to the size of the
    * smallest language (uniform mixture; testdata langs are genuinely skewed
    * — en ≈ 3.4× fr — so this REALLY drops rows). Per-lang keep rate =
    * min_count / lang_count; a doc survives iff its md5 variate is below its
    * language's rate. The per-lang rate table is a broadcast join (|langs|
    * rows) — the big side never shuffles. */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val minN = counts.agg(min(col("n")).as("min_n"))
    val rates = counts.crossJoin(minN)
      .select(col("lang"),
        (col("min_n").cast(DoubleType) / col("n").cast(DoubleType)).as("rate"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(hashUnit(col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("lang"))
  }

  /** Keep each document whose md5 variate (the SQL twin of [[hashUnit]])
    * is below its language's `rates` entry: the mixture oracles' select. */
  private val keepByLangRateSql: String =
    """SELECT d.doc_id, d.lang
      |FROM documents d JOIN rates r ON d.lang = r.lang
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        / 4294967296.0 < r.rate""".stripMargin

  val mixtureRebalanceSql: String =
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
       |), rates AS (
       |  SELECT lang,
       |         CAST((SELECT min(n) FROM counts) AS DOUBLE) / CAST(n AS DOUBLE)
       |           AS rate
       |  FROM counts
       |)
       |$keepByLangRateSql""".stripMargin

  /** q125 — TEMPERATURE-weighted mixture (τ = 0.5): per-language keep
    * probability √(min_n / n_l) — the standard compromise between the
    * uniform mixture ([[mixtureRebalance]]'s min_n/n_l, which starves big
    * languages) and the natural mixture (keep everything, which drowns
    * small ones); multilingual-pretraining recipes sample languages with
    * probability ∝ p^τ and τ≈0.5–0.7 for exactly this reason. Same
    * content-addressed decision as every sampler here: a doc survives iff
    * its md5 variate < its language's rate — deterministic, rerun- and
    * retry-stable, exchange-free on the big side (the |langs|-row rate
    * table broadcasts).
    *
    * Oracle-exact DESPITE the square root: IEEE 754 requires division and
    * sqrt to be correctly rounded, so `sqrt(min_n / n_l)` is bit-identical
    * in the JVM and DuckDB's libm — unlike `pow`, whose rounding is
    * library-dependent and which this formulation deliberately avoids
    * (general τ would need pow; τ = 0.5 is the exactness-safe point). */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val minN = counts.agg(min(col("n")).as("min_n"))
    val rates = counts.crossJoin(minN)
      .select(col("lang"),
        sqrt(col("min_n").cast(DoubleType) / col("n").cast(DoubleType))
          .as("rate"))
    docs.join(broadcast(rates), Seq("lang"))
      .filter(hashUnit(col("doc_id")) < col("rate"))
      .select(col("doc_id"), col("lang"))
  }

  val temperatureMixtureSql: String =
    s"""WITH counts AS (
       |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
       |), rates AS (
       |  SELECT lang,
       |         sqrt(CAST((SELECT min(n) FROM counts) AS DOUBLE)
       |              / CAST(n AS DOUBLE)) AS rate
       |  FROM counts
       |)
       |$keepByLangRateSql""".stripMargin

  /** q132 — token-budget mixture PLANNING (round 6): the "data recipe"
    * computation run before every training-mix job — given per-language
    * token availability and target mixture weights, derive each language's
    * token allocation, single-pass sampling rate, and epoch/oversampling
    * factor against a token budget of half the corpus.
    *
    * Semantics (all EXACT integer arithmetic, so the oracle hash-matches):
    *  - `available_tokens` = Σ whitespace tokens per lang (q41's ws_tokens
    *    definition);
    *  - budget B = total available `div` 2;
    *  - `target_tokens` = B · weight_ppm `div` 10⁶;
    *  - `epochs_e6` = target·10⁶ `div` available, computed as
    *    `(t div a)·10⁶ + ((t mod a)·10⁶ div a)` so the intermediate stays
    *    under 2⁶³ for any a ≤ 9.2·10¹² (at a true 100 TB token census,
    *    widen to DECIMAL(38,0) — same plan shape);
    *    > 10⁶ means the language must repeat (oversample) to fill its slot;
    *  - `rate_ppm` = min(10⁶, epochs_e6): the fraction sampled in one pass.
    *
    * Plan: one narrow token-count map + one 5-row lang aggregate; the 1-row
    * total and the 5-row weight table broadcast onto it — nothing data-sized
    * moves after the aggregate. The weight table is the policy input; it
    * ships as literals the same way q49's mixture targets do. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val weights = Seq(("en", 400000L), ("de", 150000L), ("es", 150000L),
      ("fr", 150000L), ("zh", 150000L))
    val wDf = spark.createDataFrame(weights).toDF("lang", "weight_ppm")
    val avail = Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("t"))
      .groupBy(col("lang")).agg(sum(col("t")).as("available_tokens"))
    val tot = avail.agg(sum(col("available_tokens")).as("total_tokens"))
    avail.join(broadcast(wDf), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("(total_tokens div 2) * weight_ppm div 1000000"))
      .withColumn("epochs_e6",
        expr("(target_tokens div available_tokens) * 1000000 + " +
          "((target_tokens % available_tokens) * 1000000 div available_tokens)"))
      .select(col("lang"), col("available_tokens"), col("weight_ppm"),
        col("target_tokens"),
        least(lit(1000000L), col("epochs_e6")).as("rate_ppm"),
        col("epochs_e6"))
  }

  val mixturePlanSql: String =
    """WITH w(lang, weight_ppm) AS (VALUES
      |  ('en', CAST(400000 AS BIGINT)), ('de', CAST(150000 AS BIGINT)),
      |  ('es', CAST(150000 AS BIGINT)), ('fr', CAST(150000 AS BIGINT)),
      |  ('zh', CAST(150000 AS BIGINT))
      |), avail AS (
      |  SELECT lang,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
      |           AS available_tokens
      |  FROM documents GROUP BY lang
      |), tot AS (SELECT sum(available_tokens) AS total_tokens FROM avail
      |), plan AS (
      |  SELECT lang, available_tokens, weight_ppm,
      |         (total_tokens // 2) * weight_ppm // 1000000 AS target_tokens
      |  FROM avail JOIN w USING (lang) CROSS JOIN tot
      |), e AS (
      |  SELECT *,
      |         (target_tokens // available_tokens) * 1000000 +
      |         ((target_tokens % available_tokens) * 1000000
      |            // available_tokens) AS epochs_e6
      |  FROM plan
      |)
      |SELECT lang, available_tokens, weight_ppm,
      |       CAST(target_tokens AS BIGINT) AS target_tokens,
      |       CAST(least(1000000, epochs_e6) AS BIGINT) AS rate_ppm,
      |       CAST(epochs_e6 AS BIGINT) AS epochs_e6
      |FROM e""".stripMargin

  /** q133 — top-p QUALITY-MASS curation (round 6): per source, keep the
    * highest-quality documents whose running token mass stays within p
    * (default 4/5) of the source's total — nucleus selection applied to
    * corpus curation: a fixed token budget per domain goes to the best
    * documents first, and the cut adapts to each domain's quality
    * distribution instead of a global score threshold.
    *
    * Ranking key: q109's length-normalized linear score (`avg_e6`, exact
    * integers), descending, doc_id tiebreak. The running mass uses the
    * [[OffsetPrefix.cumSum]] offset-prefix primitive — 20 sources
    * would otherwise serialize into 20 window tasks at any cluster size
    * (the q75/q113 trap); here every data-sized scan is bounded by one
    * range partition and only the P×G offset miniature is windowed; the
    * source total is the primitive's `__tot`, summed over that miniature
    * instead of a second aggregate over the documents ⋈ scores join. The
    * oracle keeps the naive window shape, proving the distributed form
    * value-identical. Keep rule in exact integers:
    * `cum·pDen ≤ total·pNum`. */
  def qualityTopP(spark: SparkSession, dir: String,
                  pNum: Long = 4, pDen: Long = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("tokens"))
    val scores = TextAnalysis.qualityScores(spark, dir)
      .select(col("doc_id"), col("avg_e6"))
    val base = docs.join(scores, "doc_id")
      .withColumn("neg_avg", -col("avg_e6"))
    OffsetPrefix.cumSum(base, "source", Seq("neg_avg", "doc_id"), "tokens")
      .filter(col("__cum") * pDen <= col("__tot") * pNum)
      .select(col("doc_id"), col("source"), col("avg_e6"), col("tokens"),
        col("__cum").as("cum_tokens"))
  }

  def qualityTopPSql(pNum: Long = 4, pDen: Long = 5): String =
    s"""WITH q AS (${TextAnalysis.linearQualityScoreSql}
       |), base AS (
       |  SELECT d.doc_id, d.source,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tokens,
       |         q.avg_e6
       |  FROM documents d JOIN q USING (doc_id)
       |), cum AS (
       |  SELECT *,
       |         sum(tokens) OVER (PARTITION BY source
       |           ORDER BY avg_e6 DESC, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS cum_tokens,
       |         sum(tokens) OVER (PARTITION BY source) AS tot
       |  FROM base
       |)
       |SELECT doc_id, source, avg_e6, tokens,
       |       CAST(cum_tokens AS BIGINT) AS cum_tokens
       |FROM cum WHERE cum_tokens * $pDen <= tot * $pNum""".stripMargin

  /** q87 — per-source document cap (the C4/RefinedWeb "domain cap": no
    * single domain may dominate the mixture). Keeps at most `cap` documents
    * per source, selected by deterministic content-hash rank — the same
    * "reservoir, but reproducible" trick as [[hashSample]]: rank by the
    * md5 variate instead of `rand()`, so reruns and retried partitions
    * agree.
    *
    * Plan: the per-source rank rides [[OffsetPrefix.ordinal]] —
    * `source` has ~20 values, so a `Window.partitionBy(source)` would
    * serialize corpus/20 rows into one task per group (the q268/q62/q75
    * trap); the range-partition + broadcast-offset form spreads each
    * source across all partitions. At 100 TB with a mega-domain the even
    * better physical shape is the map-side [[graft.functions.TopKAgg]]
    * aggregator (k·|sources| shuffle rows instead of n; proven equivalent
    * to rank filtering in its spec). */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 10): DataFrame =
    OffsetPrefix.ordinal(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), hashUnit(col("doc_id")).as("u")),
      "source", Seq("u", "doc_id"))
      .withColumn("rk", col("__ord"))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))

  def domainCapSql(cap: Int = 10): String =
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |                      / 4294967296.0, doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $cap""".stripMargin

  /** First 32 md5 bits of an id as a Long in [0, 2^32) — the integer form
    * of [[hashUnit]] for arithmetic that must stay in exact Longs. */
  private[operators] def hashU32(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 8), 16, 10).cast(LongType)

  /** q102 — weighted sample of `k` orders, inclusion probability ∝
    * o_totalprice, via PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM
    * 2007): each item draws a uniform u and gets priority key u / w; the k
    * smallest keys form the sample. For items below the inclusion threshold
    * t = (k+1)-th key, P(u/w < t) = t·w — proportional to weight — and the
    * estimator ŵ = max(w, 1/t) is unbiased for subset sums.
    *
    * Chosen over Efraimidis–Spirakis (key u^(1/w)) because priority keys
    * need NO transcendental: u is the integer md5 variate, w is exact
    * cents, and the key is one Long multiply + integer division —
    * bit-identical on both engines ([[graft.operators.Rfm]] scaladoc
    * explains why ln/exp would break the oracle hash). u32·10^6 ≤ 4.3·10^15
    * stays far under Long overflow.
    *
    * Plan shape: narrow projection + TakeOrderedAndProject — per-partition
    * top-k, merge of k·parts rows, no global sort. At 100 TB this is a scan
    * plus a k-row-per-partition reduction, the same shape as q10. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        Rfm.cents(col("o_totalprice")).as("w_cents"),
        hashU32(col("o_orderkey")).as("__u32"))
      .withColumn("pkey", expr("(__u32 * 1000000) div w_cents"))
      .orderBy(col("pkey"), col("o_orderkey"))
      .limit(k)
      .select(col("o_orderkey"), col("w_cents"), col("pkey"))

  def weightedSampleSql(k: Int = 100): String =
    s"""SELECT o_orderkey,
       |       CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
       |       ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
       |         * 1000000 // CAST(round(o_totalprice * 100) AS BIGINT) AS pkey
       |FROM orders
       |ORDER BY pkey, o_orderkey
       |LIMIT $k""".stripMargin

  /** q112 — stratified sample with EXACT largest-remainder allocation
    * (Hamilton apportionment): a total budget of `total` documents is
    * split across `source` strata proportionally to their sizes —
    * `quota_s = ⌊total·n_s/n⌋` plus one extra for the strata with the
    * largest remainders until the budget is met. Every step is integer
    * arithmetic: the remainder comparison uses `total·n_s − ⌊⌋·n` directly
    * (no rational division), so allocation is bit-exact cross-engine and
    * Σ quotas == total BY CONSTRUCTION, not by rounding luck. Within a
    * stratum, membership is the deterministic md5-variate rank
    * ([[hashUnit]]) — re-runs, retries and re-ingests pick the same docs.
    *
    * Plan: per-source counts (|sources| rows) → remainder ranking via one
    * tiny window → quotas broadcast back onto the doc ranking, which rides
    * [[OffsetPrefix.ordinal]] (range partition + broadcast offset
    * miniature — NEVER a window partitioned by the 20-value `source` key,
    * the q268/q62/q75 serialization trap) → rank ≤ quota. At 100 TB: one
    * scan, one range exchange (salt if a mega-source dominates —
    * [[graft.operators.Skew]]), and a dimension-sized allocation table. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       total: Long = 200L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val n = counts.agg(sum(col("ns")).as("n"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy((lit(total) * col("ns") - col("q0") * col("n")).desc,
        col("source"))
    // the spill budget (total − Σ q0) comes from an unpartitioned window
    // over the same |sources|-row frame the remainder ranking already
    // single-partitions — not from a second counts aggregation, which
    // would re-scan documents once more per run
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val quotas = counts.crossJoin(broadcast(n))
      .withColumn("q0", floor(lit(total) * col("ns") / col("n")).cast(LongType))
      .withColumn("spill_rank", row_number().over(wRem).cast(LongType))
      .withColumn("spill", lit(total) - sum(col("q0")).over(wAll))
      .select(col("source"),
        (col("q0") + when(col("spill_rank") <= col("spill"), 1L)
          .otherwise(0L)).as("quota"))
    OffsetPrefix.ordinal(
      docs.select(col("doc_id"), col("source"), hashUnit(col("doc_id")).as("u")),
      "source", Seq("u", "doc_id"))
      .withColumn("rk", col("__ord"))
      .join(broadcast(quotas), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"), col("quota"))
  }

  def stratifiedSampleSql(total: Long = 200L): String =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS ns FROM documents GROUP BY source
       |), tot AS (SELECT sum(ns) AS n FROM counts),
       |base AS (
       |  SELECT source, ns, n,
       |         CAST(floor($total * ns / n) AS BIGINT) AS q0
       |  FROM counts, tot
       |), spill AS (
       |  SELECT $total - sum(q0) AS s FROM base
       |), quotas AS (
       |  SELECT source,
       |         q0 + CASE WHEN row_number() OVER (
       |                ORDER BY $total * ns - q0 * n DESC, source)
       |              <= (SELECT s FROM spill) THEN 1 ELSE 0 END AS quota
       |  FROM base
       |), ranked AS (
       |  SELECT doc_id, source,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |                      / 4294967296.0, doc_id) AS BIGINT) AS rk
       |  FROM documents
       |)
       |SELECT r.doc_id, r.source, r.rk, q.quota
       |FROM ranked r JOIN quotas q ON r.source = q.source
       |WHERE r.rk <= q.quota""".stripMargin

  /** Seed prefix shared by [[globalShuffleShards]] and its oracle SQL —
    * part of the shuffle's identity: a different seed is a different
    * (equally valid) permutation, so the contract pins one. */
  val ShuffleSeed = "shuf42"

  /** q138 — deterministic global corpus shuffle + shard assignment, the
    * "shuffle before sharding" step every training run does so that
    * consecutive training examples are not neighbors in crawl order.
    * Each doc draws a seeded 32-bit md5 variate (`u32`); its shard is
    * `u32 mod shards` and its position within the shard is its dense rank
    * under (u32, doc_id) — together (shard, pos) is a reproducible
    * pseudo-random total order that any retry, re-ingest or backfill
    * reproduces exactly (same property as [[hashUnit]]; `rand()` or
    * zipWithIndex would not survive a task retry).
    *
    * Scale shape: shard assignment is a narrow map (no exchange); the
    * within-shard position uses [[OffsetPrefix.ordinal]] — ONE
    * range partitioning plus a broadcast-back P×S offset miniature, never
    * a one-task-per-shard window and never a global sort. Writing
    * `partitionBy(shard)` sorted by pos then streams each shard file in
    * training order at scan speed. */
  def globalShuffleShards(spark: SparkSession, dir: String,
                          shards: Int = 8): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    val seeded = Tables.documents(spark, dir)
      .select(col("doc_id"),
        conv(substring(md5(concat(lit(ShuffleSeed + ":"),
          col("doc_id").cast(StringType))), 1, 8), 16, 10)
          .cast(LongType).as("u32"))
      .withColumn("shard", pmod(col("u32"), lit(shards.toLong)))
    OffsetPrefix.ordinal(seeded, "shard", Seq("u32", "doc_id"))
      .select(col("doc_id"), col("u32"), col("shard"),
        col("__ord").as("pos"))
  }

  def globalShuffleShardsSql(shards: Int = 8): String =
    s"""WITH seeded AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u32
       |  FROM documents
       |)
       |SELECT doc_id, u32, u32 % $shards AS shard,
       |       CAST(row_number() OVER (PARTITION BY u32 % $shards
       |                               ORDER BY u32, doc_id) AS BIGINT) AS pos
       |FROM seeded""".stripMargin

  /** Generic Efraimidis–Spirakis weighted reservoir (key = -ln(u)/w,
    * bottom-k) for library callers who want the textbook distribution and
    * don't need cross-engine hash equality: u comes from a seeded xxhash64
    * of the id (deterministic per seed — reproducible across retries and
    * partitionings, unlike `rand()`), mapped to (0, 1]. Rows with
    * non-positive weight are excluded (they have zero inclusion mass).
    * Same TakeOrderedAndProject plan shape as [[weightedSample]]. */
  def weightedReservoir(df: DataFrame, idCol: String, weightCol: Column,
                        k: Int, seed: Long): DataFrame = {
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(4294967296L))
      .cast(DoubleType) + 1.0) / 4294967296.0
    df.filter(weightCol > 0)
      .withColumn("__es_key", -log(u) / weightCol.cast(DoubleType))
      .orderBy(col("__es_key"), col(idCol))
      .limit(k)
      .drop("__es_key")
  }

  /** q163 — RENDEZVOUS (highest-random-weight) shard assignment: each doc
    * goes to `argmax_s md5(doc:s)` over the shard set. Unlike the modulo
    * assignment (`hash % n` — q47's bucket shape), rendezvous is
    * RESHARD-STABLE: removing a shard moves ONLY that shard's documents
    * (~1/n of the corpus), never reshuffling the rest — the property a
    * 100 TB corpus depends on when shard counts change, because a modulo
    * change would rewrite every shard file. The spec pins exactly that
    * invariant by comparing n=8 against n=7.
    *
    * Pure narrow map (n md5s per row, argmax over an n-literal struct
    * array) — no shuffle at all; the md5-hex basis is the q44/q48 portable
    * integer chain, so the oracle replays it bit-for-bit. */
  def rendezvousShards(spark: SparkSession, dir: String,
                       nShards: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = (0 until nShards).map { s =>
      struct(
        conv(substring(md5(concat(col("doc_id").cast(StringType),
          lit(s":$s"))), 1, 8), 16, 10).cast(LongType).as("h"),
        lit(s.toLong).as("shard"))
    }
    // compute the argmax struct ONCE and project both fields from it —
    // repeating array_max would double the per-row md5 work unless codegen
    // subexpression elimination happened to fire
    docs.select(col("doc_id"), array_max(array(cands: _*)).as("best"))
      .select(col("doc_id"), col("best.shard").as("shard"),
        col("best.h").as("score"))
  }

  def rendezvousShardsSql(nShards: Int = 8): String =
    s"""WITH cand AS (
       |  SELECT doc_id, s.shard,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |                             CAST(s.shard AS VARCHAR)), 1, 8))::BIGINT
       |           AS h
       |  FROM documents
       |  CROSS JOIN (SELECT unnest(range($nShards)) AS shard) s
       |), r AS (
       |  SELECT doc_id, shard, h,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY h DESC, shard DESC) AS rk
       |  FROM cand)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard, h AS score
       |FROM r WHERE rk = 1""".stripMargin

  /** Poisson(1) inverse-CDF thresholds Σ_{i≤k} e⁻¹/i! for k = 0..5 — a
    * variate u < t(0) draws weight 0, t(0) ≤ u < t(1) weight 1, …, u ≥
    * t(5) caps at 6 (P ≈ 6e-5; the cap keeps the weight column bounded). */
  private val PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)

  /** The thresholds on the 12-bit lattice: an integer variate u ∈ [0, 4096)
    * draws weight k = #{cuts ≤ u}. u ≥ ⌈4096·t⌉ ⟺ u/4096 ≥ t for integer
    * u (t irrational), so the integer compare IS the real-valued CDF cut at
    * 12-bit resolution — and the SQL text embeds these exact Scala-computed
    * integers, so determinism is by construction, with no float parsing in
    * either engine's hot loop. */
  private[operators] val PoissonCuts12: Seq[Long] =
    PoissonCdf.map(t => math.ceil(t * 4096).toLong)

  /** q187 — DISTRIBUTED POISSON BOOTSTRAP of total order revenue: `b`
    * resample replicates of Σ cents, each row drawing a Poisson(1)
    * multiplicity per replicate from its own md5 variate (the classic
    * one-pass bootstrap for data too large to resample by index: Poisson
    * counts approximate multinomial resampling with independent per-row
    * draws, so the replicate is a narrow map + one aggregate — no shuffle
    * of the data, no driver-side index vector). The replicate spread IS
    * the standard-error estimate a monitor puts around the revenue total.
    *
    * Hash once, slice many: TWO md5s per ROW (not per row × replicate —
    * a 10× md5-count reduction measured 3.1 s → sub-second at sf0.1),
    * each yielding ten 12-bit slices, one per replicate. A 12-bit
    * uniform quantizes the Poisson CDF cuts to 1/4096 — a ≤ 2.5e-4
    * perturbation of each threshold probability, far below bootstrap
    * noise at any n — while every weight stays a deterministic integer
    * both engines recompute identically (the slices and the decimal cut
    * literals are shared text).
    * Scale shape: rows × b narrow expansion AFTER the per-row hashes,
    * map-side partial sums into a b-row result; b is a constant (20), so
    * the expansion is a bounded factor, not a data-sized blowup. */
  def bootstrapRevenue(spark: SparkSession, dir: String,
                       b: Int = 20): DataFrame = {
    require(b <= 20, "two md5s carry at most 20 twelve-bit slices")
    val key = col("o_orderkey").cast(StringType)
    val chunkCols = (0 to 4).map(i =>
      conv(expr(s"substring(h, ${1 + 12 * i}, 12)"), 16, 10)
        .cast(LongType).as(s"c$i"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), Rfm.cents(col("o_totalprice")).as("cents"))
      .withColumn("h",
        concat(md5(concat(key, lit(":0"))), md5(concat(key, lit(":1")))))
      .select(col("cents") +: chunkCols: _*)
    // per (row, rep): pick the 48-bit chunk, shift out the 12-bit slice —
    // integer-only ops inside whole-stage codegen; the strings are gone
    // before the ×b expansion
    val u = expr("shiftright(element_at(array(c0, c1, c2, c3, c4), " +
      "CAST(rep DIV 4 + 1 AS INT)), CAST(36 - 12 * (rep % 4) AS INT)) & 4095")
    val weight = PoissonCuts12
      .map(c => when(u >= lit(c), 1L).otherwise(0L))
      .reduce(_ + _)
    orders
      .select(col("cents"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("c4"), explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("w", weight)
      .groupBy(col("rep").cast(LongType).as("rep"))
      .agg(sum(col("w")).as("n_drawn"),
        sum(col("w") * col("cents")).as("total_cents"))
  }

  def bootstrapRevenueSql(b: Int = 20): String = {
    val cuts = PoissonCuts12
      .map(c => s"CASE WHEN u >= $c THEN 1 ELSE 0 END")
      .mkString(" + ")
    val chunks = (0 to 4)
      .map(i => s"('0x' || substr(h, ${1 + 12 * i}, 12))::BIGINT AS c$i")
      .mkString(", ")
    s"""WITH reps AS (SELECT unnest(range($b)) AS rep),
       |hh AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       |         md5(CAST(o_orderkey AS VARCHAR) || ':0') ||
       |         md5(CAST(o_orderkey AS VARCHAR) || ':1') AS h
       |  FROM orders
       |), c AS (SELECT cents, $chunks FROM hh
       |), v AS (
       |  SELECT rep, cents,
       |         ((CASE rep // 4 WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
       |                         WHEN 3 THEN c3 ELSE c4 END
       |           >> CAST(36 - 12 * (rep % 4) AS INT)) & 4095) AS u
       |  FROM c CROSS JOIN reps
       |), w AS (SELECT rep, cents, $cuts AS w FROM v)
       |SELECT CAST(rep AS BIGINT) AS rep,
       |       CAST(sum(w) AS BIGINT) AS n_drawn,
       |       CAST(sum(w * cents) AS BIGINT) AS total_cents
       |FROM w GROUP BY rep""".stripMargin
  }

  // -------------------------------------------------- negative sampling

  /** q258 — word2vec-style NEGATIVE sampling from the unigram^(3/4)
    * distribution (Mikolov et al.'s smoothing — rare words sampled more
    * than their raw share, stopwords less), drawn by inverse-CDF lookup:
    * 1000 deterministic md5 draws land in the cumulative-weight intervals
    * of a broadcast vocab table.
    *
    * The ¾ power WITHOUT `pow` (whose rounding no two libms agree on):
    * c^(3/4) = sqrt(sqrt(c³)) — c³ is an exact integer below 2⁵³, and
    * IEEE 754 REQUIRES sqrt correctly rounded, so the chain is bit-exact
    * cross-engine (the q125 precedent, squared). Weights quantize to e6
    * by floor; cumulative intervals are then EXACT BIGINT sums, and each
    * draw's target is the integer `u32·W DIV 2³²` (through
    * DECIMAL(38,0)/HUGEINT), so interval membership is exact integer
    * comparison — no float ever crosses an interval boundary.
    *
    * Scale shape: the vocab table (model-sized) carries an exclusive
    * prefix sum over its own miniature — documented bounded window-free
    * self-join — and BROADCASTS into the draw table; draws are a narrow
    * generated column. At corpus scale only the word-count aggregate
    * touches data. */
  def negativeSampling(spark: SparkSession, dir: String,
                       nDraws: Int = 1000): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"),
        // c³ as a DOUBLE chain (c·c·c after one cast): raw BIGINT c³
        // wraps past c ≈ 2.1M; the double chain is the IDENTICAL
        // correctly-rounded multiply sequence on both engines at any c
        floor(sqrt(sqrt(col("c").cast(DoubleType) * col("c") * col("c")))
          * 1000000.0).cast(LongType).as("w_e6"))
    // exclusive prefix over the vocab miniature, ordered by word
    val cum = vocab.as("a")
      .join(broadcast(vocab.as("b")), col("b.w") < col("a.w"), "left")
      .groupBy(col("a.w").as("w"), col("a.w_e6").as("w_e6"))
      .agg(coalesce(sum(col("b.w_e6")), lit(0L)).as("lo"))
    val total = vocab.agg(sum(col("w_e6")).as("wt"))
    val draws = spark.range(nDraws)
      .crossJoin(broadcast(total))
      .select(col("id").as("draw"),
        expr("""CAST(CAST(conv(substring(md5(concat('neg:',
                  CAST(id AS STRING))), 1, 8), 16, 10) AS DECIMAL(38,0))
                * wt DIV 4294967296 AS BIGINT)""").as("t"))
    draws.join(broadcast(cum),
        col("t") >= col("lo") && col("t") < col("lo") + col("w_e6"))
      .groupBy(col("w"), col("w_e6"))
      .agg(count(lit(1)).as("n_drawn"))
  }

  def negativeSamplingSql(nDraws: Int = 1000): String =
    s"""WITH vocab AS (
       |  SELECT w,
       |         CAST(floor(sqrt(sqrt(CAST(c AS DOUBLE) * c * c))
       |              * 1000000.0) AS BIGINT) AS w_e6
       |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS c
       |        FROM (SELECT unnest(string_split(text, ' ')) AS w
       |              FROM documents)
       |        GROUP BY w)
       |), cum AS (
       |  SELECT a.w, a.w_e6,
       |         CAST(coalesce(sum(b.w_e6), 0) AS BIGINT) AS lo
       |  FROM vocab a LEFT JOIN vocab b ON b.w < a.w
       |  GROUP BY a.w, a.w_e6
       |), total AS (SELECT CAST(sum(w_e6) AS BIGINT) AS wt FROM vocab
       |), draws AS (
       |  SELECT d AS draw,
       |         CAST(CAST(('0x' || substr(md5('neg:' || CAST(d AS VARCHAR)),
       |                1, 8))::BIGINT AS HUGEINT) * wt // 4294967296
       |              AS BIGINT) AS t
       |  FROM (SELECT unnest(range($nDraws)) AS d) CROSS JOIN total)
       |SELECT w, w_e6, CAST(count(*) AS BIGINT) AS n_drawn
       |FROM draws JOIN cum ON t >= lo AND t < lo + w_e6
       |GROUP BY w, w_e6""".stripMargin

  // ------------------------------------------------ DSIR importance select

  /** q243 — DSIR-style data selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): pick raw-pool docs
    * that LOOK LIKE a target domain, scored on cheap hashed n-gram
    * features instead of a model. Here the target distribution is the
    * `target` source's docs; every other source is the raw pool.
    *
    *  1. FEATURES — each bigram hashes to one of 256 buckets (first two
    *     md5 hex chars), the paper's hashed-feature trick: the histogram
    *     stays fixed-width no matter how big the vocabulary gets.
    *  2. HISTOGRAMS — bucket counts over the target's bigrams and the raw
    *     pool's bigrams, add-one smoothed over all 256 buckets so unseen
    *     buckets never divide by zero.
    *  3. IMPORTANCE — per-bucket ratio p_target(b)/p_raw(b) in e6 fixed
    *     point: `ct*nr*1e6 DIV (cr*nt)` — pure BIGINT, so the DuckDB
    *     oracle reproduces every digit (the paper's log-ratio sum is
    *     replaced by the ratio MEAN over the doc's tokens: same
    *     "target-like tokens score high" ordering, zero float drift).
    *  4. RESAMPLE — content-addressed Bernoulli acceptance with
    *     probability score/max_score: keep iff u32·smax < score·2^32,
    *     u32 the doc's md5 variate ([[hashUnit]]'s integer form). Exact
    *     integer compare; rerun-, retry- and partitioning-stable.
    *
    * Scale shape: the bigram stream is a narrow map off the scan (the
    * materialized-words HOF discipline of `bigramSurprisal`); both
    * histograms aggregate to ≤256 rows and BROADCAST; per-doc scoring is
    * ONE shuffle (doc_id aggregate); smax is a broadcast scalar. At
    * 100 TB the corpus is read once for features and once for the target
    * histogram (the target slice is tiny by construction), and nothing
    * data-sized ever sorts, windows, or cartesians. */
  def dsirSelect(spark: SparkSession, dir: String,
                 target: String = "src0"): DataFrame = {
    val ws = col("ws")
    // session-cached: the histogram passes AND the scoring pass all read
    // this frame — without the cache each reference re-derives the full
    // explode off its own scan (three corpus passes instead of one
    // materialization; the CacheRegistry shared-frame discipline)
    val bigrams = graft.CacheRegistry.cached(spark, s"dsir-bigrams:$dir")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(ws) >= 2)
        .select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(0), size(ws) - 2),
            i => substring(md5(concat(element_at(ws, i + 1), lit(" "),
              element_at(ws, i + 2))), 1, 2))).as("bucket")))

    val allBuckets = spark.range(256)
      .select(format_string("%02x", col("id")).as("bucket"))
    def smoothed(side: DataFrame, as: String): DataFrame =
      allBuckets.join(
          broadcast(side.groupBy(col("bucket")).agg(count(lit(1)).as("c"))),
          Seq("bucket"), "left")
        .select(col("bucket"), (coalesce(col("c"), lit(0L)) + 1L).as(as))
    val tHist = smoothed(bigrams.filter(col("source") === target), "ct")
    val rHist = smoothed(bigrams.filter(col("source") =!= target), "cr")
    val ratios = tHist.join(broadcast(rHist), Seq("bucket"))
      .crossJoin(broadcast(tHist.agg(sum(col("ct")).as("nt"))))
      .crossJoin(broadcast(rHist.agg(sum(col("cr")).as("nr"))))
      .select(col("bucket"),
        expr("ct * nr * 1000000 DIV (cr * nt)").as("ratio_e6"))

    val scores = bigrams.filter(col("source") =!= target)
      .join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_e6")).as("sum_r"))
      .select(col("doc_id"), col("source"),
        expr("sum_r DIV n_tokens").as("score_e6"))
    scores
      .crossJoin(broadcast(scores.agg(max(col("score_e6")).as("smax"))))
      .select(col("doc_id"), col("source"), col("score_e6"),
        // through DECIMAL(38,0): u32·smax and score·2^32 overflow raw
        // BIGINT once a bucket is ~2000× over-represented in the target
        (hashU32(col("doc_id")).cast(DecimalType(38, 0)) * col("smax") <
          col("score_e6").cast(DecimalType(38, 0)) * lit(4294967296L))
          .as("kept"))
  }

  def dsirSelectSql(target: String = "src0"): String =
    s"""WITH ws AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |), bg AS (
       |  SELECT doc_id, source,
       |         substr(md5(w[i + 1] || ' ' || w[i + 2]), 1, 2) AS bucket
       |  FROM (SELECT doc_id, source, w, unnest(range(len(w) - 1)) AS i
       |        FROM ws)
       |), buckets AS (SELECT printf('%02x', i) AS bucket FROM range(256) t(i)
       |), th AS (
       |  SELECT bucket, CAST(coalesce(c, 0) + 1 AS BIGINT) AS ct
       |  FROM buckets LEFT JOIN (
       |    SELECT bucket, count(*) AS c FROM bg
       |    WHERE source = '$target' GROUP BY bucket) USING (bucket)
       |), rh AS (
       |  SELECT bucket, CAST(coalesce(c, 0) + 1 AS BIGINT) AS cr
       |  FROM buckets LEFT JOIN (
       |    SELECT bucket, count(*) AS c FROM bg
       |    WHERE source <> '$target' GROUP BY bucket) USING (bucket)
       |), ratios AS (
       |  SELECT bucket,
       |         CAST(ct * CAST((SELECT sum(cr) FROM rh) AS BIGINT) * 1000000
       |           // (cr * CAST((SELECT sum(ct) FROM th) AS BIGINT))
       |           AS BIGINT) AS ratio_e6
       |  FROM th JOIN rh USING (bucket)
       |), scores AS (
       |  SELECT doc_id, source,
       |         CAST(sum(ratio_e6) // count(*) AS BIGINT) AS score_e6
       |  FROM bg JOIN ratios USING (bucket)
       |  WHERE source <> '$target'
       |  GROUP BY doc_id, source)
       |SELECT doc_id, source, score_e6,
       |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |              ::BIGINT AS HUGEINT)
       |         * (SELECT max(score_e6) FROM scores)
       |         < CAST(score_e6 AS HUGEINT) * 4294967296 AS kept
       |FROM scores""".stripMargin

  /** q262 — stratified sample with NEYMAN ALLOCATION (Neyman 1934): the
    * budget goes to strata in proportion to N_h·σ_h, not N_h — a stratum
    * that is large AND internally variable gets more of the sample, which
    * minimizes the variance of the stratified mean estimator at fixed total
    * n. The classic use in a training-data pipeline: audit-sampling a
    * quality metric where some sources are homogeneous (few samples suffice)
    * and others are wild (need many).
    *
    * Strata = customer.c_mktsegment, variable = c_acctbal in exact cents.
    * The whole allocation is bit-exact cross-engine by construction:
    * N_h·σ_h = √(N_h·Σx² − (Σx)²) — ONE integer square root of the exact
    * integer population-variance numerator (the ÷N_h² under the root cancels
    * against N_h²). The isqrt is computed as floor(sqrt(toDouble)) plus two
    * exact-integer correction steps (each fixes one ulp of sqrt error), so
    * w_h is the true ⌊N_h·σ_h⌋ for any w_h ≤ ~1.2e16 — 10^10 rows per
    * stratum at full-range balances; a third step would extend it.
    * Allocation is then pure integers: q0_h = total·w_h DIV Σw, spill by
    * largest remainder total·w_h − q0_h·Σw (ties by segment name — Hamilton
    * apportionment exactly as [[stratifiedSample]], so Σ quotas == total by
    * construction). Moment products run in DECIMAL(38,0)/HUGEINT.
    *
    * Within a stratum membership is the deterministic md5-variate rank
    * ([[hashU32]]) — re-runs and re-ingests pick the same customers. Σ
    * quotas == total by construction; a quota larger than a tiny stratum's
    * population realizes as the whole stratum (plain Neyman — at any real
    * budget ≪ N the cap never binds; the box-constrained reallocation
    * variant would iterate the allocation over the uncapped strata).
    *
    * Plan: one scan → 5-row moment aggregate → driver-free miniature window
    * for the spill → broadcast quotas onto the per-segment rank, which
    * rides [[OffsetPrefix.ordinal]] (the [[stratifiedSample]]
    * discipline; salt a mega-stratum via [[graft.operators.Skew]] at
    * 100 TB). */
  def neymanSample(spark: SparkSession, dir: String,
                   total: Long = 200L): DataFrame = {
    val dec = DecimalType(38, 0)
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        Rfm.cents(col("c_acctbal")).as("x"))
    val moments = cust.groupBy(col("segment")).agg(
      count(lit(1)).as("nh"),
      sum(col("x")).as("sx"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"))
    val s2 = moments.withColumn("s2num",
      col("nh").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx").cast(dec))
    // the correction squares run in DECIMAL(38,0) — squaring in LongType
    // first would overflow past w_h ≈ 3.04e9 (sf1 territory; an ANSI
    // throw here, a silent wrap with ANSI off) while the DuckDB oracle's
    // HUGEINT chain stays exact
    def sq(c: Column): Column = c.cast(dec) * c.cast(dec)
    val isqrt = s2
      .withColumn("r0", floor(sqrt(col("s2num").cast(DoubleType))).cast(LongType))
      .withColumn("r1", col("r0")
        + when(sq(col("r0") + 1) <= col("s2num"), 1L)
          .when(sq(col("r0")) > col("s2num"), -1L)
          .otherwise(0L))
      .withColumn("w_h", col("r1")
        + when(sq(col("r1") + 1) <= col("s2num"), 1L)
          .when(sq(col("r1")) > col("s2num"), -1L)
          .otherwise(0L))
      .select(col("segment"), col("nh"), col("w_h"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy((col("w_eff").cast(dec) * lit(total) -
        col("q0").cast(dec) * col("sw_eff").cast(dec)).desc, col("segment"))
    val quotas = isqrt
      .withColumn("sw", sum(col("w_h")).over(wAll))
      .withColumn("sn", sum(col("nh")).over(wAll))
      // degenerate guard (round-9 ADVICE): if EVERY stratum has zero
      // internal variance, all w_h = 0 and q0's divisor vanishes — fall
      // back to proportional allocation (Neyman with equal variances IS
      // proportional) instead of an ANSI divide-by-zero; the oracle
      // mirrors the same CASE, so both engines stay defined
      .withColumn("w_eff", when(col("sw") === 0, col("nh")).otherwise(col("w_h")))
      .withColumn("sw_eff", when(col("sw") === 0, col("sn")).otherwise(col("sw")))
      .withColumn("q0",
        expr(s"(cast(w_eff as decimal(38,0)) * $total) div cast(sw_eff as decimal(38,0))"))
      .withColumn("spill", lit(total) - sum(col("q0")).over(wAll))
      .withColumn("spill_rank", row_number().over(wRem).cast(LongType))
      .select(col("segment"), col("w_h"),
        (col("q0") + when(col("spill_rank") <= col("spill"), 1L)
          .otherwise(0L)).as("quota"))
    // the per-segment rank rides OffsetPrefix.ordinal — `segment` has 5
    // values, so a Window.partitionBy(segment) would serialize
    // customers/5 rows into one task per group (the q268/q62/q75 trap)
    OffsetPrefix.ordinal(
      cust.select(col("c_custkey"), col("segment"),
        hashU32(col("c_custkey")).as("u32")),
      "segment", Seq("u32", "c_custkey"))
      .withColumn("rk", col("__ord"))
      .join(broadcast(quotas), Seq("segment"))
      .filter(col("rk") <= col("quota"))
      .select(col("c_custkey"), col("segment"), col("rk"), col("quota"),
        col("w_h"))
  }

  /** [[neymanSample]]'s oracle: the identical exact-integer allocation in
    * DuckDB (HUGEINT moments, two-step isqrt correction, Hamilton spill). */
  def neymanSampleSql(total: Long = 200L): String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_mktsegment AS segment,
       |         CAST(round(c_acctbal * 100) AS BIGINT) AS x
       |  FROM customer
       |), m AS (
       |  SELECT segment, count(*) AS nh, sum(x) AS sx,
       |         sum(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM cust GROUP BY segment
       |), s2 AS (
       |  SELECT segment, nh,
       |         CAST(nh AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS s2num
       |  FROM m
       |), r0 AS (
       |  SELECT segment, nh, s2num,
       |         CAST(floor(sqrt(CAST(s2num AS DOUBLE))) AS BIGINT) AS r
       |  FROM s2
       |), r1 AS (
       |  SELECT segment, nh, s2num,
       |         r + CASE WHEN CAST(r + 1 AS HUGEINT) * (r + 1) <= s2num THEN 1
       |                  WHEN CAST(r AS HUGEINT) * r > s2num THEN -1
       |                  ELSE 0 END AS r
       |  FROM r0
       |), w AS (
       |  SELECT segment, nh,
       |         r + CASE WHEN CAST(r + 1 AS HUGEINT) * (r + 1) <= s2num THEN 1
       |                  WHEN CAST(r AS HUGEINT) * r > s2num THEN -1
       |                  ELSE 0 END AS w_h
       |  FROM r1
       |), base AS (
       |  SELECT segment, w_h,
       |         CASE WHEN (SELECT sum(w_h) FROM w) = 0 THEN nh
       |              ELSE w_h END AS w_eff,
       |         CASE WHEN (SELECT sum(w_h) FROM w) = 0 THEN (SELECT sum(nh) FROM w)
       |              ELSE (SELECT sum(w_h) FROM w) END AS sw_eff
       |  FROM w
       |), base2 AS (
       |  SELECT segment, w_h, w_eff, sw_eff,
       |         CAST(CAST(w_eff AS HUGEINT) * $total // sw_eff AS BIGINT) AS q0
       |  FROM base
       |), quotas AS (
       |  SELECT segment, w_h,
       |         q0 + CASE WHEN row_number() OVER (
       |                ORDER BY CAST(w_eff AS HUGEINT) * $total
       |                         - CAST(q0 AS HUGEINT) * sw_eff DESC, segment)
       |              <= $total - (SELECT sum(q0) FROM base2) THEN 1
       |              ELSE 0 END AS quota
       |  FROM base2
       |), ranked AS (
       |  SELECT c_custkey, segment,
       |         CAST(row_number() OVER (PARTITION BY segment
       |           ORDER BY ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT,
       |                    c_custkey) AS BIGINT) AS rk
       |  FROM cust
       |)
       |SELECT r.c_custkey, r.segment, r.rk, CAST(q.quota AS BIGINT) AS quota,
       |       q.w_h
       |FROM ranked r JOIN quotas q ON r.segment = q.segment
       |WHERE r.rk <= q.quota""".stripMargin
}
