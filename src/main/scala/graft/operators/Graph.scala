package graft.operators

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Iterative graph analytics on the star schema: PageRank over the
  * bipartite customer↔part purchase graph (edges from lineitem⋈orders,
  * reversed duplicates make the graph undirected so rank mass circulates).
  *
  * Determinism strategy: ranks are FIXED-POINT LONGS (1e12 = rank 1.0) and
  * every update is an integer chain — `contrib = rank div degree`,
  * `rank' = 0.15·R0 + (0.85 · Σ contrib)` as `150e9 + (sum·85) div 100` —
  * so partial-aggregation order cannot move a bit and the DuckDB oracle
  * (same chain, unrolled CTEs) hash-matches exactly. A double-typed
  * PageRank would be order-dependent under Spark's parallel sum.
  *
  * Scale shape: the edge list is built once (one join + distinct) and
  * reused by every iteration; each iteration is ONE shuffle (groupBy dst)
  * joined against the vocabulary-sized degree table. Iterations are
  * unrolled into the plan (fixed count, no driver loop state); for
  * convergence-driven runs the dedupClusters pattern (iterate +
  * localCheckpoint) applies unchanged.
  */
object Graph {

  private val R0 = 1000000000000L // fixed-point 1.0
  private val Teleport = R0 * 15 / 100

  /** Distinct undirected (as two directed) edges custkey↔partkey, node ids
    * disjointified: customer c → 2c, part p → 2p+1.
    *
    * Cached via [[graft.CacheRegistry]]: every iteration references the
    * edge list and Catalyst re-inlines uncached lineage per reference —
    * without the barrier the 3-iteration plan held 122 parquet scans (the
    * join + distinct re-ran once per reference); with it, one. Cached
    * PRE-PARTITIONED on `src` (the [[bfsHops]] discipline): every
    * iteration joins edges on src against rank/degree tables that arrive
    * hash-partitioned on the same key from their own aggregates, so no
    * round re-shuffles the 2m-row edge list — the per-iteration exchange
    * is only the dst-keyed contribution aggregate. At cluster scale the
    * equivalent artifact is the edge table persisted bucketed by src. */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"graph-edges:$dir") {
      val pairs = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_partkey") * 2 + 1).as("p"))
        .distinct()
      pairs.select(col("c").as("src"), col("p").as("dst"))
        .unionAll(pairs.select(col("p").as("src"), col("c").as("dst")))
        .repartition(col("src"))
    }

  /** q95 — 3 fixed iterations of integer PageRank; returns (node, rank_e12)
    * for every node. */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val e = edges(spark, dir)
    // degree table is node-sized and referenced by every iteration — same
    // re-inlining hazard as the edge list, same cure
    val deg = graft.CacheRegistry.cached(spark, s"graph-deg:$dir")(
      e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    var ranks = deg.select(col("src").as("node"), lit(R0).as("r"))
    for (_ <- 1 to iters) {
      ranks = e.join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(Teleport) + expr("(s * 85) div 100")).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_e12"))
  }

  /** The integer-PageRank update chain unrolled to `iters` CTE rounds —
    * q95's oracle at 3, and q129's at the CAPTURED convergence round count
    * (the literal-constant mechanism applied to a loop-control scalar). */
  def pagerankUnrolledSql(iters: Int): String = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def iter(k: Int): String =
      s"""it$k AS (
         |  SELECT e.dst AS node,
         |         150000000000 + (CAST(sum(r.r // d.d) AS BIGINT) * 85) // 100 AS r
         |  FROM edges e JOIN deg d ON e.src = d.src
         |  JOIN it${k - 1} r ON e.src = r.node
         |  GROUP BY e.dst
         |)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_partkey * 2 + 1 AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT c AS src, p AS dst FROM pairs
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM pairs
       |), deg AS (
       |  SELECT src, count(*) AS d FROM edges GROUP BY src
       |), it0 AS (
       |  SELECT src AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg
       |), ${(1 to iters).map(iter).mkString(", ")}
       |SELECT node, r AS rank_e12 FROM it$iters""".stripMargin
  }

  val pagerankSql: String = pagerankUnrolledSql(3)

  /** Convergence-driven PageRank — the production loop shape next to the
    * fixed-unroll contract query ([[pagerank]]): the SAME integer update
    * chain, iterated until the largest per-node rank movement drops to
    * `tolE12` fixed-point units (or `maxIters`, the runaway guard), with
    * a `localCheckpoint` lineage cut per round — the
    * [[graft.operators.Dedup]] connected-components discipline; without
    * the cut each round's plan embeds the previous round's and planning
    * cost compounds. A convergence loop necessarily takes one driver-side
    * decision (a scalar max-delta) per round — that is the loop control,
    * not a data collect; the rank table itself never leaves executors.
    *
    * Returns (ranks, iterations-run). Because the update chain is
    * bit-identical, the result after k rounds equals [[pagerank]] with
    * `iters = k` exactly — GraphSpec pins this. */
  def pagerankConverged(spark: SparkSession, dir: String,
                        tolE12: Long = 1000000L,
                        maxIters: Int = 20): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(tolE12 >= 0, s"tolE12 must be >= 0, got $tolE12")
    val e = edges(spark, dir)
    val deg = graft.CacheRegistry.cached(spark, s"graph-deg:$dir")(
      e.groupBy(col("src")).agg(count(lit(1)).as("d")))
    var ranks = deg.select(col("src").as("node"), lit(R0).as("r"))
      .localCheckpoint(true)
    var it = 0
    var delta = Long.MaxValue
    // do-while shape: the first round always runs (delta is only defined
    // once two consecutive rank vectors exist)
    while (it < maxIters && (it == 0 || delta > tolE12)) {
      val next = e.join(deg, "src")
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (lit(Teleport) + expr("(s * 85) div 100")).as("r"))
        .localCheckpoint(true)
      // undirected graph: every node has in- and out-edges, so the node
      // sets match and an inner join sees every node
      val d = next.toDF("node", "r2").join(ranks, "node")
        .agg(max(abs(col("r2") - col("r")))).head()
      delta = if (d.isNullAt(0)) 0L else d.getLong(0)
      // the superseded round's checkpointed blocks are dead once delta is
      // computed — without this, up to maxIters rank tables stay cached
      // for the session lifetime (the FINAL table stays live for the caller)
      releaseLocalCheckpoint(ranks)
      ranks = next
      it += 1
    }
    (ranks.select(col("node"), col("r").as("rank_e12")), it)
  }

  /** q129 — convergence-driven PageRank as a contract query (round 6):
    * runs [[pagerankConverged]] with the contract tolerance and captures
    * the round count it actually took; the oracle is the SAME integer
    * update chain unrolled to exactly that many CTE rounds
    * ([[pagerankUnrolledSql]]), so DuckDB re-derives the full fixed point
    * independently — the loop CONTROL (when to stop) is the captured
    * constant, the loop BODY is genuinely cross-checked end to end.
    * Result + round count are session-cached: the converged rank table is
    * a localCheckpointed miniature and the loop must not re-run per
    * Bench sample. */
  def pagerankConvergedQuery(spark: SparkSession, dir: String): DataFrame = {
    val (ranks, it) = graft.CacheRegistry.memo(spark,
      s"pagerank-converged:$ContractTolE12:$ContractMaxIters:$dir")(
      pagerankConverged(spark, dir, ContractTolE12, ContractMaxIters))
    capturedPrIters.put(dir, (ContractTolE12, ContractMaxIters), it)
    ranks
  }

  /** Contract tolerance: max per-node movement ≤ 0.05 unit ranks. Chosen
    * from the measured trajectory (hub deltas start near 0.5·R0 and decay
    * ×0.85/round, crossing 5e10 near round 16) so the TOLERANCE genuinely
    * stops the loop inside the maxIters=20 guard — with a tight tolerance
    * the guard would always bind and the query would demonstrate a fixed
    * unroll, not convergence control. The stop round is data-dependent,
    * which is exactly what the captured-k oracle mechanism handles. */
  private val ContractTolE12 = 50000000000L
  private val ContractMaxIters = 20
  private val capturedPrIters =
    new graft.OracleCapture.Captured[(Long, Int), Int]

  /** q129's oracle entry, buildable once the convergence loop has run this
    * session on the harness's pinned dir. */
  def oracleEntries: Map[String, String] =
    capturedPrIters.get((ContractTolE12, ContractMaxIters))
      .map(k => "q129_pagerank_converged" -> pagerankUnrolledSql(k)).toMap ++
    capturedKCoreRounds.get((KCoreK, KCoreMaxRounds))
      .map(r => "q209_kcore" -> kCoreSql(KCoreK, r)).toMap

  /** Unpersist the RDD behind a `localCheckpoint(true)`-produced frame.
    * `Dataset.unpersist` cannot do this (the checkpoint persists the RDD
    * directly, not through the cache manager), so walk to the `LogicalRDD`
    * leaf and release its blocks. Non-blocking: late readers of an
    * in-flight block still succeed. */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Distinct (order, part) basket rows, optionally capped at `maxBasket`
    * parts per order. The per-order pair build downstream is quadratic in
    * basket size — bounded (≤7) on TPC-H-shaped data but quadratic on a
    * 10k-item hot basket — so production runs set a cap; the contract
    * queries run uncapped so the DuckDB oracle stays exact (same
    * documented pattern as the q31 `maxDf` stop-shingle cap). The cap
    * keeps the `maxBasket` smallest partkeys per order: deterministic,
    * and a windowed rank over the order key — one shuffle, no skew (the
    * window key IS the hot key being bounded, and each order's group is
    * streamed, not materialized). */
  private[graft] def cappedBaskets(l: DataFrame, maxBasket: Int): DataFrame = {
    require(maxBasket >= 2, s"maxBasket must be >= 2, got $maxBasket")
    if (maxBasket == Int.MaxValue) l
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ok")).orderBy(col("pk"))
      l.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= maxBasket).drop("rn")
    }
  }

  /** Distinct ordered co-purchase edges (u < v by id): two parts are
    * connected when some order contains both. Session-cached like
    * [[edges]] — the triangle join references it three times. */
  private[graft] def copurchaseEdges(spark: SparkSession, dir: String,
                                     maxBasket: Int = Int.MaxValue): DataFrame =
    graft.CacheRegistry.cached(spark, s"copurchase-edges:$dir:$maxBasket") {
      // pre-dedup (order, part): d duplicate lines per pair would emit d²
      // join copies the trailing distinct then has to collapse
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      copurchasePairs(cappedBaskets(l, maxBasket))
    }

  /** The per-order pair build from a distinct (ok, pk) basket table:
    * self-join per order, id-ordered (u < v), distinct across orders. */
  private[graft] def copurchasePairs(l: DataFrame): DataFrame =
    l.toDF("ok", "u").join(l.toDF("ok", "v"), Seq("ok"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"))
      .distinct()

  /** Degree-orientation of an undirected edge list: each edge {a,b}
    * directed from the endpoint with the smaller (degree, id) key to the
    * larger, carrying the dst endpoint's (degree, id) so the wedge join
    * can order out-neighborhoods without re-joining degrees.
    *
    * Why: wedges are enumerated per node over its OUT-neighborhood, so
    * per-node fan-out is C(outdeg, 2). Under (degree, id) orientation a
    * hub's edges all point INTO it (every neighbor has smaller degree),
    * so outdeg is bounded by O(√m) and total wedge volume by O(m^1.5) —
    * the arboricity bound — even on power-law graphs where id-orientation
    * would make one hub emit O(d²) wedge rows. Degrees are computed from
    * the edge list itself (one aggregate over both endpoints), then
    * joined onto each edge — two shuffles total, amortized by the cache. */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val srcFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .select(
        when(srcFirst, col("u")).otherwise(col("v")).as("src"),
        when(srcFirst, col("v")).otherwise(col("u")).as("dst"),
        when(srcFirst, col("dv")).otherwise(col("du")).as("dd"))
  }

  /** Degree-oriented wedge candidates (a, b, c) with b ≺ c in the
    * (degree, id) order: for each node a, all ordered pairs of its
    * out-neighbors. Every triangle a ≺ b ≺ c is generated exactly once,
    * as the wedge at its minimum corner. */
  private[graft] def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.select(col("src").as("a"), col("dst").as("b"), col("dd").as("db"))
      .join(oriented.select(col("src").as("a"), col("dst").as("c"),
        col("dd").as("dc")), Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))

  /** Triangle participation per node over an undirected (u < v by id)
    * edge list — the degree-oriented wedge algorithm shared by the spec
    * harness and [[triangleCounts]]. */
  private[graft] def triangleCountsFromEdges(e: DataFrame): DataFrame = {
    val oriented = orientByDegree(e)
    triangleCountsFromOriented(oriented, closingBloom(oriented))
  }

  /** Bloom filter over the closing-edge keys `xxhash64(src, dst)` of an
    * oriented edge list, broadcast (~1.5 MB at sf0.1). Two Spark jobs:
    * an exact count for sizing, then the sketch aggregation. */
  private def closingBloom(oriented: DataFrame) = {
    val keyed = oriented.select(xxhash64(col("src"), col("dst")).as("k"))
    val nEdges = math.max(keyed.count(), 1L)
    oriented.sparkSession.sparkContext.broadcast(
      keyed.stat.bloomFilter("k", nEdges, 0.01))
  }

  private def triangleCountsFromOriented(oriented: DataFrame,
      bloomBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    // Bloom semi-join reduction AHEAD of the closing-join exchange: only
    // wedges whose closing edge exists matter, and that survival rate is
    // tiny (sf0.1: 1.88 M of 41 M wedges, 4.6%). A Bloom filter over the
    // m closing-edge keys (xxhash64(src,dst); ~1.5 MB at 1% fpp) is built
    // once from the CACHED oriented edges and broadcast; probing it in the
    // wedge-producing stage drops ~95% of the m^1.5-sized wedge stream
    // MAP-SIDE, so the closing exchange moves ~2 M rows instead of 41 M.
    // False positives only pass extra rows into the exact equi-join below —
    // correctness never depends on the Bloom. This is the standard runtime-
    // filter pattern a 100 TB join wants (and what AQE's bloom injection
    // would do if its heuristics covered self-joins).
    // probe via the library's codegen'd broadcast-Bloom expression
    // (round 15, guide step-2 per-task work): the previous Scala UDF ran
    // once per WEDGE — the m^1.5-sized stream — outside codegen with a
    // Long boxing per row. Same broadcast sketch, same mightContainLong
    // semantics — the pair set is unchanged; see
    // [[graft.functions.SketchExprs.BloomMightContainBc]] for why the
    // engine's own literal-based might_contain was not used.
    val mightClose = (k: org.apache.spark.sql.Column) =>
      graft.functions.SketchExprs.bloom_might_contain_bc(k, bloomBc)
    // closing edge b—c with b ≺ c: if present it is oriented b→c, so one
    // equi-join on both endpoints confirms the triangle. The edge side
    // carries a shuffle_hash hint: a sort-merge join would SORT the wedge
    // stream — the m^1.5-sized side — while a shuffled hash join builds a
    // per-partition map of the m-sized edge side (m/P rows per partition;
    // P sizes the build memory) and streams the (bloom-thinned) wedges
    // through it. Measured 1.9x at sf0.1 (4.6 s → 2.4 s) before the Bloom.
    // The m-vs-m wedge self-join above stays sort-merge: both its sides
    // are edge-sized, so the sort is cheap and SMJ spills more gracefully
    val tri = orientedWedges(oriented)
      .filter(mightClose(xxhash64(col("b"), col("c"))))
      .join(oriented.select(col("src").as("b"), col("dst").as("c"))
        .hint("shuffle_hash"),
        Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** q115 — triangle participation per part over the co-purchase graph:
    * for every part, the number of part-triangles it closes (the local
    * clustering-coefficient numerator — "parts whose co-purchase
    * neighborhoods are themselves co-purchased", the basket-affinity
    * signal).
    *
    * Shape: edges are oriented by (DEGREE, id), low→high, so the wedge
    * join enumerates each candidate triangle once at its minimum-degree
    * corner and the closing join confirms it — three shuffles on edge
    * keys, per-node wedge fan-out bounded by O(√m) out-degree even with
    * power-law hubs (see [[orientByDegree]]; GraphSpec plants a hub and
    * pins the bound). The result is orientation-invariant, so the oracle
    * mirrors the simpler id-oriented enumeration. The per-order pair
    * build is bounded by lines-per-order² — the natural basket size here;
    * hot-basket data sets [[cappedBaskets]]' `maxBasket`.
    *
    * The ORIENTED edge list is the session-cached artifact (not just the
    * undirected one): the wedge join references it three times, and an
    * uncached orientation would recompute its degree join per reference. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    val oriented = graft.CacheRegistry.cached(spark,
      s"copurchase-oriented:$dir")(orientByDegree(copurchaseEdges(spark, dir)))
    // the Bloom is built once per session from the CACHED oriented edges,
    // like the cache itself — not per Bench/Verify invocation
    triangleCountsFromOriented(oriented, graft.CacheRegistry.memo(spark,
      s"copurchase-closing-bloom:$dir")(closingBloom(oriented)))
  }

  /** q122 — bounded-hop BFS over the co-purchase graph: shortest hop count
    * (≤ `maxHops`) from the seed set (parts with partkey % 100 == 0) to
    * every reachable part. The iterative-min complement of [[pagerank]]'s
    * iterative-sum: each unrolled round expands the frontier through the
    * edge list and re-aggregates with `min` — monotone, so re-expanding
    * already-settled nodes is harmless and the unrolled plan needs no
    * frontier bookkeeping. All-integer → oracle-exact.
    *
    * Scale shape: per round, one join dist ⋈ edges (both sides keyed on
    * the node) + one min-aggregate; the settled-distance table is the only
    * state. The same unrolled-iteration discipline as q95 — and like q95
    * the edge list is the session-cached artifact. */
  /** Undirected co-purchase edges cached PRE-PARTITIONED on src: every
    * frontier round (BFS hops, random-walk steps) joins on src, and the
    * frontier side arrives hash-partitioned on the same key from its own
    * aggregate — so no round re-shuffles the edge list (the production
    * layout is the same table bucketed by src). Shared by q122/q206. */
  private[graft] def undirectedCopurchase(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"copurchase-und:$dir") {
      val e = copurchaseEdges(spark, dir)
      e.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("src"))
    }

  /** SQL twin of [[copurchaseEdges]] (uncapped): distinct (u, v) part
    * pairs, u < v, bought in one order. */
  private val coPurchasePairsSql: String =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin

  /** Both directions of each `pairs(u, v)` row as (src, dst). */
  private val bothWaysSql: String =
    """SELECT u AS src, v AS dst FROM pairs
      |  UNION ALL
      |  SELECT v AS src, u AS dst FROM pairs""".stripMargin

  /** `pairs` and `e(src, dst)`: the SQL twin of [[undirectedCopurchase]]. */
  private val coPurchaseEdgeCtes: String =
    s"""pairs AS (
       |  $coPurchasePairsSql
       |), e AS (
       |  $bothWaysSql
       |)""".stripMargin

  def bfsHops(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val und = undirectedCopurchase(spark, dir)
    val nodes = und.select(col("src").as("node")).distinct()
    var dist = nodes.filter(col("node") % 100 === 0)
      .select(col("node"), lit(0L).as("d"))
    for (h <- 1 to maxHops) {
      // lineage cut per round ([[Dedup.connectedComponents]] discipline):
      // each round references `dist` twice, so an uncut plan doubles per
      // hop — the cut plus the pre-partitioned edge cache took q122 from
      // 7.7 s to 1.7 s at sf0.1
      dist = dist
        .unionAll(dist.join(und, col("node") === col("src"))
          .select(col("dst").as("node"), lit(h.toLong).as("d")))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist.select(col("node").as("part"), col("d").as("hops"))
  }

  def bfsHopsSql(maxHops: Int = 3): String = {
    // maxHops = 0 would render a dangling comma after d0 (invalid SQL)
    // while the Spark side returns a valid seeds-only frame
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val rounds = (1 to maxHops).map { h =>
      s"""d$h AS (
         |  SELECT node, min(d) AS d FROM (
         |    SELECT node, d FROM d${h - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, $h AS d
         |    FROM d${h - 1} p JOIN e ON p.node = e.src)
         |  GROUP BY node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $coPurchaseEdgeCtes, d0 AS (
       |  SELECT DISTINCT src AS node, 0 AS d FROM e WHERE src % 100 = 0
       |), $rounds
       |SELECT node AS part, CAST(d AS BIGINT) AS hops FROM d$maxHops""".stripMargin
  }

  /** q206 — deterministic random-walk corpus generation (the DeepWalk/
    * node2vec input stage: walks over the co-purchase graph become the
    * "sentences" a graph-embedding trainer consumes). Every step is
    * content-addressed, never `rand()`: from node `u` at step `h` of walk
    * `w`, the next node is the `(md5(w:h) mod deg(u))`-th neighbor in
    * ascending order — the q44/q48 portable md5 basis, so the DuckDB
    * oracle replays every hop exactly and the full walk strings hash-match.
    *
    * Scale shape: neighbors are ranked ONCE (`row_number` partitioned by
    * src — degree-bounded per group, parallel across nodes) and cached
    * pre-partitioned on src next to the q122 edge cache; each step is two
    * equi-joins — frontier⋈degree (compute the index) then
    * frontier⋈ranked-edges on (src, rank) — never an index-in-filter scan
    * of all deg(u) candidates. Per-step cost is one BFS-expansion round;
    * walk count scales with seeds, walk length with the fixed step count.
    * Dead ends cannot occur: the undirected edge set gives every seed and
    * every reached node at least one neighbor. */
  def randomWalks(spark: SparkSession, dir: String, steps: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = undirectedCopurchase(spark, dir)
    val ranked = graft.CacheRegistry.cached(spark, s"copurchase-ranked:$dir") {
      val w = Window.partitionBy(col("src")).orderBy(col("dst"))
      und.select(col("src"), col("dst"),
        (row_number().over(w) - 1).cast(LongType).as("rk"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("deg"))
        .repartition(col("src"))
    }
    var walks = und.select(col("src")).distinct()
      .filter(col("src") % 100 === 0)
      .select(col("src").as("walk_id"), col("src").as("cur"),
        col("src").cast(org.apache.spark.sql.types.StringType).as("path"))
    for (h <- 1 to steps) {
      // ONE equi-join per step (round 15, guide §2.4): `ranked` already
      // carries deg on every row, so the old separate frontier⋈degrees
      // join (computing the md5 index before probing ranked) was a
      // second shuffle per step for a value the probed row itself
      // holds. The chosen-neighbor predicate `rk = md5(walk:h) % deg`
      // rides the src equi-join as its residual condition: deg is
      // constant within a src group, so exactly the same single row
      // matches — results identical, joins per step halved (8 → 4).
      val idx = conv(substring(md5(concat(
        col("walk_id").cast(org.apache.spark.sql.types.StringType),
        lit(s":$h"))), 1, 8), 16, 10).cast(LongType) % col("deg")
      walks = walks
        .join(ranked, col("cur") === ranked("src") && col("rk") === idx)
        .select(col("walk_id"), col("dst").as("cur"),
          concat(col("path"), lit("->"),
            col("dst").cast(org.apache.spark.sql.types.StringType)).as("path"))
    }
    walks.select(col("walk_id"), col("path"), col("cur").as("end_node"))
  }

  def randomWalksSql(steps: Int = 4): String = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val rounds = (1 to steps).map { h =>
      s"""w$h AS (
         |  SELECT w.walk_id, r.dst AS cur, w.path || '->' || r.dst AS path
         |  FROM w${h - 1} w
         |  JOIN deg d ON w.cur = d.src
         |  JOIN ranked r ON r.src = w.cur
         |    AND r.rk = ('0x' || substr(md5(w.walk_id::VARCHAR || ':$h'),
         |                              1, 8))::BIGINT % d.deg
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $coPurchaseEdgeCtes, ranked AS (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
       |              AS BIGINT) AS rk,
       |         count(*) OVER (PARTITION BY src) AS deg
       |  FROM e
       |), deg AS (
       |  SELECT src, max(deg) AS deg FROM ranked GROUP BY src
       |), w0 AS (
       |  SELECT src AS walk_id, src AS cur, src::VARCHAR AS path
       |  FROM (SELECT DISTINCT src FROM e WHERE src % 100 = 0)
       |), $rounds
       |SELECT walk_id, path, cur AS end_node FROM w$steps""".stripMargin
  }

  /** q117 — association rules over baskets (market-basket affinity): for
    * every ordered part pair {u < v} co-purchased in ≥ `minSupport`
    * orders, the support count, both directional confidences, and lift —
    * all in exact parts-per-million (ppm) of integer counts, so the
    * oracle is hash-exact with no float drift.
    *
    *   supp(u,v) = |orders ∋ both| ;  conf(u→v) = supp/|orders ∋ u| ;
    *   lift = supp·N / (|∋u|·|∋v|)   (ppm-scaled, floor)
    *
    * Plan: the pair build is per-order (bounded by basket²), the
    * per-part order counts are a broadcast dimension, and the ppm math is
    * a narrow projection — one shuffle for pair counts, one for part
    * counts. Exactness: every ppm is an INTEGER floor-division — the
    * confidences on longs (supp·10⁶ < 2⁶³ at any real scale), the lift
    * through DECIMAL(38,0) so supp·N·10⁶ cannot overflow even at 10⁹
    * orders — and the oracle mirrors with DuckDB `//` on HUGEINT, so
    * both sides are exact-floor at every scale, no double rounding. */
  /** q189 — BASKET LOOKALIKES for the top accounts: for each of the 100
    * highest-revenue customers, the 3 nearest neighbors among ALL
    * customers by purchase-basket Jaccard (distinct-part sets, exact
    * ppm) — the "find customers like these accounts" retrieval a
    * marketing/recommendation pipeline runs for a seed list, and the
    * BASKET-side twin of q117's part-pair rules.
    *
    * Query-side restriction is the scale design, not a shortcut: the
    * all-pairs form is Σ df² candidate rows (measured 15 s at sf0.1 —
    * uniform TPC-H-ish baskets make every part a collider), while the
    * seed-anchored form is Σ_{parts of 100 seeds} df — the q136
    * hard-negative-mining asymmetry: seed baskets BROADCAST, the corpus
    * index streams once. The per-seed top-3 window orders only that
    * seed's candidate list. Seeds are revenue-ranked with exact-cents
    * (revenue desc, custkey) ordering, so the seed set is deterministic. */
  def similarCustomers(spark: SparkSession, dir: String, k: Int = 3,
                       nSeeds: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baskets = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
    val sizes = baskets.groupBy(col("ck")).agg(count(lit(1)).as("n"))
    val seeds = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(Rfm.cents(col("o_totalprice"))).as("rev"))
      .orderBy(col("rev").desc, col("o_custkey"))
      .limit(nSeeds)
      .select(col("o_custkey").as("ck"))
    val seedBaskets = baskets.join(seeds, Seq("ck"))
      .select(col("ck").as("a"), col("pk"))
    val pairs = broadcast(seedBaskets)
      .join(baskets.toDF("b", "pk"), Seq("pk"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("jaccard_ppm").desc, col("b"))
    pairs
      .join(broadcast(sizes.toDF("a", "na")), Seq("a"))
      .join(sizes.toDF("b", "nb"), Seq("b"))
      .withColumn("jaccard_ppm",
        expr("shared * 1000000 DIV (na + nb - shared)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("a").as("custkey"), col("rk").cast(LongType).as("rk"),
        col("b").as("neighbor"), col("shared"), col("jaccard_ppm"))
  }

  def similarCustomersSql(k: Int = 3, nSeeds: Int = 100): String =
    s"""WITH baskets AS (
       |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), sizes AS (
       |  SELECT ck, count(*) AS n FROM baskets GROUP BY ck
       |), seeds AS (
       |  SELECT o_custkey AS ck
       |  FROM orders
       |  GROUP BY o_custkey
       |  ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) DESC,
       |           o_custkey
       |  LIMIT $nSeeds
       |), pairs AS (
       |  SELECT x.ck AS a, y.ck AS b, count(*) AS shared
       |  FROM baskets x
       |  JOIN seeds s ON s.ck = x.ck
       |  JOIN baskets y ON x.pk = y.pk AND x.ck <> y.ck
       |  GROUP BY x.ck, y.ck
       |), scored AS (
       |  SELECT p.a, p.b, p.shared,
       |         p.shared * 1000000 // (sa.n + sb.n - p.shared) AS jaccard_ppm
       |  FROM pairs p
       |  JOIN sizes sa ON sa.ck = p.a
       |  JOIN sizes sb ON sb.ck = p.b
       |), ranked AS (
       |  SELECT a, b, shared, jaccard_ppm,
       |         row_number() OVER (PARTITION BY a
       |                            ORDER BY jaccard_ppm DESC, b) AS rk
       |  FROM scored)
       |SELECT a AS custkey, CAST(rk AS BIGINT) AS rk, b AS neighbor,
       |       CAST(shared AS BIGINT) AS shared,
       |       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm
       |FROM ranked WHERE rk <= $k""".stripMargin

  def associationRules(spark: SparkSession, dir: String,
                       minSupport: Long = 3L): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val orderCount = l.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val pairs = l.toDF("ok", "u").join(l.toDF("ok", "v"), Seq("ok"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
    pairs
      .join(broadcast(orderCount.toDF("u", "nu")), Seq("u"))
      .join(broadcast(orderCount.toDF("v", "nv")), Seq("v"))
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("supp"),
        expr("(supp * 1000000L) div nu").as("conf_uv_ppm"),
        expr("(supp * 1000000L) div nv").as("conf_vu_ppm"),
        expr("""(CAST(supp AS DECIMAL(38,0)) * n_orders * 1000000)
                div (CAST(nu AS DECIMAL(38,0)) * nv)""").as("lift_ppm"))
  }

  def associationRulesSql(minSupport: Long = 3L): String =
    s"""WITH l AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), oc AS (
       |  SELECT pk, count(*) AS n FROM l GROUP BY pk
       |), tot AS (SELECT count(*) AS n_orders FROM orders),
       |pairs AS (
       |  SELECT a.pk AS u, b.pk AS v, count(*) AS supp
       |  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |)
       |SELECT u, v, supp,
       |       supp * 1000000 // nu.n AS conf_uv_ppm,
       |       supp * 1000000 // nv.n AS conf_vu_ppm,
       |       CAST(CAST(supp AS HUGEINT) * n_orders * 1000000
       |            // (CAST(nu.n AS HUGEINT) * nv.n) AS BIGINT) AS lift_ppm
       |FROM pairs
       |JOIN oc nu ON pairs.u = nu.pk
       |JOIN oc nv ON pairs.v = nv.pk, tot""".stripMargin

  val triangleCountsSql: String =
    s"""WITH e AS (
       |  $coPurchasePairsSql
       |), tri AS (
       |  SELECT e1.u, e1.v, e2.v AS w
       |  FROM e e1 JOIN e e2 ON e1.v = e2.u
       |  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
       |), corners AS (
       |  SELECT u AS part FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri
       |)
       |SELECT part, count(*) AS n_triangles FROM corners GROUP BY part""".stripMargin

  /** q165 — SYNCHRONOUS label-propagation communities (LPA) on the
    * co-purchase graph: labels start as node ids; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties to the
    * smallest label; `rounds` fixed rounds unroll into the plan (the q95
    * discipline — no driver loop state; convergence-driven runs would use
    * the q129 capture mechanism unchanged). Fully deterministic — the
    * classic LPA instability comes from asynchronous updates and random
    * tie-breaks, both replaced here by the synchronous round + (count
    * desc, label asc) argmax, which is also what makes the unrolled-CTE
    * oracle possible.
    *
    * Scale: per round ONE (node, label) aggregate over the edge-joined
    * frontier and a struct-argmax — both partitioned by the node key the
    * cached edge list is already laid out on; per-round localCheckpoint
    * cuts the doubling lineage exactly like [[bfsHops]]. */
  def labelPropagation(spark: SparkSession, dir: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // The SHARED src-partitioned edge cache ([[undirectedCopurchase]] —
    // q122 BFS and q206 random walks use the same artifact). Round 8
    // briefly gave q165 a dst-partitioned build under the SAME registry
    // key: whichever query ran first seeded the layout, and when BFS won
    // (bench runs alphabetically) every propagation round re-shuffled the
    // full |E| edge list. The cure is to make the ROUND consume the src
    // layout (join labels on src, aggregate toward dst — identical on a
    // symmetric edge set), so all three graph queries share one cached
    // copy and none of them ever moves it again.
    val und = undirectedCopurchase(spark, dir)
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = propagateRound(und, labels).localCheckpoint(true)
    }
    labels.select(col("node").as("part"), col("label").as("community"))
  }

  /** One synchronous label-propagation round (exposed so PlansSpec can pin
    * the per-round physical plan — the loop's localCheckpoint truncates
    * lineage, making the FINAL frame's plan a checkpoint scan that any
    * PlanAudit expectation would match vacuously). The edge set is
    * symmetric (both directions present), so "count the labels of n's
    * neighbors" can be computed by joining labels on SRC and aggregating
    * toward DST — the join reuses the cached src partitioning shuffle-free,
    * and the (dst,label) count arrives pre-combined map-side, so the only
    * exchanged data is label-table-sized partials plus the per-dst argmax. */
  private[graft] def propagateRound(und: DataFrame,
                                    labels: DataFrame): DataFrame =
    und.join(labels, col("src") === col("node"))
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("best"))
      .select(col("dst").as("node"), (-col("best.neg")).as("label"))

  def labelPropagationSql(rounds: Int = 3): String = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val steps = (1 to rounds).map { h =>
      s"""l$h AS (
         |  SELECT node, label FROM (
         |    SELECT e.src AS node, l.label, count(*) AS c,
         |           row_number() OVER (PARTITION BY e.src
         |                              ORDER BY count(*) DESC, l.label) AS rk
         |    FROM e JOIN l${h - 1} l ON e.dst = l.node
         |    GROUP BY e.src, l.label)
         |  WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $coPurchaseEdgeCtes, l0 AS (
       |  SELECT DISTINCT src AS node, src AS label FROM e
       |), $steps
       |SELECT node AS part, CAST(label AS BIGINT) AS community
       |FROM l$rounds""".stripMargin
  }

  // ---------------------------------------------------------------- k-core

  /** Support-thresholded undirected co-purchase edges (both directions):
    * parts co-bought in ≥ `minSupport` distinct orders. The raw co-purchase
    * graph is near-regular on TPC-H-shaped data (every part's degree lands
    * in one narrow band), so its k-core is all-or-nothing; the support
    * threshold recovers the skewed, sparse association backbone where
    * peeling does real work (measured at sf0.01: deg 1..13, 10 peel rounds
    * at k=3). Cached PRE-PARTITIONED on src — every peel round aggregates
    * degrees on src and anti-joins on src/dst, so the edge list never
    * re-shuffles across rounds (the [[bfsHops]] cache discipline; at
    * cluster scale, a table bucketed by src). */
  private[graft] def supportedCopurchase(spark: SparkSession, dir: String,
                                         minSupport: Int = 2): DataFrame =
    graft.CacheRegistry.cached(spark, s"copurchase-sup:$dir:$minSupport") {
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = l.toDF("ok", "u").join(l.toDF("ok", "v"), Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= minSupport)
        .select(col("u"), col("v"))
      pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("src"))
    }

  /** k-core peel over an undirected edge list: synchronously remove ALL
    * nodes of current degree < k each round until fixpoint (or `maxRounds`,
    * the runaway guard). Returns (surviving (part, core_degree) rows, peel
    * rounds executed). The loop control is one driver-side scalar per round
    * (the count of nodes to peel — the [[pagerankConverged]] discipline);
    * the edge table itself never leaves executors, each round's survivor
    * frame localCheckpoints to cut the doubling lineage, and superseded
    * checkpoint blocks are released eagerly.
    *
    * Scale shape: per round ONE degree aggregate (partitioned like the
    * cached edge list) + two anti-joins against the peeled-node miniature
    * (auto-broadcast — the peel set shrinks monotonically). Rounds are
    * bounded by the graph's degeneracy ordering depth, not |V|; on
    * power-law graphs that is tens of rounds at any scale. */
  private[graft] def kCoreFromEdges(und: DataFrame, k: Int,
                                    maxRounds: Int = 60): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var e = und
    var rounds = 0
    var peeling = true
    while (peeling && rounds < maxRounds) {
      val low = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select(col("src").as("low"))
        .localCheckpoint(true)
      if (low.count() == 0L) {
        releaseLocalCheckpoint(low)
        peeling = false
      } else {
        val next = e
          .join(low, e("src") === low("low"), "left_anti")
          .join(low, e("dst") === low("low"), "left_anti")
          .localCheckpoint(true)
        releaseLocalCheckpoint(low)
        releaseLocalCheckpoint(e)
        e = next
        rounds += 1
      }
    }
    // materialize the degree read-out eagerly, then release the LAST
    // round's edge checkpoint — it has no remaining reader, and without
    // this the |E_core|-sized block set stays persisted for the session
    // (the loop's superseded rounds are already released above; when no
    // peel ran, `e` is the caller's input and the release is a no-op)
    val core = e.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
      .select(col("src").as("part"), col("core_degree"))
      .localCheckpoint(true)
    if (rounds > 0) releaseLocalCheckpoint(e)
    (core, rounds)
  }

  /** q209 — k-core decomposition (k = [[KCoreK]]) of the support-≥2
    * co-purchase graph: the densest-substructure peel every graph-curation
    * pipeline runs (spam/bot rings, citation cores, community seeds).
    * Convergence-driven like q129: the Spark side peels to fixpoint and
    * CAPTURES the round count; the oracle re-derives the identical peel
    * with that many unrolled CTE rounds, so the loop BODY is cross-checked
    * end to end and only the stop decision is the captured constant.
    * Result + round count session-cache so Bench resamples don't re-peel. */
  def kCoreQuery(spark: SparkSession, dir: String): DataFrame = {
    // kCoreFromEdges returns an eagerly-checkpointed miniature (its loop
    // state is already released), so caching the pair is enough for Bench
    // resamples to skip the peel
    val (core, rounds) = graft.CacheRegistry.memo(spark,
      s"kcore:$KCoreK:$KCoreMaxRounds:$dir")(
      kCoreFromEdges(supportedCopurchase(spark, dir), KCoreK, KCoreMaxRounds))
    capturedKCoreRounds.put(dir, (KCoreK, KCoreMaxRounds), rounds)
    core
  }

  /** Contract k: 3 keeps a 935-node non-trivial core through 10 peel rounds
    * at sf0.01 (the oracle gate's sf) — deep enough to exercise the loop,
    * bounded at any sf by the degeneracy depth. */
  private val KCoreK = 3
  private val KCoreMaxRounds = 60
  private val capturedKCoreRounds =
    new graft.OracleCapture.Captured[(Int, Int), Int]

  /** The k-core peel unrolled to `rounds` chained CTE rounds — each round
    * keeps nodes whose degree is ≥ k (HAVING) and the edges with both
    * endpoints kept; `rounds` comes from the captured fixpoint count and
    * `minSupport` must match the [[supportedCopurchase]] threshold the
    * Spark side peeled (both default to 2 — a mismatch would be a phantom
    * oracle divergence with no code defect).
    * Every round CTE is `AS MATERIALIZED`: each references its predecessor
    * 3× (the degree HAVING + both endpoint joins), so DuckDB's default
    * textual inlining would expand the chain 3^rounds-fold — at the
    * measured 10 sf0.01 rounds, ~59k scans of lineitem and an fd blow-up.
    * Materialization pins each round to compute exactly once (linear),
    * which is also what the Spark side's per-round localCheckpoint does. */
  def kCoreSql(k: Int, rounds: Int, minSupport: Int = 2): String = {
    require(k >= 1 && rounds >= 0 && minSupport >= 1,
      s"bad k=$k rounds=$rounds minSupport=$minSupport")
    val steps = (1 to rounds).map { h =>
      s"""surv$h AS MATERIALIZED (
         |  SELECT src FROM e${h - 1} GROUP BY src HAVING count(*) >= $k
         |), e$h AS MATERIALIZED (
         |  SELECT c.src, c.dst FROM e${h - 1} c
         |  JOIN surv$h a ON c.src = a.src
         |  JOIN surv$h b ON c.dst = b.src
         |)""".stripMargin
    }.mkString(", ")
    val stepsSql = if (rounds == 0) "" else s", $steps"
    s"""WITH l AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
       |), pairs AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM l a JOIN l b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= $minSupport
       |), e0 AS MATERIALIZED (
       |  $bothWaysSql
       |)$stepsSql
       |SELECT src AS part, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e$rounds GROUP BY src""".stripMargin
  }
}
