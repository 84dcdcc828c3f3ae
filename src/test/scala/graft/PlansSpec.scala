package graft

import graft.plans.MaterializeHofDependencies
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.MaterializeHofDependencies]]: the optimizer rule that
  * hoists lambda-invariant expensive expressions out of interpreted HOF
  * lambdas (the measured 10× trap — BENCH.md round-3 note). */
class PlansSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** The trap shape: split(text) inlined as both HOF input and inside the
    * lambda via element_at — re-tokenizes per element when interpreted. */
  private def trapQuery = {
    val ws = split(col("text"), " ")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      transform(sequence(lit(0), greatest(size(ws) - 3, lit(0))),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2),
          element_at(ws, i + 3))).as("grams"))
  }

  private def withRule[A](f: => A): A = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prior :+ MaterializeHofDependencies
    try f finally spark.experimental.extraOptimizations = prior
  }

  private def withoutRule[A](f: => A): A = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prior.filterNot(_ eq MaterializeHofDependencies)
    try f finally spark.experimental.extraOptimizations = prior
  }

  test("rule hoists the lambda-invariant split into a child projection") {
    val optimized = withRule(trapQuery.queryExecution.optimizedPlan)
    assert(optimized.toString.contains("_hofMat"),
      s"expected materialized alias in:\n$optimized")
    // the lambda body no longer contains a split: exactly one split remains,
    // in the injected child projection
    val splits = optimized.collect { case node =>
      node.expressions.flatMap(_.collect {
        case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
      })
    }.flatten.size
    assert(splits == 1, s"expected exactly one split, got $splits")
  }

  test("rule preserves results exactly") {
    val with_ = withRule(trapQuery.collect())
    val without = withoutRule(trapQuery.collect())
    assert(with_.map(_.toString).sorted.toSeq ==
      without.map(_.toString).sorted.toSeq)
  }

  test("rule is a no-op on already-materialized and non-HOF plans") {
    // hand-fixed shape (the repo convention): ws is already an attribute
    val fixed = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        transform(col("ws"), w => upper(w)).as("up"))
    val plain = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("len"))
    withRule {
      assert(!fixed.queryExecution.optimizedPlan.toString.contains("_hofMat"))
      assert(!plain.queryExecution.optimizedPlan.toString.contains("_hofMat"))
    }
  }

  test("rule never hoists lambda-dependent or nondeterministic expressions") {
    // md5(w) DEPENDS on the lambda variable — must stay inside the lambda
    val dependent = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(transform(col("ws"), w => md5(w)).as("hashes"))
    withRule {
      assert(!dependent.queryExecution.optimizedPlan.toString.contains("_hofMat"))
    }
  }

  test("custom as-of join: plans through AsOfJoinExec, equals composed form") {
    val native = graft.operators.Events.asofLastPurchaseNative(spark, dir)
    val plan = native.queryExecution.executedPlan.toString
    // the custom physical operator actually plans (no fallback — SparkPlan
    // node names strip the Exec suffix), the union-window machinery of the
    // composed form is absent, and EnsureRequirements gave each side one
    // exchange + sort
    assert(plan.contains("AsOfJoin") && plan.contains("Sort "))
    assert(!plan.contains("Window"))
    // q65's default path routes through the same native exec
    assert(graft.operators.Events.asofLastPurchase(spark, dir)
      .queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val composed = graft.operators.Events.asofLastPurchaseComposed(spark, dir)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // no-match clicks (users with no prior purchase) survive with nulls
    assert(native.filter(col("purchase_id").isNull).count() ==
      composed.filter(col("purchase_id").isNull).count())
  }

  test("as-of join rejects sides sharing attribute exprIds") {
    // the same plan on both sides: outputs alias each other, and binding
    // would silently read left values for right columns — must fail loudly
    val df = spark.range(4).selectExpr("id as k", "id * 10 as t")
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoinPlan.asofJoin(spark, df, df, "k", "t", "k", "t")
    }
    assert(e.getMessage.contains("alias the right side"))
  }

  test("bucketed as-of join: both exchanges vanish, values unchanged") {
    // AsOfJoinExec declares ClusteredDistribution per side — the same
    // contract SortMergeJoin uses — so co-bucketed layouts (the 100 TB
    // deployment shape: both sides written bucketed by user) must satisfy
    // it straight off the scans, leaving NO exchange anywhere in the plan
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("t"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user_id"), col("t").as("p_t"))
      .agg(max(col("event_id")).as("purchase_id"))
    clicks.write.mode("overwrite")
      .bucketBy(8, "user_id").sortBy("user_id", "t")
      .saveAsTable("asof_clicks_bkt")
    purchases.write.mode("overwrite")
      .bucketBy(8, "p_user_id").sortBy("p_user_id", "p_t")
      .saveAsTable("asof_purch_bkt")
    val joined = graft.plans.AsOfJoinPlan.asofJoin(spark,
      spark.table("asof_clicks_bkt"), spark.table("asof_purch_bkt"),
      "user_id", "t", "p_user_id", "p_t")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native exec must plan:\n${plan.take(600)}")
    assert(!plan.contains("Exchange"),
      s"bucketed as-of must run with zero exchanges:\n${plan.take(1200)}")
    // and the shuffle-free plan returns exactly the shuffled plan's rows
    val baseline = graft.plans.AsOfJoinPlan.asofJoin(spark,
      clicks, purchases, "user_id", "t", "p_user_id", "p_t")
    assert(joined.exceptAll(baseline).isEmpty &&
      baseline.exceptAll(joined).isEmpty)
  }

  test("q161 attribution: native as-of matches a driver-side last-touch " +
    "fold, window nulls included") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    val windowMs = 7L * 24 * 3600 * 1000
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts").cast(TimestampType)).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // same-ms clicks collapse to max event_id, the operator's right-side rule
    val clicksByUser = ev.filter(_._3 == "click")
      .groupBy(e => (e._2, e._4)).map { case ((u, t), g) =>
        (u, t, g.map(_._1).max)
      }.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2)).toMap
    val expected = ev.filter(_._3 == "purchase").map { case (pid, u, _, t) =>
      val last = clicksByUser.getOrElse(u, Nil).filter(_._2 <= t)
        .sortBy(_._2).lastOption
      last match {
        case Some((_, ct, cid)) if t - ct <= windowMs =>
          (pid, u, t, Some(cid), Some(t - ct))
        case _ => (pid, u, t, None, None)
      }
    }.toSet
    val got = graft.operators.Events.lastTouchAttribution(spark, dir)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toSet
    assert(got == expected)
    assert(got.exists(_._4.isDefined), "no attributed purchase in fixture")
    assert(got.exists(_._4.isEmpty),
      "no unattributed purchase — the null branch is untested")
  }

  test("as-of join handles empty right side and all-null padding") {
    import org.apache.spark.sql.functions.{lit => l}
    val left = spark.range(4).selectExpr("id as k", "id * 10 as t")
    val right = spark.range(0).selectExpr("id as rk", "id as rt")
      .filter(l(false))
    val out = graft.plans.AsOfJoinPlan
      .asofJoin(spark, left, right, "k", "t", "rk", "rt").collect()
    assert(out.length == 4 && out.forall(r => r.isNullAt(2) && r.isNullAt(3)))
  }

  test("q165 label-propagation round: the edge list never re-shuffles " +
    "(the SHARED src-partitioned cache is reused; only label-sized data moves)") {
    // the loop localCheckpoints each round, so the FINAL frame's plan is a
    // checkpoint scan — pin the per-round plan the loop actually executes.
    // Use the REAL shared builder (src-partitioned, shared with q122 BFS
    // and q206 random walks) — an inline replica under the same registry
    // key is exactly the layout-drift hazard this test exists to pin.
    val und = graft.operators.Graph.undirectedCopurchase(spark, dir)
    val labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint(true)
    // tree-collect LIVE nodes with AQE off: the string rendering embeds the
    // cache's BUILD plan (whose materialization exchange is not a live
    // shuffle — the InMemoryTableScan caveat PlanAudit documents), while
    // collect() stops at the InMemoryTableScan leaf
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (round, live) =
      try {
        val r = graft.operators.Graph.propagateRound(und, labels)
        (r, r.queryExecution.executedPlan) // force planning while AQE is off
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val plan = live.toString
    assert(live.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"pairwise blowup:\n$plan")
    // edge side: served by the cached scan...
    assert(live.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.nonEmpty, s"edge cache unused:\n$plan")
    val shuffles = live.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // ...and never re-shuffled: between the cached edge scan and the label
    // join there must be NO exchange (post-join aggregate exchanges above
    // the join are fine — they move combined label-sized partials, not the
    // raw |E| edge list)
    def hasScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.nonEmpty
    val joins = live.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val edgeSides = joins.flatMap(_.children.filter(hasScan))
    assert(edgeSides.nonEmpty, s"label join does not read the edge cache:\n$plan")
    assert(!edgeSides.exists(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if hasScan(e) => e
    }.nonEmpty), s"edge list re-shuffles every round:\n$plan")
    // the round's only shuffles move label-table-sized data: the label
    // side into the join, the (src,label) count, the per-src argmax
    assert(shuffles.size <= 3, s"${shuffles.size} live shuffles:\n$plan")
    // and the round is semantically right: every node keeps a label
    assert(round.count() == labels.count())
  }

  test("as-of forward direction: nearest following match, shared matches, " +
    "null beyond the last right row") {
    import graft.plans.{AsOfForward, AsOfJoinPlan}
    val left = spark.createDataFrame(Seq(
      (1L, 10L), (1L, 15L), (1L, 20L), (1L, 40L), (2L, 5L), (3L, 1L)
    )).toDF("k", "t")
    val right = spark.createDataFrame(Seq(
      (1L, 15L, 100L), (1L, 30L, 200L), (2L, 3L, 300L), (2L, 50L, 400L)
    )).toDF("rk", "rt", "v")
    val got = AsOfJoinPlan.asofJoin(spark, left, right, "k", "t", "rk", "rt",
      direction = AsOfForward)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got == Set(
      (1L, 10L, Some(15L)),  // next right at 15
      (1L, 15L, Some(15L)),  // inclusive: rt >= lt
      (1L, 20L, Some(30L)),  // 15 passed, next is 30
      (1L, 40L, None),       // beyond the last right row of the key
      (2L, 5L, Some(50L)),   // right at 3 is BEFORE the left — skipped
      (3L, 1L, None)))       // key absent on the right
    // the exec's plan is the same native operator, no Window fallback
    val plan = AsOfJoinPlan.asofJoin(spark, left, right, "k", "t", "rk", "rt",
      direction = AsOfForward).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin") && !plan.contains("Window"))
  }

  test("as-of tolerance gates emission but not state, both directions") {
    import graft.plans.{AsOfForward, AsOfJoinPlan}
    val left = spark.createDataFrame(Seq(
      (1L, 100L), (1L, 200L)
    )).toDF("k", "t")
    val right = spark.createDataFrame(Seq(
      (1L, 95L, 10L), (1L, 190L, 20L)
    )).toDF("rk", "rt", "v")
    // backward, tol=8: left@100 matches right@95 (gap 5); left@200 must
    // match right@190 (gap 10 > 8 → null) — and NOT fall back to the stale
    // right@95: the state updated even though emission was gated
    val back = AsOfJoinPlan.asofJoin(spark, left, right, "k", "t", "rk", "rt",
      toleranceMs = Some(8L))
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(back == Map(100L -> Some(95L), 200L -> None))
    // forward, tol=50: left@100 → right@190 is 90 away → null;
    // left@200 → right@190 is behind; no following row → null
    val fwd = AsOfJoinPlan.asofJoin(spark, left, right, "k", "t", "rk", "rt",
      direction = AsOfForward, toleranceMs = Some(50L))
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(fwd == Map(100L -> None, 200L -> None))
    // forward, tol=95: left@100 → right@190 (gap 90) now qualifies
    val fwd2 = AsOfJoinPlan.asofJoin(spark, left, right, "k", "t", "rk", "rt",
      direction = AsOfForward, toleranceMs = Some(95L))
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(fwd2 == Map(100L -> Some(190L), 200L -> None))
  }

  test("q174 forward conversion: native result matches a driver-side fold") {
    import org.apache.spark.sql.types.TimestampType
    val windowMs = 2L * 3600 * 1000
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts").cast(TimestampType)).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val purchByUser = ev.filter(_._3 == "purchase")
      .groupBy(e => (e._2, e._4)).map { case ((u, t), g) =>
        (u, t, g.map(_._1).max)
      }.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2)).toMap
    val expected = ev.filter(_._3 == "click").map { case (cid, u, _, t) =>
      purchByUser.getOrElse(u, Nil).find(_._2 >= t) match {
        case Some((_, pt, pid)) if pt - t <= windowMs =>
          (cid, u, t, Some(pid), Some(pt - t))
        case _ => (cid, u, t, None, None)
      }
    }.toSet
    val got = graft.operators.Events.clickConversionForward(spark, dir)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }.toSet
    assert(got == expected)
    assert(got.exists(_._4.isDefined), "no converted click in fixture")
    assert(got.exists(_._4.isEmpty),
      "no unconverted click — the null/tolerance branch is untested")
  }

  test("AsOfJoinExec refuses non-co-partitioned children loudly") {
    // zipPartitions pairs partitions by index — a child that bypassed
    // EnsureRequirements (hand-built plan, future bucketed/cached child
    // with a drifted bucket count) must fail loudly, never zip unrelated
    // partitions and join garbage. Build the exec node directly with
    // mismatched partition counts to prove the guard fires.
    val lPlan = spark.range(0, 8, 1, numPartitions = 4)
      .selectExpr("id as k", "id * 10 as t")
      .queryExecution.executedPlan
    val rPlan = spark.range(0, 8, 1, numPartitions = 2)
      .selectExpr("id as rk", "id * 10 as rt")
      .queryExecution.executedPlan
    def attr(p: org.apache.spark.sql.execution.SparkPlan, name: String) =
      p.output.find(_.name == name).get
    val exec = graft.plans.AsOfJoinExec(lPlan, rPlan,
      attr(lPlan, "k"), attr(lPlan, "t"), attr(rPlan, "rk"), attr(rPlan, "rt"))
    val e = intercept[IllegalArgumentException] { exec.execute() }
    assert(e.getMessage.contains("co-partitioned"),
      s"unexpected message: ${e.getMessage}")
  }

  test("dimension-window sweep: red on the pre-fix q268 shape, silent on " +
    "the offset-prefix miniatures and on high-cardinality-first windows") {
    // the exact shape the round-9 verdict flagged: a window partitioned by
    // the 20-value source key ordered by the data-sized score — one
    // corpus/20-row task per group at any cluster size
    val oldQ268 = "windowspecdefinition(source#2047, avg_e6#13 ASC NULLS " +
      "FIRST, doc_id#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, ..."
    assert(PlanAudit.dimWindowRe.findFirstIn(oldQ268).isDefined)
    // the unordered count-over-source twin (q268's old n_s lane)
    val oldNs = "windowspecdefinition(source#2047, specifiedwindowframe(" +
      "RowFrame, unboundedpreceding$(), unboundedfollowing$()))"
    assert(PlanAudit.dimWindowRe.findFirstIn(oldNs).isDefined)
    // OffsetPrefix's miniature windows carry the __pid order
    // marker — P×G offset rows, not data — and must NOT trip the sweep
    val offsetsW = "windowspecdefinition(source#11, __pid#44 ASC NULLS " +
      "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1))"
    assert(PlanAudit.dimWindowRe.findFirstIn(offsetsW).isEmpty)
    // a window whose FIRST partition key is high-cardinality (user_id)
    // with a dimension key second is data-distributed — not flagged
    val composite = "windowspecdefinition(user_id#3L, event_type#9, " +
      "ts_ms#12L ASC NULLS FIRST, specifiedwindowframe(RowFrame, ...))"
    assert(PlanAudit.dimWindowRe.findFirstIn(composite).isEmpty)
    // every whitelist entry must carry a positive hit budget, a
    // non-empty justification, and point at a real contract query
    PlanAudit.dimWindowWhitelist.foreach { case (q, (n, why)) =>
      assert(SparkEntry.queries.contains(q), s"stale whitelist entry $q")
      assert(n >= 1, s"whitelist entry $q must allow at least one hit")
      assert(why.length > 20, s"whitelist entry $q needs a justification")
    }
  }

  test("q268 quantile normalize is shuffle-partition-count invariant") {
    def run(parts: String) = {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try graft.operators.TextAnalysis.quantileNormalize(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    }
    val base = run("3")
    assert(base.nonEmpty)
    assert(run("17") == base)
  }

  test("ScaleSoak buildScaled: per-copy word suffixing keeps shingle " +
    "universes disjoint and the shifted keys stay join-consistent") {
    val out = java.nio.file.Files.createTempDirectory("graft_soak2x").toString
    ScaleSoak.buildScaled(spark, dir, out, 2)
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val n0 = Tables.documents(spark, dir).count()
    assert(docs.count() == 2 * n0)
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val Shift = 1000000000L
    val c0 = toks.filter(col("doc_id") < Shift).select("t").distinct()
    val c1 = toks.filter(col("doc_id") >= Shift).select("t").distinct()
    // the honesty contract: copies are textually DISJOINT (no planted
    // cross-copy near-dups) while each copy keeps the original
    // token-frequency shape (same distinct-token count)
    assert(c0.join(c1, "t").count() == 0)
    assert(c0.count() == c1.count())
    // copy 0 is byte-identical to the 1x source (round-10 ADVICE): a
    // suffixed copy 0 would inflate xN split/hash/shingle costs relative
    // to the 1x baseline and bias the weak-scaling exponent upward
    val orig = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t")).distinct()
    assert(c0.join(orig, Seq("t"), "left_anti").count() == 0)
    assert(orig.join(c0, Seq("t"), "left_anti").count() == 0)
    // key shifting is cross-table consistent: every scaled order still
    // finds its customer (joins stay key-correct at any factor)
    val o = spark.read.parquet(s"$out/orders.parquet")
    val c = spark.read.parquet(s"$out/customer.parquet")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .count() == 0)
  }

  test("q275 packed manifest is shuffle-partition-count invariant " +
    "(the groupedCumSum prefix sum must not depend on the layout)") {
    def run(parts: String) = {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try graft.operators.TextAnalysis.packedSequenceManifest(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    }
    val base = run("3")
    assert(base.nonEmpty)
    assert(run("17") == base)
  }

  test("q275 packed manifest: degenerate docs (null text = 0 tokens, " +
    "empty text = 1 token) emit no spurious rows and keep spans exact") {
    // round-10 ADVICE: on en == st Spark's sequence(st div b, (en-1) div b)
    // silently DESCENDS and emits negative-fill rows while DuckDB's range()
    // yields nothing — the guard must zero null text and drop empty spans
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_degen").toString
    Seq((1L, Option("a b c d e"), "en", "web", 9L),
        (2L, None: Option[String], "en", "web", 0L),
        (3L, Option(""), "en", "web", 0L),
        (4L, Option("f g h"), "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis
      .packedSequenceManifest(spark, tmp, budget = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // hand calc: n = (5, 0, 1, 3) → cum (5, 5, 6, 9); doc 2 spans [5,5) and
    // must vanish; doc 3's "" splits to [""] = ONE token spanning [5,6)
    assert(got == Map(
      0L -> ((1L, 0L, 4L, 1L, 1L)),
      1L -> ((3L, 1L, 4L, 1L, 4L)),
      2L -> ((1L, 0L, 1L, 4L, 4L))))
  }
}
