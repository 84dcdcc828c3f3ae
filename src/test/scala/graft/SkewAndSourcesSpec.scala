package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Salting correctness + the partitioned/bucketed write paths a 100 TB
  * deployment leans on (partition pruning, shuffle-free bucketed reuse). */
class SkewAndSourcesSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark
  val dir = GraftTestSession.Sf0001

  test("partition pruning: the one-day scan opens only that day's files") {
    import graft.operators.PartitionedEvents
    val layout = new java.io.File(
      PartitionedEvents.partitionedEventsDir(spark, dir))
    // the fixture really is date-partitioned: one directory per day
    val dayDirs = layout.listFiles().count(_.getName.startsWith("event_date="))
    assert(dayDirs == 30, s"expected 30 event_date= dirs, got $dayDirs")
    val totalFiles = layout.listFiles()
      .filter(_.getName.startsWith("event_date="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val one = PartitionedEvents.oneDayHourly(spark, dir)
    one.collect()
    // the executed scan's own metric: files it actually read (AQE hides
    // children behind AdaptiveSparkPlanExec and QueryStageExec leaves —
    // walk through both wrappers to the real scan node)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(one.queryExecution.executedPlan)
    assert(scan.nonEmpty, "expected a FileSourceScanExec in the plan")
    val numFiles = scan.head.metrics("numFiles").value
    assert(numFiles < totalFiles,
      s"pruning read $numFiles of $totalFiles files — nothing was pruned")
    // exactly the one matching day survives the partition filter
    assert(numFiles == layout.listFiles()
      .filter(_.getName == s"event_date=${PartitionedEvents.ContractDay}")
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum,
      s"pruned scan read $numFiles files, not exactly the contract day's")
    // and the plan carries the partition filter where PlanAudit pins it
    assert(one.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(event_date"))
  }

  test("q284 clustered rollup: the date-clustered layout REALIZES the " +
    "skip q278 audited — the scan decodes a minority of the rows while " +
    "the result equals the unclustered rollup exactly") {
    import graft.operators.Layout
    import graft.Tables
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val rollup = Layout.clusteredMonthlyRollup(spark, dir)
    val got = rollup.collect()
      .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    // correctness: row-for-row equal to the same rollup on the ORIGINAL
    // unclustered table (the oracle's side, computed here in-plan)
    val expected = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.parse(
        s"${Layout.ClusterCutoff}T00:00:00")))
      .groupBy(date_trunc("month", col("o_orderdate")
        .cast(org.apache.spark.sql.types.TimestampType)).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100)
          .cast(org.apache.spark.sql.types.LongType)).as("c"))
      .collect().map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == expected)
    // the REALIZED skip, from the executed scan's own metric: rows the
    // reader actually decoded (row groups surviving the pushed min/max
    // filter). The matching fraction is ~38%, so with tight date-sliced
    // stats the decoded share must stay well under half the table —
    // q130's partition-pruning pin, one level deeper in the stack.
    val scan = scans(rollup.queryExecution.executedPlan)
    assert(scan.nonEmpty, "expected a FileSourceScanExec in the plan")
    val decoded = scan.head.metrics("numOutputRows").value
    val total = Tables.orders(spark, dir).count()
    assert(decoded < total * 6 / 10,
      s"clustered scan decoded $decoded of $total rows — zone stats " +
        "did not skip; is the layout still date-sorted?")
    val matching = expected.values.map(_._1).sum
    assert(decoded >= matching, "scan cannot decode fewer rows than match")
  }

  test("q290 zorder skipping: ONE layout realizes row-group skips under " +
    "predicates on EACH clustered dimension; rollups equal the " +
    "unclustered table's") {
    import graft.operators.Layout
    import graft.Tables
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val z = Layout.zorderedOrders(spark, dir)
    val total = Tables.orders(spark, dir).count()
    assert(z.count() == total, "Z layout must be row-for-row complete")
    val custCut = Tables.orders(spark, dir)
      .agg(max(col("o_custkey")).cast("long")).first().getLong(0) / 4
    // per-predicate realized skip, from each executed scan's own metric
    def decoded(pred: org.apache.spark.sql.Column): (Long, Long) = {
      val agg = z.filter(pred).agg(count(lit(1)))
      // collect(), not first(): first() runs a separate limit plan and
      // the metric would be read off the never-executed original
      val matching = agg.collect()(0).getLong(0)
      val s = scans(agg.queryExecution.executedPlan)
      assert(s.nonEmpty, "expected a FileSourceScanExec")
      (s.head.metrics("numOutputRows").value, matching)
    }
    val (custDecoded, custMatch) = decoded(col("o_custkey") <= custCut)
    val (dateDecoded, dateMatch) = decoded(col("o_orderdate") >=
      lit(java.sql.Date.valueOf(Layout.ZDateCutoff)))
    // the multi-dimensional claim: BOTH predicates skip on the SAME
    // layout — each decodes a strict minority-to-moderate share, never
    // the whole table, and never less than its own matching rows
    assert(custDecoded >= custMatch && dateDecoded >= dateMatch)
    assert(custDecoded < total * 6 / 10,
      s"custkey scan decoded $custDecoded of $total — no 2-D skip")
    assert(dateDecoded < total * 3 / 4,
      s"date scan decoded $dateDecoded of $total — no 2-D skip")
    // losslessness: the lane's rollups equal the unclustered table's
    val got = Layout.zorderSelectivityRollup(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def expRoll(f: org.apache.spark.sql.DataFrame) = {
      val r = f.agg(count(lit(1)),
        countDistinct(col("o_custkey")),
        sum(round(col("o_totalprice") * 100)
          .cast(org.apache.spark.sql.types.LongType))).first()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val o = Tables.orders(spark, dir)
    assert(got("custkey_quarter") ==
      expRoll(o.filter(col("o_custkey") <= custCut)))
    assert(got("date_tail") == expRoll(o.filter(col("o_orderdate") >=
      lit(java.time.LocalDateTime.parse(s"${Layout.ZDateCutoff}T00:00:00")))))
  }

  test("salted aggregate equals plain aggregate") {
    val li = Tables.lineitem(spark, dir)
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedAggregate(li,
      key = col("l_returnflag"),
      stable = col("l_orderkey") * 10 + col("l_linenumber"),
      saltBuckets = 8,
      partial = Seq(count(lit(1)).as("pn"), sum(col("l_quantity")).as("pq")),
      merge = Seq(sum(col("pn")).as("n"), sum(col("pq")).as("q")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet == plain.keySet)
    salted.foreach { case (k, (n, q)) =>
      assert(n == plain(k)._1)
      assert(math.abs(q - plain(k)._2) < 1e-6)
    }
  }

  test("salt is deterministic (not rand) so task retries cannot double-count") {
    val li = Tables.lineitem(spark, dir).limit(100)
    val s1 = li.select(Skew.salt(col("l_orderkey"), 8)).collect().map(_.getLong(0))
    val s2 = li.select(Skew.salt(col("l_orderkey"), 8)).collect().map(_.getLong(0))
    assert(s1.sameElements(s2))
    assert(s1.forall(s => s >= 0 && s < 8))
  }

  test("aqe skew join: a planted hot key splits at runtime, results exact") {
    // the q05/q10/q12 join family shuffles on o_custkey; a production hot
    // customer (bot traffic, house account) concentrates one partition.
    // This pins the RUNTIME half of the skew story: AQE detects the
    // oversized partition and splits it, and the split run is row-for-row
    // identical to the non-adaptive run. The COMPILE-TIME twin for
    // aggregations (which AQE does not split) is the q121 salted
    // two-phase aggregate ("salted aggregate equals plain aggregate"
    // above) — COVERAGE.md maps which applies where.
    import spark.implicits._
    val hot = 7L
    // 200k rows on the hot key, 1k keys with 20 rows each — ~90% of the
    // shuffle lands in one partition without AQE
    val facts = spark.range(200000).select(lit(hot).as("custkey"),
        (col("id") % 100).as("cents"))
      .unionAll(spark.range(20000).select((col("id") % 1000 + 100L).as("custkey"),
        (col("id") % 100).as("cents")))
    val dim = spark.range(1200).select(col("id").as("custkey"),
      concat(lit("seg"), col("id") % 5).as("segment"))
    def run(aqe: Boolean) = {
      val conf = Seq(
        "spark.sql.adaptive.enabled" -> aqe.toString,
        "spark.sql.adaptive.skewJoin.enabled" -> aqe.toString,
        // shrink thresholds so ~MB-scale spec data counts as skewed
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
        // the join feeds a groupBy on the SAME key, whose required hash
        // distribution would veto the split (splitting breaks it); force
        // accepts the extra re-shuffle — the q05/q10 shape exactly
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        // force the sort-merge path: broadcast would hide the skew
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val joined = facts.join(dim, Seq("custkey"))
          .groupBy(col("custkey"), col("segment"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val rows = joined.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3))).sorted.toSeq
        (rows, joined.queryExecution.executedPlan.toString)
      } finally prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val (plain, _) = run(aqe = false)
    val (adaptive, plan) = run(aqe = true)
    assert(adaptive == plain, "AQE skew split changed results")
    assert(plain.exists(r => r._1 == hot && r._3 > 0))
    // the skew handling actually fired: the final adaptive plan marks the
    // split sort-merge join with skew=true
    assert(plan.contains("skew=true"),
      s"expected a skew-split join in:\n$plan")
  }

  test("partitioned write enables partition pruning on read") {
    val out = Files.createTempDirectory("graft_part").toString
    Tables.orders(spark, dir)
      .withColumn("prio", regexp_replace(col("o_orderpriority"), "[^0-9]", ""))
      .write.mode("overwrite").partitionBy("prio").parquet(out)
    val read = spark.read.parquet(out).filter(col("prio") === "1")
    val plan = read.queryExecution.executedPlan.toString
    // pruned scan: the partition filter appears, and only matching
    // directories are listed
    assert(plan.contains("PartitionFilters"))
    assert(read.count() ==
      Tables.orders(spark, dir)
        .filter(col("o_orderpriority").startsWith("1")).count())
  }

  test("csv and json sinks round-trip the RFM result") {
    val rfm = graft.operators.Rfm.rfmOrders(spark, dir)
    val expected = rfm.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet

    val csvOut = Files.createTempDirectory("graft_csv").toString
    rfm.write.mode("overwrite").option("header", true).csv(csvOut)
    val csvBack = spark.read.option("header", true)
      .schema(rfm.schema).csv(csvOut).collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(csvBack == expected)

    val jsonOut = Files.createTempDirectory("graft_json").toString
    rfm.write.mode("overwrite").json(jsonOut)
    val jsonBack = spark.read.schema(rfm.schema).json(jsonOut).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(jsonBack == expected)
  }

  test("zorder layout: every partition is bounded in BOTH dimensions") {
    import graft.operators.Layout
    val parts = 8
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("x"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("y"))
    def extentSums(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val e = df.groupBy(spark_partition_id().as("pid"))
        .agg((max("x") - min("x")).cast("double").as("ex"),
          (max("y") - min("y")).cast("double").as("ey"))
        .agg(avg("ex").as("ax"), avg("ey").as("ay")).head()
      (e.getDouble(0), e.getDouble(1))
    }
    val bounds = o.agg((max("x") - min("x")).cast("double"),
      (max("y") - min("y")).cast("double")).head()
    val (rx, ry) = (bounds.getDouble(0), bounds.getDouble(1))
    // one-dimensional sort: the non-sort dimension stays unbounded
    val (sx, sy) = extentSums(o.repartitionByRange(parts, col("y")))
    assert(sy < 0.3 * ry) // sorted dim prunes
    assert(sx > 0.8 * rx) // non-sort dim does NOT
    // z-order: BOTH dims bounded well below the full range per partition
    val (zx, zy) = extentSums(Layout.zorderLayout(o, "x", "y", parts))
    assert(zx < 0.7 * rx, s"z-layout x extent $zx vs range $rx")
    assert(zy < 0.7 * ry, s"z-layout y extent $zy vs range $ry")
  }

  test("hilbert expression is bit-identical to the unrolled projection chain") {
    import graft.operators.Layout
    // exhaustive 128×128 grid: the codegen'd loop and the reference
    // projection chain must agree everywhere (also exercises the
    // interpreted eval path via a filtered collect)
    val grid = spark.range(128).select(col("id").as("gx"))
      .crossJoin(spark.range(128).select(col("id").as("gy")))
    val fast = Layout.hilbertCols(grid, "gx", "gy", "h")
    val slow = Layout.hilbertColsUnrolled(grid, "gx", "gy", "h")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("hilbert index: bijective on a subgrid, unit steps on the full curve") {
    import graft.operators.Layout
    // 64×64 grid through the full 16-bit transform: indices must be unique
    // (restriction of a bijection) and non-negative
    val grid = spark.range(64).select(col("id").as("gx"))
      .crossJoin(spark.range(64).select(col("id").as("gy")))
    val h = Layout.hilbertCols(grid, "gx", "gy", "h").cache()
    try {
      assert(h.select("h").distinct().count() == 64L * 64)
      assert(h.filter(col("h") < 0).isEmpty)
      // the low-order 4096 curve positions cover exactly the 64×64 subgrid
      // (Hilbert property: a prefix of the curve fills a quadrant), and
      // consecutive positions are grid-adjacent — |Δx|+|Δy| = 1
      val low = h.filter(col("h") < 4096L)
      assert(low.count() == 4096)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("h"))
      val steps = low
        .withColumn("px", lag(col("gx"), 1).over(w))
        .withColumn("py", lag(col("gy"), 1).over(w))
        .filter(col("px").isNotNull)
        .filter(abs(col("gx") - col("px")) + abs(col("gy") - col("py")) =!= 1)
      assert(steps.isEmpty, "curve must take unit steps")
    } finally h.unpersist()
  }

  test("hilbert layout beats or matches morton on partition locality") {
    import graft.operators.Layout
    val parts = 8
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("x"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("y"))
    // per-partition normalized semi-perimeter of the bounding rectangle,
    // averaged over partitions — lower = tighter tiles = better pruning
    def semiPerim(df: org.apache.spark.sql.DataFrame,
                  rx: Double, ry: Double): Double =
      df.groupBy(spark_partition_id().as("pid"))
        .agg(((max("x") - min("x")) / rx + (max("y") - min("y")) / ry)
          .as("sp"))
        .agg(avg("sp")).head().getDouble(0)
    val b = o.agg((max("x") - min("x")).cast("double"),
      (max("y") - min("y")).cast("double")).head()
    val (rx, ry) = (b.getDouble(0), b.getDouble(1))
    val hil = semiPerim(Layout.hilbertLayout(o, "x", "y", parts), rx, ry)
    val mor = semiPerim(Layout.zorderLayout(o, "x", "y", parts), rx, ry)
    // both curves bound the partitions well below the full 2.0 range...
    assert(hil < 1.4 && mor < 1.4, s"hilbert $hil, morton $mor")
    // ...and Hilbert (jump-free) is at least as tight as Morton up to noise
    assert(hil <= mor * 1.1, s"hilbert $hil should not lose to morton $mor")
  }

  test("bucketed table join avoids the exchange on the bucketed key") {
    val s = spark // warehouse dir is a tmp dir set at session creation
    Tables.orders(s, dir).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bucketed")
    val b = s.table("orders_bucketed")
    val agg = b.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
      s"bucketed aggregate should not reshuffle:\n${plan.take(800)}")
    assert(agg.count() == Tables.orders(s, dir).select("o_custkey").distinct().count())
  }

  test("compaction sizes output from on-disk bytes and preserves rows") {
    import graft.operators.Layout
    val frag = Files.createTempDirectory("graft_frag").toString
    Tables.orders(spark, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    val small = parquetFiles(frag)
    assert(small.length == 64)
    val total = small.map(_.length()).sum
    // target a quarter of the data per file → ~4 output files (±1 for
    // rounding; stats include estimation overhead)
    val (compacted, parts) = Layout.compactionPlan(spark, frag, total / 4)
    assert(parts >= 3 && parts <= 8, s"unexpected partition count $parts")
    val out = Files.createTempDirectory("graft_compact").toString
    compacted.write.mode("overwrite").parquet(out)
    assert(parquetFiles(out).length == parts)
    assert(spark.read.parquet(out).count() == Tables.orders(spark, dir).count())
  }

  test("orc sink round-trips the RFM result") {
    val rfm = graft.operators.Rfm.rfmOrders(spark, dir)
    val expected = rfm.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    val out = Files.createTempDirectory("graft_orc").toString
    rfm.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(back == expected)
  }

  test("co-bucketed two-table join runs with zero shuffle exchanges") {
    val s = spark
    Tables.orders(s, dir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bkt_join")
    Tables.lineitem(s, dir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bkt_join")
    val j = s.table("lineitem_bkt_join")
      .join(s.table("orders_bkt_join"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    // disable broadcast so the join itself must pick a shuffle-free SMJ
    val plan = GraftTestSession.withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      j.queryExecution.executedPlan.toString
    }
    // the only exchange allowed is the one for the FINAL custkey aggregate;
    // the join keys must come straight out of the bucketed scans
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"join sides must not reshuffle:\n${plan.take(1200)}")
    val expected = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
    assert(j.exceptAll(expected).isEmpty && expected.exceptAll(j).isEmpty)
  }

  test("q148 salting plan: shares conserve, heavy flag and fan-out follow " +
    "their integer laws") {
    val total = Tables.events(spark, dir).count()
    val rows = Skew.saltingPlan(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4)))
    assert(rows.map(_._2).sum == total) // counts partition the fact table
    rows.foreach { case (_, n, ppm, heavy, salt) =>
      assert(ppm == n * 1000000L / total)
      assert(heavy == (n * 32L > total))
      assert(salt == (n + 499) / 500 && salt >= 1)
      // the plan achieves its contract: fan-out caps each sub-key at target
      assert((n + salt - 1) / salt <= 500)
    }
  }

  test("q151 bucketed segment agg: equals the plain join and reads bucketed " +
    "scans with no exchange on either join key") {
    import graft.operators.Bucketing
    val got = Bucketing.bucketedSegmentAgg(spark, dir)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange hashpartitioning(user_id") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucket co-location lost — join sides reshuffled:\n${plan.take(1200)}")
    assert(plan.contains("graft_stg_bkt_purchases"),
      "must read the bucketed table")
    val expected = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("c_mktsegment").as("mktsegment"), col("n"),
        col("value_cents"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("q234 orc round-trip: equals the direct parquet aggregate") {
    import graft.sources.OrcInterchange
    val got = OrcInterchange.orcRoundTrip(spark, dir)
    val expected = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100)
          .cast("long")).as("price_cents"))
      .select(col("l_returnflag"), col("n"),
        col("sum_qty").cast("double").as("sum_qty"), col("price_cents"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("q234 orc scan: quantity predicate pushed, l_orderkey pruned away") {
    import graft.sources.OrcInterchange
    val plan = OrcInterchange.orcRoundTrip(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(l_quantity,25.0)"),
      s"predicate must reach the ORC scan:\n${plan.take(1200)}")
    assert(!plan.contains("l_orderkey"),
      "pruning must drop the unused staged column from the read")
  }

  test("q234 orc stage: a half-dead prior write (no _SUCCESS) is restaged") {
    import graft.sources.OrcInterchange
    val staged = OrcInterchange.ensureOrcStage(spark, dir)
    val marker = java.nio.file.Paths.get(staged, "_SUCCESS")
    java.nio.file.Files.deleteIfExists(marker)
    OrcInterchange.ensureOrcStage(spark, dir)
    assert(java.nio.file.Files.isRegularFile(marker),
      "missing success marker must trigger a rewrite")
  }

  test("q249 schema evolution: merged read surfaces the added column, " +
    "null-fills exactly the old generation, and loses no rows") {
    import graft.sources.SchemaEvolution
    val staged = SchemaEvolution.ensureEvolvedStage(spark, dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(staged)
    assert(merged.columns.toSet ==
      Set("o_orderkey", "cents", "o_orderpriority"))
    val orders = Tables.orders(spark, dir).select("o_orderkey").collect()
      .map(_.getLong(0)).toSet
    val rows = merged.select("o_orderkey", "o_orderpriority").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(rows.map(_._1).toSet == orders, "every generation's rows survive")
    rows.foreach { case (k, prio) =>
      assert((k % 2 == 0) == prio.isEmpty,
        s"order $k: generation-1 rows (even keys) and ONLY those are null")
    }
    // a first-footer (non-merged) read of the same directory may drop the
    // added column entirely — the failure mode q249 exists to gate
    val plain = spark.read.parquet(staged)
    assert(plain.columns.length <= merged.columns.length)
  }
}
