package graft

import graft.operators.{Charts, Clustering, Retail, Rfm}
import org.apache.spark.GraftListenerBus
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's model fixtures and invariants
  * (reference `src/model.rs:233-310`, `tests/integration.rs:46-148`). */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  private lazy val rfm = Rfm.rfmOrders(spark, GraftTestSession.Sf0001).cache()
  private lazy val seg = Clustering.fit(rfm, k = 4)

  test("k out of range rejected (reference src/model.rs:138-143)") {
    assertThrows[IllegalArgumentException](Clustering.validateK(2, 100))
    assertThrows[IllegalArgumentException](Clustering.validateK(6, 100))
    Clustering.validateK(3, 3); Clustering.validateK(5, 100)
  }

  test("n >= k guard (reference src/model.rs:145-150)") {
    assertThrows[IllegalArgumentException](Clustering.validateK(4, 3))
  }

  test("labels in [0,k), sizes sum to n (reference tests/integration.rs:53-76)") {
    val labels = seg.predictions.select("prediction").collect().map(_.getInt(0))
    assert(labels.forall(l => l >= 0 && l < 4))
    assert(labels.length == rfm.count())
    val sizes = labels.groupBy(identity).values.map(_.length)
    assert(sizes.sum == labels.length)
  }

  test("inertia finite and non-negative (reference tests/integration.rs:135-148)") {
    assert(seg.inertia >= 0 && java.lang.Double.isFinite(seg.inertia))
  }

  test("centroid shape k x 3 (reference src/model.rs:276-287)") {
    assert(seg.model.clusterCenters.length == 4)
    assert(seg.model.clusterCenters.forall(_.size == 3))
  }

  test("standardized features have mean~0 and population std~1 (reference src/data.rs:284-295)") {
    val (features, _) = Clustering.standardize(rfm)
    Seq("recency_z", "frequency_z", "monetary_z").foreach { c =>
      val vals = features.select(c).collect().map(_.getDouble(0))
      val mean = vals.sum / vals.length
      val varP = vals.map(v => (v - mean) * (v - mean)).sum / vals.length
      assert(math.abs(mean) < 1e-10, s"$c mean $mean")
      assert(math.abs(math.sqrt(varP) - 1.0) < 1e-9, s"$c std")
    }
  }

  test("predict: scaled by training scaler then argmin; arity checked (reference src/model.rs:26-50)") {
    val cluster = Clustering.predictCluster(seg, Array(30.0, 10.0, 500.0))
    assert(cluster >= 0 && cluster < 4)
    assertThrows[IllegalArgumentException](
      Clustering.predictCluster(seg, Array(1.0, 2.0)))
  }

  test("predict agrees with MLlib transform on training rows") {
    val sample = seg.predictions
      .select("features", "prediction").limit(20).collect()
    sample.foreach { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector](0)
      assert(Clustering.predictScaled(seg.model, v) == r.getInt(1))
    }
  }

  test("silhouette in [-1, 1] (reference src/model.rs:64-119)") {
    val s = Clustering.silhouetteSampled(Clustering.labeledPredictions(seg))
    assert(s >= -1.0 && s <= 1.0)
  }

  test("explicit literal-centroid argmin equals MLlib transform on EVERY row") {
    // the oracle-gated read-outs label via the reference's exact-euclidean
    // first-min argmin (src/model.rs:26-50); MLlib's findClosest is a
    // bound-pruned variant of the same argmin — pin them equal over the
    // full table so a divergence (a genuine near-tie) would surface here
    // rather than as an unexplained oracle mismatch
    val rows = Clustering.labeledPredictions(seg)
      .select("prediction", "cluster").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0).toLong == r.getLong(1)))
  }

  test("distributed decimal-sum inertia equals sequential recompute and tracks trainingCost") {
    val lab = Clustering.labeledPredictions(seg)
    val centers = seg.model.clusterCenters.map(_.toArray)
    // sequential driver-side recompute of Σ round(min_c d², 6)
    val expected = lab
      .select("recency_z", "frequency_z", "monetary_z").collect()
      .map { r =>
        val p = Array(r.getDouble(0), r.getDouble(1), r.getDouble(2))
        val dmin = centers.map { c =>
          val dr = p(0) - c(0); val df = p(1) - c(1); val dm = p(2) - c(2)
          dr * dr + df * df + dm * dm
        }.min
        BigDecimal(java.math.BigDecimal.valueOf(dmin)
          .setScale(6, java.math.RoundingMode.HALF_UP))
      }.sum
    val got = Clustering.inertia(spark, GraftTestSession.Sf0001)
      .head().getDouble(0)
    assert(math.abs(got - expected.toDouble) < 1e-9,
      s"decimal inertia $got vs sequential $expected")
    // and the explicit post-fit inertia is the converged trainingCost
    assert(math.abs(got - seg.inertia) / seg.inertia < 1e-2,
      s"explicit $got vs trainingCost ${seg.inertia}")
  }

  test("seeded fit is deterministic across invocations") {
    val seg2 = Clustering.fit(rfm, k = 4)
    assert(seg2.inertia == seg.inertia)
    assert(seg2.model.clusterCenters.map(_.toArray.toSeq).toSeq ==
      seg.model.clusterCenters.map(_.toArray.toSeq).toSeq)
  }

  test("cluster report prints sizes, inertia, silhouette, centroids (reference src/viz.rs:163-193)") {
    val report = Clustering.clusterReport(seg)
    assert(report.contains("Number of clusters: 4"))
    assert(report.contains("Inertia"))
    assert(report.contains("Silhouette"))
    assert(report.contains("Centroid 3"))
  }

  // ---- the driver-side fit below Clustering.LocalFitRows, sampled above ----

  /** The z-points of the fitted rows, in predictions order. */
  private def zPoints(s: Clustering.Segmentation): Array[Array[Double]] =
    s.predictions.select("recency_z", "frequency_z", "monetary_z").collect()
      .map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))

  private def sqdist(p: Array[Double], c: Array[Double]): Double = {
    val dr = p(0) - c(0); val df = p(1) - c(1); val dm = p(2) - c(2)
    dr * dr + df * df + dm * dm
  }

  /** First-min nearest center (reference src/model.rs:26-50). */
  private def nearest(p: Array[Double], cs: Array[Array[Double]]): Int =
    cs.indices.minBy(j => sqdist(p, cs(j)))

  /** The sampled path on the same input: `bound` below its row count. */
  private def fitSampled(df: DataFrame, k: Int, bound: Long): Clustering.Segmentation =
    Clustering.fitWith(df, k, 300, 1e-4, 42L)(bound)

  /** The sampled path on a sample of about half the rows. */
  private def fitHalf(df: DataFrame, k: Int): Clustering.Segmentation =
    fitSampled(df, k, df.count() / 2)

  test("the sf0.001 fit runs on the driver and is a Lloyd fixed point") {
    assert(Clustering.fitsLocally(seg.scaler.n))
    val cs = seg.model.clusterCenters.map(_.toArray)
    val pts = zPoints(seg)
    val numIter = seg.model.summary.numIter
    if (numIter < 300) cs.indices.foreach { j =>
      val mine = pts.filter(p => nearest(p, cs) == j)
      if (mine.nonEmpty) {
        val mean = Array.tabulate(3)(f => mine.map(_(f)).sum / mine.length)
        assert(math.sqrt(sqdist(mean, cs(j))) <= 1e-4,
          s"center $j is ${math.sqrt(sqdist(mean, cs(j)))} from its rows' mean")
      }
    }
  }

  test("the driver-side model carries k, numIter and trainingCost like MLlib's") {
    assert(seg.model.getK == 4)
    assert(seg.model.hasSummary)
    val numIter = seg.model.summary.numIter
    assert(numIter >= 1 && numIter <= 300, s"numIter $numIter")
    assert(seg.model.summary.trainingCost == seg.inertia)
    assert(java.lang.Double.isFinite(seg.inertia) && seg.inertia > 0)
    assert(seg.model.summary.clusterSizes.sum == seg.scaler.n)
  }

  test("driver-side inertia is the reference's Σ squared distance to the final assigned centroid") {
    // reference compute_inertia, src/model.rs:198-215
    val cs = seg.model.clusterCenters.map(_.toArray)
    val expected = zPoints(seg).map(p => sqdist(p, cs(nearest(p, cs)))).sum
    assert(math.abs(seg.inertia - expected) <= 1e-12 * expected,
      s"inertia ${seg.inertia} vs recomputed $expected")
  }

  test("the sampled path, called directly, meets the label, size and shape invariants") {
    val m = fitHalf(rfm, 4)
    val labels = m.predictions.select("prediction").collect().map(_.getInt(0))
    assert(labels.length == rfm.count())
    assert(labels.forall(l => l >= 0 && l < 4))
    assert(m.model.getK == 4)
    assert(m.model.clusterCenters.length == 4 && m.model.clusterCenters.forall(_.size == 3))
    assert(m.model.summary.clusterSizes.sum == labels.length)
    assert(m.inertia >= 0 && java.lang.Double.isFinite(m.inertia))
    // the same input, so the same scaler on both paths, up to the order
    // its sums run in over the sampled path's pinned copy
    assert(m.scaler.n == seg.scaler.n && closeScalers(m.scaler, seg.scaler))
  }

  private def closeScalers(a: Clustering.ScalerStats, b: Clustering.ScalerStats): Boolean =
    (a.mu ++ a.sd).zip(b.mu ++ b.sd).forall { case (x, y) =>
      math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    }

  // ---- fit's resource contract ---------------------------------------------

  /** A small Online-Retail-shaped CSV (200 customers, 3,000 lines) under a
    * fresh temp dir, so no other spec's cache can hold its plan. */
  private lazy val retailCsv: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fit_csv")
    val rnd = new scala.util.Random(7)
    val lines = (0 until 3000).map { i =>
      val cust = 10000 + rnd.nextInt(200)
      val qty = 1 + rnd.nextInt(12)
      val price = 0.25 * (1 + rnd.nextInt(200))
      f"${500000 + i / 3},S$i,ITEM,$qty,${1 + rnd.nextInt(12)}%02d/${1 + rnd.nextInt(28)}%02d/2011 10:00:00,$price,$cust,United Kingdom"
    }
    val p = dir.resolve("retail.csv")
    java.nio.file.Files.writeString(p,
      (Retail.retailSchema.fieldNames.mkString(",") +: lines).mkString("", "\n", "\n"))
    p.toString
  }

  private def csvRfm(): DataFrame =
    Retail.loadAndProcess(spark, retailCsv).withColumnRenamed("CustomerID", "custkey")

  /** Runs `body` with `listener` attached until every event of `body` has
    * reached it. */
  private def listening(listener: SparkListener)(body: => Any): Unit = {
    val sc = spark.sparkContext
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
  }

  /** Records read by the stages of `body` that scan a file. */
  private def fileRecordsRead(body: => Any): Long = {
    val records = new java.util.concurrent.atomic.AtomicLong
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          records.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    })(body)
    records.get
  }

  test("fit reads a CSV-derived RFM's rows exactly once") {
    val once = fileRecordsRead(csvRfm().write.format("noop").mode("overwrite").save())
    assert(once > 0)
    val inFit = fileRecordsRead(Clustering.fit(csvRfm(), k = 3))
    assert(inFit == once, s"fit read $inFit CSV records; one scan reads $once")
  }

  test("the empty check and the fit together read a CSV-derived RFM's rows once") {
    val once = fileRecordsRead(csvRfm().write.format("noop").mode("overwrite").save())
    val inPipeline = fileRecordsRead(
      Clustering.fit(Retail.requireNonEmpty(csvRfm(), "RFM aggregation"), k = 3))
    assert(inPipeline == once,
      s"requireNonEmpty + fit read $inPipeline CSV records; one scan reads $once")
  }

  /** Spark jobs started by `body`. */
  private def jobsIn(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(body)
    jobs.get
  }

  test("below the bound, fit on a materialized input runs at most 3 jobs, report and charts none") {
    val rfmIn = Retail.requireNonEmpty(csvRfm(), "RFM aggregation")
    var s: Clustering.Segmentation = null
    val fitJobs = jobsIn { s = Clustering.fit(rfmIn, k = 3) }
    assert(Clustering.fitsLocally(s.scaler.n))
    assert(fitJobs <= 3, s"fit ran $fitJobs jobs")
    val png = java.nio.file.Files.createTempDirectory("graft_jobs").resolve("plot.png").toString
    val outJobs = jobsIn {
      Clustering.clusterReport(s)
      Charts.visualizationReport(s, png)
    }
    assert(outJobs == 0, s"report and charts ran $outJobs jobs")
  }

  /** The read-outs a segmentation carries equal the frame computations over
    * its `predictions`, on both paths. */
  private def assertReadOuts(name: String, input: DataFrame): Unit = {
    val (_, inputScaler) = Clustering.standardize(input)
    Seq("driver-side" -> Clustering.fit(input, k = 4),
      "sampled" -> fitHalf(input, 4)).foreach { case (path, s) =>
      val p = s.predictions
      val counts = p.groupBy("prediction").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(s.sizes == (0 until 4).map(c => counts.getOrElse(c, 0L)),
        s"$name, $path: sizes ${s.sizes} vs $counts")
      val b = p.agg(min("frequency_z"), max("frequency_z"),
        min("monetary_z"), max("monetary_z")).head()
      assert(s.bounds == Clustering.PlotBounds(b.getDouble(0), b.getDouble(1),
        b.getDouble(2), b.getDouble(3)), s"$name, $path: bounds ${s.bounds} vs $b")
      val sil = Clustering.silhouetteSampled(Clustering.labeledPredictions(s))
      assert(s.silhouette == sil, s"$name, $path: silhouette ${s.silhouette} vs $sil")
      val scatter = Charts.scatterSample(p, Charts.MaxRenderPoints)
        .select("frequency_z", "monetary_z", "prediction").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2))).toSeq
      assert(s.scatter == scatter, s"$name, $path: scatter sample differs")
      // the z columns bit-equal to standardize's with the fit's scaler, row
      // by row: the input's own on the driver path, the same stats taken
      // over its pinned copy on the sampled path
      val sc = s.scaler
      if (path == "driver-side")
        assert(sc.mu.sameElements(inputScaler.mu) && sc.sd.sameElements(inputScaler.sd))
      else assert(closeScalers(sc, inputScaler), s"$name, $path: scaler")
      val z = Clustering.FeatureCols.zipWithIndex.foldLeft(input) { case (df, (c, i)) =>
        df.withColumn(s"${c}_z", (col(c) - lit(sc.mu(i))) / lit(sc.sd(i)))
      }
      val zs = Seq("recency_z", "frequency_z", "monetary_z")
      val joined = p.select(col("custkey") +: zs.map(c => col(c).as(s"p_$c")): _*)
        .join(z.select(col("custkey") +: zs.map(col): _*), "custkey").collect()
      val mismatched = joined.count(r => (1 to 3).exists(i =>
        java.lang.Double.doubleToRawLongBits(r.getDouble(i)) !=
          java.lang.Double.doubleToRawLongBits(r.getDouble(i + 3))))
      assert(joined.length == s.scaler.n && mismatched == 0,
        s"$name, $path: ${joined.length} rows joined, $mismatched with z unlike standardize's")
    }
  }

  test("the carried read-outs equal the frame computations on sf0.001, both paths") {
    assertReadOuts("sf0.001", rfm)
  }

  test("the carried read-outs equal the frame computations on the CSV fixture, both paths") {
    // materialized as the pipeline feeds it: the stats aggregate over the
    // lazy CSV lineage and over the fit's cache of it group the partial
    // sums differently, so their μ and σ can differ in the last bit
    assertReadOuts("csv", Retail.requireNonEmpty(csvRfm(), "RFM aggregation"))
  }

  test("the driver path's predictions have the MLlib path's schema and MLlib's labels") {
    // MLlib's transform of the standardized features, called directly and
    // as the sampled path's predictions
    val direct = seg.model.transform(Clustering.standardize(rfm)._1).schema
    assert(seg.predictions.schema == direct,
      s"${seg.predictions.schema.treeString} vs ${direct.treeString}")
    val m = fitHalf(rfm, 4)
    assert(seg.predictions.schema == m.predictions.schema,
      s"${seg.predictions.schema.treeString} vs ${m.predictions.schema.treeString}")
    // the driver's first-min labels against MLlib's transform with the same centers
    val mllib = seg.model.summary.predictions.select(col("custkey"), col("prediction").as("m"))
    val differ = seg.predictions.join(mllib, "custkey")
      .filter(col("prediction") =!= col("m")).count()
    assert(differ == 0, s"$differ rows labeled differently")
  }

  test("fit leaves a caller's cache in place and no cache entry of its own") {
    Seq[(String, DataFrame => Clustering.Segmentation)](
      "driver" -> (Clustering.fit(_, k = 3)),
      "sampled" -> (fitHalf(_, 3))).foreach { case (path, fit) =>
      val cachedIn = csvRfm().cache()
      try {
        fit(cachedIn)
        assert(cachedIn.storageLevel != StorageLevel.NONE, path)
      } finally cachedIn.unpersist()
      val uncached = csvRfm()
      assert(uncached.storageLevel == StorageLevel.NONE)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val s = fit(uncached)
      assert(uncached.storageLevel == StorageLevel.NONE,
        s"$path: fit left a CacheManager entry for its input's plan")
      assert(s.predictions.storageLevel == StorageLevel.NONE,
        s"$path: the predictions stay cached at ${s.predictions.storageLevel}")
      val left = spark.sparkContext.getPersistentRDDs.keySet.filterNot(before)
      assert(left.isEmpty, s"$path: fit left persisted RDDs $left")
    }
  }

  // ---- adversarial inputs, on both paths ------------------------------------

  private def adversarial(name: String, rows: Seq[(Long, Double, Double, Double)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("custkey", "recency", "frequency", "monetary")
    Seq("driver-side" -> Clustering.fit(df, k = 4),
      // a half sample of these 10 keys holds fewer than k rows
      "sampled" -> fitSampled(df, 4, rows.length - 1)).foreach { case (path, s) =>
      val cs = s.model.clusterCenters
      assert(cs.length == 4, s"$name, $path: ${cs.length} centers")
      assert(cs.forall(_.toArray.forall(x => java.lang.Double.isFinite(x))),
        s"$name, $path: centers ${cs.mkString(" ")}")
      val labels = s.predictions.select("prediction").collect().map(_.getInt(0))
      assert(labels.length == rows.length && labels.forall(l => l >= 0 && l < 4),
        s"$name, $path: labels ${labels.mkString(",")}")
      assert(java.lang.Double.isFinite(s.inertia) && s.inertia >= 0,
        s"$name, $path: inertia ${s.inertia}")
      assert(Clustering.predictScaled(s.model, Vectors.dense(0.0, 0.0, 0.0)) < 4)
    }
  }

  test("all-identical rows give k finite centers on both paths") {
    adversarial("identical", (0 until 10).map(i => (i.toLong, 5.0, 2.0, 100.0)))
  }

  test("fewer distinct points than k give k finite centers on both paths") {
    adversarial("two distinct", (0 until 10).map(i =>
      if (i % 2 == 0) (i.toLong, 5.0, 2.0, 100.0) else (i.toLong, 50.0, 9.0, 900.0)))
  }

  // ---- the sampled path at scale: quality, determinism, jobs ---------------

  /** 2¹⁸ planted RFM rows (four partitions in the sampled path's cache) in
    * four segments shaped like the perfbench generator's, one of them a
    * 0.4% "whale" segment far out in frequency and monetary; custkeys
    * shuffled over the rows. */
  private lazy val planted: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val n = 1 << 18
    // share, then (mean, sd) of recency, frequency and monetary
    val segments = Seq(
      (0.700, (30.0, 10.0), (4.0, 1.0), (300.0, 50.0)),
      (0.246, (300.0, 30.0), (1.5, 0.5), (150.0, 30.0)),
      (0.050, (20.0, 5.0), (25.0, 5.0), (2000.0, 300.0)),
      (0.004, (10.0, 3.0), (120.0, 20.0), (40000.0, 5000.0)))
    def draw(p: (Double, Double)) = p._1 + p._2 * rnd.nextGaussian()
    val rows = segments.flatMap { case (share, r, f, m) =>
      Seq.fill(math.round(share * n).toInt)((draw(r), draw(f), draw(m)))
    }
    val keys = rnd.shuffle(rows.indices.toVector)
    val df = rows.zip(keys).map { case ((r, f, m), key) => (10000L + key, r, f, m) }
      .toDF("custkey", "recency", "frequency", "monetary").cache()
    assert(df.count() == n)
    df
  }

  private val PlantedBound = 1L << 14

  private lazy val plantedSampled = fitSampled(planted, 4, PlantedBound)

  test("above the bound, a sixth-of-the-table sample refines to the driver fit's WCSS") {
    val n = planted.count()
    assert(PlantedBound * 6 <= n)
    val driver = Clustering.fit(planted, k = 4)
    assert(Clustering.fitsLocally(n))
    val whales = driver.sizes.min
    assert(whales > 0 && whales * 200 <= n, s"sizes ${driver.sizes}")
    assert(plantedSampled.inertia <= 1.01 * driver.inertia,
      s"sampled WCSS ${plantedSampled.inertia} vs driver ${driver.inertia}")
  }

  /** Centers, inertia and numIter, as bits. */
  private def fitBits(s: Clustering.Segmentation) = (
    s.model.clusterCenters.map(_.toArray.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq,
    java.lang.Double.doubleToRawLongBits(s.inertia), s.model.summary.numIter)

  test("the sampled fit is bit-identical across calls and across input partitionings") {
    val again = fitSampled(planted, 4, PlantedBound)
    assert(fitBits(again) == fitBits(plantedSampled))
    val Seq(one, eight) = Seq(1, 8).map { p =>
      val in = planted.repartition(p)
      assert(in.rdd.getNumPartitions == p)
      fitSampled(in, 4, PlantedBound)
    }
    assert(fitBits(one) == fitBits(eight), s"${fitBits(one)} vs ${fitBits(eight)}")
    assert(fitBits(one) == fitBits(plantedSampled))
  }

  test("above the bound, each full-table step is one aggregate job plus its shuffle stage job") {
    planted.count()
    var first, all: Clustering.Segmentation = null
    val firstJobs = jobsIn { first = Clustering.fitWith(planted, 4, 1, 1e-4, 42L)(PlantedBound) }
    val allJobs = jobsIn { all = fitSampled(planted, 4, PlantedBound) }
    assert(first.model.summary.numIter == 1)
    val steps = all.model.summary.numIter
    assert(steps > 1, s"$steps steps")
    assert(allJobs - firstJobs == 2 * (steps - 1), s"$allJobs jobs in $steps steps, $firstJobs in 1")
    assert(firstJobs == 2 + SampledFitOverheadJobs, s"$firstJobs jobs in one step")
  }

  /** Jobs of a sampled fit outside its steps: the two stats aggregates,
    * the pinned cache's shuffle, the sample, the aggregate at the final
    * centers, and the bounds, scatter and silhouette read-outs. */
  private val SampledFitOverheadJobs = 13

  test("a sample with fewer than k rows is a declared error") {
    import spark.implicits._
    // of custkeys 0..9 only 6 and 9 have an md5 variate below 0.5
    val df = (0 until 10).map(i => (i.toLong, i.toDouble, 2.0 * i, 3.0 * i))
      .toDF("custkey", "recency", "frequency", "monetary")
    val e = intercept[IllegalArgumentException](fitSampled(df, 4, 5))
    assert(e.getMessage.contains("fewer than k = 4"), e.getMessage)
  }
}
