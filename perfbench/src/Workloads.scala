package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Charts, Clustering, Retail}

/** The reference pipeline on the generated retail CSV: load, clean and RFM,
  * then an uncached K-Means fit, the statistics report, both charts and one
  * prediction.  Each stage call is one op.  The CSV seed is the K-Means
  * seed too. */
final class Paper(opt: Map[String, String], runDir: File, seed: Long, inject: String)
    extends Workload {
  val csv = opt("csv")
  val customers = opt("truth.customers").toLong
  val sumFrequency = opt("truth.sum_frequency").toDouble
  val sumMonetary = opt("truth.sum_monetary").toDouble
  val sumRecency = opt("truth.sum_recency_days").toDouble
  val plot = new File(runDir, "plot.png")
  val sizesPlot = new File(Charts.sizesPath(plot.getPath))
  val K = 4
  val Probe = Array(30.0, 10.0, 500.0)

  def deferChecks = true
  def minTimedOps = 0
  // one pass is one run of the reference's pipeline
  def pipeline = true
  // checks read the cached fit, so every pass is checked and the first
  // pass of the run is the reference for all later ones
  def checks(warm: Boolean, index: Int) = true

  // the run's first pass is the reference every later pass must repeat
  // bit for bit
  private var reference: Option[(Seq[Seq[Double]], Double, Int)] = None
  private var referencePrediction: Option[Int] = None
  private var segmentation: Option[Clustering.Segmentation] = None
  private var customersOut = 0L

  private def seg(): Clustering.Segmentation =
    segmentation.getOrElse(throw new IllegalStateException("no segmentation: fit failed"))

  /** A stage is one call into the program; it has no separate build. */
  private def stage(name: String)(body: => Any)(check: Any => Option[String]): Op =
    Op(name, () => (), _ => body, check)

  private def loadFrame(spark: SparkSession): DataFrame =
    Retail.loadAndProcess(spark, csv).withColumnRenamed("CustomerID", "custkey")

  def pass(spark: SparkSession, round: Int, index: Int): Seq[Op] = {
    segmentation = None
    var rfm: DataFrame = null
    val ops = Seq(
      // GraftApp.loadRfm, split so the frame build and its eager
      // non-empty check (one full load+clean+RFM job) are timed apart
      Op("load", () => loadFrame(spark),
        df => { rfm = Retail.requireNonEmpty(df.asInstanceOf[DataFrame], "RFM aggregation"); rfm },
        out => checkRfm(segmentation.map(_.predictions).getOrElse(out.asInstanceOf[DataFrame]), true)),
      stage("fit") {
        val s = Clustering.fit(rfm, K, 300, 1e-4, seed)
        segmentation = Some(s)
        s
      }(s => checkFit(s.asInstanceOf[Clustering.Segmentation])),
      stage("report")(Clustering.clusterReport(seg()))(r => checkReport(r.toString)),
      stage("charts") {
        plot.delete(); sizesPlot.delete()
        Charts.visualizationReport(seg(), plot.getPath)
      }(_ => checkCharts()),
      stage("predict")(Clustering.predictCluster(seg(), Probe))(c => checkPredict(c.asInstanceOf[Int])))
    ops ++ (inject match {
      case "throw" => Seq(stage("inject_throw")(throw new IllegalStateException("injected failure"))(_ => None))
      case "wrong" => Seq(Op("inject_wrong", () => loadFrame(spark).limit(10),
        check = df => checkRfm(df.asInstanceOf[DataFrame], false)))
      case _ => Nil
    })
  }

  override def extras(): Map[String, Double] =
    Map("retail.customers_out" -> customersOut.toDouble) ++
      segmentation.map(s => "fit.iterations" -> s.model.summary.numIter.toDouble)

  /** The RFM table against the generator's ground truth.  Monetary sums are
    * exact (every price is a multiple of 0.25), so they must match exactly. */
  private def checkRfm(df: DataFrame, record: Boolean): Option[String] = {
    val r = df.agg(count(lit(1)), sum("frequency"), sum("monetary"), sum("recency")).head()
    val n = r.getLong(0)
    if (record) customersOut = n
    if (n != customers) Some(s"$n customers, expected $customers")
    else if (r.getDouble(1) != sumFrequency) Some(s"sum(frequency) ${r.getDouble(1)}, expected $sumFrequency")
    else if (r.getDouble(2) != sumMonetary) Some(s"sum(monetary) ${r.getDouble(2)}, expected $sumMonetary")
    else if (math.abs(r.getDouble(3) - sumRecency) > 1e-9 * sumRecency)
      Some(s"sum(recency) ${r.getDouble(3)}, expected $sumRecency")
    else None
  }

  private def checkFit(s: Clustering.Segmentation): Option[String] = {
    val sizes = s.predictions.groupBy("prediction").count().collect().map(_.getLong(1))
    val centers = s.model.clusterCenters.map(_.toArray.toSeq).toSeq
    val got = (centers, s.inertia, s.model.summary.numIter)
    if (sizes.sum != customers) Some(s"cluster sizes sum to ${sizes.sum}, expected $customers")
    else if (centers.size != K) Some(s"${centers.size} centroids, expected $K")
    else reference match {
      case None => reference = Some(got); None
      case Some(ref) if ref != got =>
        Some(s"fit differs from the run's first pass: $got vs $ref")
      case _ => None
    }
  }

  private def checkReport(r: String): Option[String] = {
    val sizes = """Cluster (\d+): (\d+) customers""".r.findAllMatchIn(r).map(_.group(2).toLong).toSeq
    if (sizes.size != K || sizes.sum != customers)
      Some(s"report lists sizes $sizes, expected $K clusters summing to $customers")
    else if (!r.contains("Silhouette") || !r.contains("Inertia")) Some("report lacks silhouette or inertia")
    else None
  }

  private def checkCharts(): Option[String] =
    Seq(plot -> (800, 600), sizesPlot -> (600, 400)).collectFirst {
      case (f, (w, h)) if !f.isFile || {
        val img = javax.imageio.ImageIO.read(f)
        img == null || img.getWidth != w || img.getHeight != h
      } => s"${f.getName} missing or not a ${w}x$h image"
    }

  private def checkPredict(c: Int): Option[String] =
    if (c < 0 || c >= K) Some(s"cluster $c out of range")
    else referencePrediction match {
      case None => referencePrediction = Some(c); None
      case Some(r) if r != c => Some(s"predicted $c, the run's first pass predicted $r")
      case _ => None
    }
}

/** Contract lanes on the committed testdata: each op builds the lane's frame
  * (`SparkEntry.queries`) and forces every output row through the noop sink.
  * The seed orders the lanes within each pass. */
final class Lanes(opt: Map[String, String], dataDir: String, seed: Long, inject: String)
    extends Workload {
  val names: Seq[String] = opt("lanes").split(",").toSeq
  val queries = graft.SparkEntry.queries
  val expected: Map[String, (Long, Long, Long)] =
    Files.readAllLines(Paths.get(opt("fingerprints"))).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong, a(3).toLong)).toMap

  def deferChecks = false
  def minTimedOps = 40
  def pipeline = false
  // a check re-runs the lane, as long as the op itself: every lane is
  // checked in the first two timed passes
  def checks(warm: Boolean, index: Int) = !warm && index <= 2

  require(names.forall(queries.contains), s"unknown lanes: ${names.filterNot(queries.contains)}")
  require(names.forall(expected.contains), s"no fingerprint for ${names.filterNot(expected.contains)}")

  private def noop(df: Any): Any = {
    df.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save()
    df
  }

  private def check(lane: String, df: DataFrame): Option[String] = {
    val fp = Fingerprint.of(df)
    val want = expected(lane)
    if (fp != want) Some(s"fingerprint $fp, expected $want") else None
  }

  def pass(spark: SparkSession, round: Int, index: Int): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + round * 1009L + index).shuffle(names)
    val lanes = order.map(n => Op(n, () => queries(n)(spark, dataDir), noop,
      df => check(n, df.asInstanceOf[DataFrame])))
    lanes ++ (inject match {
      case "throw" => Seq(Op("inject_throw", () => throw new IllegalStateException("injected failure")))
      case "wrong" => Seq(Op("inject_wrong", () => queries(names.head)(spark, dataDir).limit(0), noop,
        df => check(names.head, df.asInstanceOf[DataFrame])))
      case _ => Nil
    })
  }
}

/** Row count plus an order-independent content hash of a frame.  Floating
  * point values are hashed at ten significant digits, so a sum that lands
  * on a neighbouring double after a different merge order still matches. */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case s: StructType => struct(s.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(k, v, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  def of(df: DataFrame): (Long, Long, Long) = {
    val d = df.toDF(df.columns.indices.map("c" + _): _*)
    val h = xxhash64(d.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = d.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Writes the fingerprint of each lane's verified output, `DIR/<lane>` as
    * `graft.Verify` wrote it, to FILE, one lane a line:
    * `perfbench.Fingerprint DIR FILE RUN_DIR LANE,...` (RUN_DIR holds the
    * session's local dir and warehouse). */
  def main(args: Array[String]): Unit = {
    val Array(verifyDir, file, runDir, lanes) = args
    val spark = Main.session("perfbench-fingerprint", Runtime.getRuntime.availableProcessors,
      new File(runDir), verifyDir)
    val rows = try lanes.split(",").toSeq.sorted.map { n =>
      val (r, a, b) = of(spark.read.parquet(new File(verifyDir, n).getPath))
      s"$n\t$r\t$a\t$b"
    } finally spark.stop()
    Files.write(Paths.get(file), (Seq(
      "# lane\trows\tsum(low 32 bits of row hash)\tsum(high 32 bits of row hash)",
      "# of graft.Verify outputs on perfbench/data/sf0.01 that .claude/skills/verify/check.py",
      "# reported OK; written by perfbench/fingerprint.py (see README.md)") ++ rows).asJava)
  }
}
