package graft

import graft.operators.{Clustering, Retail, Rfm}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Application/orchestration surface — the Spark mirror of the reference's
  * CLI contract (SURVEY §2.5):
  *  - [[Config]] ↔ clap `Args` (reference `src/cli.rs:6-37`), same defaults;
  *  - [[parseRfmValues]] ↔ `Args::parse_rfm_values` (`src/cli.rs:42-66`);
  *  - [[runFullPipeline]] ↔ `run_full_pipeline` (`src/main.rs:84-162`);
  *  - [[runPredictionMode]] ↔ `run_prediction_mode` (`src/main.rs:31-81`);
  *  - chart-file sinks (S4/S5, reference `src/viz.rs`) are rendered by
  *    [[graft.operators.Charts]] at `--output` (+ `_sizes` suffix) in full
  *    pipeline mode; the console statistics report (S6) is preserved and the
  *    two charts' data feeds are also exposed as queries (scatter:
  *    `Clustering.scatterData`; bars: `Clustering.clusterSizes`).
  */
object GraftApp {

  /** Reference `Args` with identical defaults (`src/cli.rs:6-37`). `input`
    * may be a retail CSV path or a testdata sf directory. */
  final case class Config(
      input: String = "data.csv",
      clusters: Int = 4,
      output: String = "cluster_plot.png",
      predict: Option[String] = None,
      maxIters: Int = 300,
      tolerance: Double = 1e-4,
      verbose: Boolean = false,
      help: Boolean = false)

  /** clap-shaped help (the reference's derive layer prints this for
    * `-h/--help` — `src/cli.rs:6-37` doc comments become the option help). */
  private[graft] val HelpText: String =
    """Customer segmentation CLI using K-Means clustering on RFM data
      |
      |Usage: graft.GraftApp [OPTIONS]
      |
      |Options:
      |  -i, --input <INPUT>          Path to the input CSV file or a testdata
      |                               directory [default: data.csv]
      |  -k, --clusters <CLUSTERS>    Number of clusters for K-Means [default: 4]
      |  -o, --output <OUTPUT>        Output path for the visualization plot
      |                               [default: cluster_plot.png]
      |  -p, --predict <PREDICT>      Prediction mode: R,F,M values as a
      |                               comma-separated string, e.g. "30,10,500.0"
      |      --max-iters <MAX_ITERS>  Maximum iterations for K-Means [default: 300]
      |      --tolerance <TOLERANCE>  Tolerance for K-Means convergence
      |                               [default: 1e-4]
      |  -v, --verbose                Enable verbose output
      |  -h, --help                   Print help""".stripMargin

  /** "R,F,M" → three doubles; arity and parse errors surfaced with the
    * reference's conditions (`src/cli.rs:42-66`). */
  def parseRfmValues(s: String): Array[Double] = {
    val parts = s.split(",").map(_.trim)
    require(parts.length == 3,
      s"Expected 3 comma-separated values (R,F,M), got ${parts.length}")
    parts.map { p =>
      try p.toDouble
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"Invalid numeric value: '$p'")
      }
    }
  }

  /** Load RFM features from either surface: a retail CSV (reference schema)
    * or a testdata directory (orders parquet). Both branches emit the same
    * lowercase schema (custkey, recency, frequency, monetary) — the CSV
    * branch renames `CustomerID` so [[Clustering.fit]]'s key column
    * (`custkey`) resolves on either surface (Spark resolves the feature
    * columns case-insensitively, but no casing of `CustomerID` is
    * `custkey`). */
  def loadRfm(spark: SparkSession, input: String): DataFrame =
    if (input.endsWith(".csv"))
      Retail.requireNonEmpty(
        Retail.loadAndProcess(spark, input)
          .withColumnRenamed("CustomerID", "custkey"),
        "RFM aggregation")
    else
      Retail.requireNonEmpty(Rfm.rfmOrders(spark, input), "RFM aggregation")

  /** Full pipeline: load → fit → chart files → stats report (reference
    * `src/main.rs:84-162`, which calls `generate_visualization_report` —
    * `src/viz.rs:199-215` — writing the scatter PNG at `--output` and the
    * size chart at the `_sizes`-suffixed path). Returns the fitted
    * segmentation and prints the S6 report. */
  def runFullPipeline(spark: SparkSession, cfg: Config): Clustering.Segmentation = {
    val t0 = System.nanoTime()
    val seg = fitFromConfig(spark, cfg)
    // reference order: Step 3 prints cluster statistics, Step 4 renders the
    // charts (`src/main.rs:124-151`) — keep the console output sequence
    val report = Clustering.clusterReport(seg)
    println(report)
    operators.Charts.visualizationReport(seg, cfg.output)
    if (cfg.verbose)
      println(f"Total pipeline time: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    seg
  }

  /** Load + fit only — shared by both modes. Prediction mode deliberately
    * does NOT render charts (reference `run_prediction_mode`,
    * `src/main.rs:31-81`, fits and prints but never touches `src/viz.rs`). */
  private def fitFromConfig(spark: SparkSession, cfg: Config): Clustering.Segmentation =
    Clustering.fit(loadRfm(spark, cfg.input), cfg.clusters, cfg.maxIters,
      cfg.tolerance)

  /** Prediction mode: full refit then classify one point (reference
    * `src/main.rs:31-81` — the model is re-trained per invocation there;
    * the session fit-cache in [[Clustering]] is our documented deviation). */
  def runPredictionMode(spark: SparkSession, cfg: Config, rfmStr: String): Int = {
    val point = parseRfmValues(rfmStr)
    val seg = fitFromConfig(spark, cfg)
    val cluster = Clustering.predictCluster(seg, point)
    val size = seg.predictions
      .filter(org.apache.spark.sql.functions.col("prediction") === cluster).count()
    val total = seg.predictions.count()
    println(f"Predicted cluster: $cluster ($size customers, " +
      f"${size.toDouble / total * 100}%.1f%% of base)")
    cluster
  }

  /** CLI entry: `--input X -k N --predict "R,F,M" --max-iters N
    * --tolerance T --verbose` (reference `src/main.rs:11-28` dispatch). */
  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toList, Config())
    if (cfg.help) { println(HelpText); return } // clap prints help and exits 0
    // the master is a deployment setting, not the partition count
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      conf = Map("spark.master" ->
        sys.env.getOrElse("SPARK_MASTER", "local[*]")))
    try cfg.predict match {
      case Some(p) => runPredictionMode(spark, cfg, p)
      case None => runFullPipeline(spark, cfg)
    } finally spark.stop()
  }

  /** clap-style numeric-flag errors (reference `src/cli.rs:27-32`: clap's
    * derive layer reports `invalid value 'X' for '--flag <FLAG>'` instead of
    * surfacing the raw parse exception). A bare NumberFormatException from
    * `-k x` is a CLI-parity gap — the flag name is the context a user needs. */
  private[graft] def parseIntFlag(flag: String, v: String): Int =
    try v.trim.toInt
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"invalid value '$v' for '$flag': expected an integer")
    }

  private[graft] def parseDoubleFlag(flag: String, v: String): Double =
    try v.trim.toDouble
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"invalid value '$v' for '$flag': expected a number")
    }

  @annotation.tailrec
  private[graft] def parseArgs(args: List[String], cfg: Config): Config = args match {
    case Nil => cfg
    case ("-i" | "--input") :: v :: rest => parseArgs(rest, cfg.copy(input = v))
    case ("-k" | "--clusters") :: v :: rest =>
      parseArgs(rest, cfg.copy(clusters = parseIntFlag("-k/--clusters", v)))
    case ("-o" | "--output") :: v :: rest => parseArgs(rest, cfg.copy(output = v))
    case ("-p" | "--predict") :: v :: rest =>
      parseArgs(rest, cfg.copy(predict = Some(v)))
    case "--max-iters" :: v :: rest =>
      parseArgs(rest, cfg.copy(maxIters = parseIntFlag("--max-iters", v)))
    case "--tolerance" :: v :: rest =>
      parseArgs(rest, cfg.copy(tolerance = parseDoubleFlag("--tolerance", v)))
    case ("-v" | "--verbose") :: rest => parseArgs(rest, cfg.copy(verbose = true))
    case ("-h" | "--help") :: rest => parseArgs(rest, cfg.copy(help = true))
    case other :: _ =>
      throw new IllegalArgumentException(s"Unknown argument: $other")
  }
}
