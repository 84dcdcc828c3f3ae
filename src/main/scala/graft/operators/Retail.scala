package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity retail pipeline (customer segmentation input stage).
  *
  * Re-expresses the reference's data stage as a single declarative Spark plan:
  *  - load + clean (reference `src/data.rs:97-130`)
  *  - RFM feature aggregation (reference `src/data.rs:147-191`)
  *
  * Semantics preserved exactly:
  *  - Clean filter `Quantity > 0 AND UnitPrice > 0 AND CustomerID IS NOT NULL`
  *    (reference `src/data.rs:106-112`). Cancellations (`C`-prefixed invoices)
  *    carry negative quantities, so no string predicate is needed — the
  *    executed reference predicate is exactly this numeric one.
  *  - `InvoiceDate` parsed with `MM/dd/yyyy HH:mm:ss` (reference
  *    `src/data.rs:115-123`); already-typed timestamp columns pass through.
  *  - `TotalAmount = Quantity * UnitPrice` (reference `src/data.rs:124`).
  *  - Recency in fractional days from a configurable reference date, default
  *    2011-12-09T00:00:00Z (reference `src/data.rs:98-99`), via epoch
  *    arithmetic `(ref_µs − max(InvoiceDate)_µs)/1e6/86400` (reference
  *    `src/data.rs:166-169`).
  *  - Frequency = exact distinct invoice count cast to double (reference
  *    `src/data.rs:158-161`); Monetary = sum of TotalAmount (`src/data.rs:163`).
  *  - Post-aggregation HAVING filter `Recency >= 0 AND Frequency > 0 AND
  *    Monetary > 0` (reference `src/data.rs:177-183`).
  *
  * Scale notes: the whole stage is one narrow scan + one hash aggregate keyed
  * on CustomerID — the only shuffle. By design (not measured past the 41 MB
  * benchmark CSV) the aggregate runs map-side partial first (Spark's default
  * HashAggregate partial/final split), so the exchange carries one row per
  * (partition, customer), not one per transaction, whatever the input size.
  */
object Retail {

  /** Explicit input schema — deterministic, no inference pass (the reference
    * infers from 10k rows with `ignore_errors`; PERMISSIVE mode reproduces the
    * malformed-row-to-null tolerance, reference `src/data.rs:103-104`). */
  val retailSchema: StructType = StructType(Seq(
    StructField("InvoiceNo", StringType),
    StructField("StockCode", StringType),
    StructField("Description", StringType),
    StructField("Quantity", IntegerType),
    StructField("InvoiceDate", StringType),
    StructField("UnitPrice", DoubleType),
    StructField("CustomerID", LongType),
    StructField("Country", StringType)))

  /** Default reference date — reference `src/data.rs:98-99`. */
  val DefaultReferenceDate = "2011-12-09T00:00:00Z"

  /** Lazy CSV scan with malformed-row tolerance (reference `src/data.rs:102-105`). */
  def loadCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", true)
      .option("mode", "PERMISSIVE")
      .schema(retailSchema)
      .csv(path)

  /** Clean + derive stage (reference `src/data.rs:106-126`).
    * Accepts either a string `InvoiceDate` (parsed `MM/dd/yyyy HH:mm:ss`,
    * falling back to ISO `yyyy-MM-dd'T'HH:mm:ss` as the reference's
    * integration fixtures use — `tests/integration.rs:17`) or an
    * already-typed timestamp column (parquet pass-through). */
  def cleanTransactions(raw: DataFrame): DataFrame = {
    val ts = raw.schema("InvoiceDate").dataType match {
      case _: TimestampType => col("InvoiceDate")
      case _ => coalesce( // try_: ANSI mode must not abort on the other format
        try_to_timestamp(col("InvoiceDate"), lit("MM/dd/yyyy HH:mm:ss")),
        try_to_timestamp(col("InvoiceDate"), lit("yyyy-MM-dd'T'HH:mm:ss")))
    }
    raw
      .filter(col("Quantity") > 0 && col("UnitPrice") > 0.0 &&
        col("CustomerID").isNotNull)
      .withColumn("InvoiceDate", ts)
      .withColumn("TotalAmount", col("Quantity") * col("UnitPrice"))
  }

  /** RFM aggregation (reference `src/data.rs:147-191`).
    * @param referenceDate ISO instant used as "now" for Recency. */
  def rfmFeatures(clean: DataFrame,
                  referenceDate: String = DefaultReferenceDate): DataFrame = {
    val refMicros = java.time.Instant.parse(referenceDate).toEpochMilli * 1000L
    clean
      .groupBy(col("CustomerID"))
      .agg(
        max(col("InvoiceDate")).as("LastPurchaseDate"),
        countDistinct(col("InvoiceNo")).cast(DoubleType).as("Frequency"),
        sum(col("TotalAmount")).as("Monetary"))
      .withColumn("Recency",
        ((lit(refMicros) - unix_micros(col("LastPurchaseDate")))
          .cast(DoubleType) / 1000000.0 / 86400.0))
      .select(col("CustomerID"), col("Recency"), col("Frequency"), col("Monetary"))
      .filter(col("Recency") >= 0 && col("Frequency") > 0 && col("Monetary") > 0)
  }

  /** Full load: CSV path → RFM features (reference `load_and_process_data`,
    * `src/data.rs:97-130` + `src/data.rs:147-191`). Empty-input guards
    * (reference `src/data.rs:128-130`, `src/data.rs:186-188`) are surfaced
    * lazily by [[requireNonEmpty]] so callers control when the action runs. */
  def loadAndProcess(spark: SparkSession, path: String,
                     referenceDate: String = DefaultReferenceDate): DataFrame =
    rfmFeatures(cleanTransactions(loadCsv(spark, path)), referenceDate)

  /** Reference empty-result guard (`src/data.rs:128-130`, `186-188`).
    * The check needs `df` computed, so it computes it once: `df` is
    * materialized by an eager local checkpoint, the check runs on that copy,
    * and the copy is returned, so a caller that goes on with the result
    * (`Clustering.fit` in `GraftApp.loadRfm`) reads the checkpoint instead
    * of running the scan and aggregate a second time. The checkpoint's
    * blocks live until the returned frame is garbage-collected. */
  def requireNonEmpty(df: DataFrame, stage: String): DataFrame = {
    val materialized = df.localCheckpoint(eager = true)
    if (materialized.isEmpty)
      throw new IllegalArgumentException(s"No valid data after $stage")
    materialized
  }

  // ---------------------------------------------------------------------------
  // q26 — oracle-checked CSV-ingest contract query (S1+P2 end-to-end).
  // The parquet contract queries never exercise the CSV scan + string-date
  // parse, so this one round-trips a deterministic retail fixture through
  // `loadAndProcess` and lets DuckDB's read_csv recompute it.
  // ---------------------------------------------------------------------------

  /** Fixed fixture path shared by the Spark query and the DuckDB oracle SQL
    * (the driver runs Verify first, which writes the file). */
  val Q26FixturePath = "/tmp/graft_fixtures/retail_q26.csv"

  /** Deterministic fixture in the reference unit-fixture shape
    * (`src/data.rs:233-254`) plus the dirt `loadAndProcess` must tolerate:
    * both date formats, a C-prefixed cancellation with negative quantity, a
    * zero-price row, a null CustomerID. All prices are multiples of 0.25
    * (binary-exact doubles), so the raw double `sum(TotalAmount)` is exact
    * and order-independent — the one contract query where money does NOT go
    * through the fixed-point cents path, because the operator under test is
    * reference-parity `rfmFeatures` itself. */
  val Q26Fixture: String =
    """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
      |536365,85123A,WHITE HANGING HEART,6,12/01/2010 08:26:00,2.25,17850,United Kingdom
      |536365,71053,WHITE METAL LANTERN,6,12/01/2010 08:26:00,3.50,17850,United Kingdom
      |536366,22633,HAND WARMER UNION JACK,6,12/01/2010 08:28:00,1.75,17850,United Kingdom
      |536367,84406B,COAT HANGER,8,2011-11-20T10:00:00,2.75,13047,United Kingdom
      |C536368,22632,HAND WARMER RED,-6,12/01/2010 08:35:00,1.75,17850,United Kingdom
      |536369,85123E,BIG SPENDER ITEM,10,2011-12-05T12:00:00,50.00,12345,United Kingdom
      |536370,85123F,SECOND INVOICE,5,2011-12-05T12:30:00,20.00,12345,United Kingdom
      |536371,85123G,OLD PURCHASE,3,01/15/2010 14:00:00,10.00,98765,United Kingdom
      |536372,BAD1,ZERO PRICE,5,12/01/2010 09:00:00,0.00,17850,United Kingdom
      |536373,BAD2,NO CUSTOMER,2,12/01/2010 09:30:00,5.00,,United Kingdom
      |""".stripMargin

  private def writeQ26Fixture(): Unit = {
    val p = java.nio.file.Paths.get(Q26FixturePath)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, Q26Fixture)
  }

  /** The q26 contract query: write the fixture, ingest it with the real CSV
    * pipeline, emit the contract's lowercase column names. `dir` is unused —
    * CSV ingest is the surface under test, not the parquet testdata. */
  def csvRfmQuery(spark: SparkSession, dir: String): DataFrame = {
    writeQ26Fixture()
    loadAndProcess(spark, Q26FixturePath).select(
      col("CustomerID").as("custkey"),
      col("Recency").as("recency"),
      col("Frequency").as("frequency"),
      col("Monetary").as("monetary"))
  }

  /** DuckDB mirror of [[csvRfmQuery]]: same clean filter, same dual-format
    * `try_strptime` fallback as `cleanTransactions`'s `try_to_timestamp`
    * coalesce, same epoch-µs recency arithmetic in the same operation order
    * (exact int64 diff, then /1e6, then /86400 — bit-identical IEEE ops). */
  val csvRfmSql: String = {
    val refUs = java.time.Instant.parse(DefaultReferenceDate).toEpochMilli * 1000L
    s"""WITH raw AS (
       |  SELECT * FROM read_csv('$Q26FixturePath', header=true, columns={
       |    'InvoiceNo':'VARCHAR','StockCode':'VARCHAR','Description':'VARCHAR',
       |    'Quantity':'INTEGER','InvoiceDate':'VARCHAR','UnitPrice':'DOUBLE',
       |    'CustomerID':'BIGINT','Country':'VARCHAR'})
       |), clean AS (
       |  SELECT CustomerID, InvoiceNo,
       |         coalesce(try_strptime(InvoiceDate, '%m/%d/%Y %H:%M:%S'),
       |                  try_strptime(InvoiceDate, '%Y-%m-%dT%H:%M:%S')) AS ts,
       |         Quantity * UnitPrice AS amount
       |  FROM raw
       |  WHERE Quantity > 0 AND UnitPrice > 0 AND CustomerID IS NOT NULL
       |), agg AS (
       |  SELECT CustomerID AS custkey,
       |         ($refUs - epoch_us(max(ts))) / 1000000.0 / 86400.0 AS recency,
       |         CAST(count(DISTINCT InvoiceNo) AS DOUBLE) AS frequency,
       |         sum(amount) AS monetary
       |  FROM clean GROUP BY CustomerID
       |)
       |SELECT custkey, recency, frequency, monetary FROM agg
       |WHERE recency >= 0 AND frequency > 0 AND monetary > 0
       |""".stripMargin
  }
}
