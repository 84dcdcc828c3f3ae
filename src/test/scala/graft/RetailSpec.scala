package graft

import graft.operators.Retail
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Ports of the reference's data-stage fixtures (FIXTURES.md §1; reference
  * `src/data.rs:233-295`, `tests/integration.rs:8-44`). */
class RetailSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  private def writeCsv(content: String): String = {
    val f = Files.createTempFile("retail", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  /** Unit fixture (reference `src/data.rs:233-254`): 5 rows, one C-prefixed
    * cancellation with negative quantity → 2 customers. */
  val unitCsv: String =
    """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
      |536365,85123A,WHITE HANGING HEART T-LIGHT HOLDER,6,12/01/2010 08:26:00,2.55,17850,United Kingdom
      |536365,71053,WHITE METAL LANTERN,6,12/01/2010 08:26:00,3.39,17850,United Kingdom
      |536366,22633,HAND WARMER UNION JACK,6,12/01/2010 08:28:00,1.85,17850,United Kingdom
      |536367,84406B,CREAM CUPID HEARTS COAT HANGER,8,12/01/2010 08:34:00,2.75,13047,United Kingdom
      |C536368,22632,HAND WARMER RED POLKA DOT,-6,12/01/2010 08:35:00,1.85,17850,United Kingdom
      |""".stripMargin

  test("unit fixture: cancellation filtered, 2 customers, exact RFM values") {
    val rfm = Retail.loadAndProcess(spark, writeCsv(unitCsv)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rfm.size == 2)
    val (rec, freq, mon) = rfm(17850L)
    assert(freq == 2.0) // invoices 536365, 536366; C536368 filtered by Quantity>0
    assert(math.abs(mon - (6 * 2.55 + 6 * 3.39 + 6 * 1.85)) < 1e-9)
    // reference recency: (ref_µs − max_µs)/1e6/86400, ref 2011-12-09T00:00Z
    val refUs = java.time.Instant.parse("2011-12-09T00:00:00Z").toEpochMilli * 1000.0
    val lastUs = java.time.Instant.parse("2010-12-01T08:28:00Z").toEpochMilli * 1000.0
    assert(math.abs(rec - (refUs - lastUs) / 1e6 / 86400.0) < 1e-9)
    val (_, f2, m2) = rfm(13047L)
    assert(f2 == 1.0 && math.abs(m2 - 8 * 2.75) < 1e-9)
  }

  /** Integration fixture (reference `tests/integration.rs:8-44`): ISO dates,
    * 4 customer personas. */
  val integrationCsv: String =
    """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
      |536365,85123A,ITEM A,6,2011-11-01T08:26:00,2.55,17850,United Kingdom
      |536366,85123B,ITEM B,3,2011-11-15T09:30:00,5.00,17850,United Kingdom
      |536367,85123C,ITEM C,2,2011-11-20T10:00:00,7.50,17850,United Kingdom
      |536368,85123D,ITEM D,1,2011-10-01T11:00:00,100.00,13047,United Kingdom
      |536369,85123E,ITEM E,10,2011-12-05T12:00:00,50.00,12345,United Kingdom
      |536370,85123F,ITEM F,5,2011-12-05T12:30:00,20.00,12345,United Kingdom
      |536371,85123G,ITEM G,1,2010-01-15T14:00:00,10.00,98765,United Kingdom
      |""".stripMargin

  test("integration fixture: 4 customers, invariants hold") {
    val rfm = Retail.loadAndProcess(spark, writeCsv(integrationCsv))
    val rows = rfm.collect()
    assert(rows.length == 4)
    // raw features non-negative (reference tests/integration.rs:111-133)
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0 && r.getDouble(2) > 0 && r.getDouble(3) > 0)
    }
  }

  /** The full CLI path over the CSV surface (C3/C4): fit must resolve its
    * key column on CSV-derived RFM — loadRfm normalizes CustomerID→custkey
    * so Clustering.fit / silhouetteSampled / clusterReport all run. */
  test("full pipeline + prediction mode run end-to-end on a CSV input") {
    val path = writeCsv(integrationCsv)
    val outDir = Files.createTempDirectory("graft_charts")
    val outPng = outDir.resolve("cluster_plot.png").toString
    val console = new java.io.ByteArrayOutputStream
    val seg = Console.withOut(console)(GraftApp.runFullPipeline(spark,
      GraftApp.Config(input = path, clusters = 3, output = outPng, verbose = true)))
    assert(seg.model.getK == 3)
    // --verbose: BASELINE.md's stage split, the fit's path and iterations
    val out = console.toString
    Seq("""Load \+ RFM: \d+\.\d\d s""",
      s"""K-Means fit \\(local, ${seg.model.summary.numIter} iterations\\): \\d+\\.\\d\\d s""",
      """Report: \d+\.\d\d s""", """Charts: \d+\.\d\d s""",
      """Total pipeline time: \d+\.\d\d s""").foreach { re =>
      assert(re.r.findFirstIn(out).isDefined, s"no line /$re/ in:\n$out")
    }
    assert(seg.predictions.count() == 4)
    assert(seg.predictions.columns.contains("custkey"))
    // --output honored: both chart files created (reference src/viz.rs:268-302)
    assert(new java.io.File(outPng).length() > 0)
    assert(new java.io.File(
      graft.operators.Charts.sizesPath(outPng)).length() > 0)
    val cluster = GraftApp.runPredictionMode(spark,
      GraftApp.Config(input = path, clusters = 3), "30,10,500.0")
    assert(cluster >= 0 && cluster < 3)
  }

  test("empty guard fires on a CSV-derived RFM with no row left, with the reference's message") {
    val bad =
      """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
        |C1,X,CANCELLED,-1,12/01/2010 08:26:00,2.55,17850,UK
        |2,X,NO PRICE,3,12/01/2010 08:26:00,0.00,17850,UK
        |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Retail.requireNonEmpty(Retail.loadAndProcess(spark, writeCsv(bad)), "RFM aggregation")
    }
    assert(e.getMessage == "No valid data after RFM aggregation")
  }

  test("empty guard fires on all-filtered input") {
    val bad =
      """InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country
        |C1,X,CANCELLED,-1,12/01/2010 08:26:00,2.55,17850,UK
        |""".stripMargin
    val cleaned = Retail.cleanTransactions(Retail.loadCsv(spark, writeCsv(bad)))
    assertThrows[IllegalArgumentException] {
      Retail.requireNonEmpty(cleaned, "cleaning")
    }
  }
}
