package graft

import graft.operators.Charts
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import javax.imageio.ImageIO

/** S4/S5 chart-sink specs — mirrors the reference's viz tests
  * (`src/viz.rs:268-302`: render to a temp path, assert the file exists). */
class ChartsSpec extends AnyFunSuite {

  private def tmpPng(name: String): String =
    Files.createTempDirectory("charts").resolve(name).toString

  test("scatter renders a valid 800x600 PNG with points and centroids") {
    val path = tmpPng("test_plot.png")
    val points = Seq((-1.0, -1.0, 0), (1.0, 1.0, 1), (0.5, -0.5, 2),
      (-0.2, 0.8, 7)) // cluster 7 exercises the BLACK fallback
    val f = Charts.renderScatter(points, Seq((-1.0, -1.0), (1.0, 1.0)),
      -1.5, 1.5, -1.5, 1.5, path)
    assert(f.exists() && f.length() > 0)
    val img = ImageIO.read(f)
    assert(img.getWidth == 800 && img.getHeight == 600)
  }

  test("size chart renders a valid 600x400 PNG") {
    val path = tmpPng("test_sizes.png")
    val f = Charts.renderSizeChart(Seq((0, 10L), (1, 25L), (2, 5L)), path)
    assert(f.exists() && f.length() > 0)
    val img = ImageIO.read(f)
    assert(img.getWidth == 600 && img.getHeight == 400)
  }

  test("size chart survives degenerate inputs (empty, zero sizes)") {
    val f0 = Charts.renderSizeChart(Seq.empty, tmpPng("empty.png"))
    assert(f0.exists() && f0.length() > 0)
    val f1 = Charts.renderSizeChart(Seq((0, 0L), (1, 0L)), tmpPng("zero.png"))
    assert(f1.exists() && f1.length() > 0)
  }

  test("scatter sample is deterministic, unbiased, and population-covering") {
    val spark = GraftTestSession.spark
    import spark.implicits._
    val df = (1L to 40000L).map(i => (i, i.toDouble, -i.toDouble, 0))
      .toDF("custkey", "frequency_z", "monetary_z", "prediction")
    def draw() = Charts.scatterSample(df, 4000)
      .select("custkey").as[Long].collect()
    val s1 = draw()
    assert(s1.toSeq == draw().toSeq)
    assert(s1.length == 4000 && s1.distinct.length == 4000)
    // the driver-side order picks the same keys in the same order
    val keys = (1L to 40000L).toArray
    assert(Charts.scatterOrder(keys, 4000).map(keys(_)).toSeq == s1.toSeq)
    // population coverage: each key-range quartile carries ~25% of the
    // sample (md5 variate is uniform and key-independent) — the
    // first-N-by-custkey cap this replaces would put 100% in quartile 0
    val byQuartile = s1.groupBy(k => (k - 1) / 10000).view.mapValues(_.size)
    (0L to 3L).foreach { q =>
      assert(math.abs(byQuartile(q) - 1000) < 200, s"quartile $q: ${byQuartile(q)}")
    }
  }

  test("sizes path rewrite matches the reference's replace semantics") {
    // reference src/viz.rs:206: base.replace(".png", "_sizes.png")
    assert(Charts.sizesPath("/tmp/x/cluster_plot.png") ==
      "/tmp/x/cluster_plot_sizes.png")
  }
}
