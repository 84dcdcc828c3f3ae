package graft.sources

import graft.Tables
import graft.operators.{Rfm, Staging}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC interchange lane: the engine's answer to "my upstream hands me ORC,
  * not parquet" — a second columnar container through the SAME declarative
  * pipeline, with pushdown and pruning intact.
  *
  * Spark's ORC source is a first-class DataSource V2 citizen: predicate
  * pushdown, column pruning, and partition-size splitting all work exactly
  * as for parquet, so at 100 TB an ORC lake needs no conversion step — the
  * scan-side economics (read only the projected columns' stripes, skip
  * stripes by min/max on the pushed predicate) are identical. The q234
  * contract gates BOTH fidelity and those economics: lineitem is staged to
  * ORC once per source build, read BACK through the ORC reader with a
  * selective predicate, and aggregated; the oracle computes the same
  * aggregate from the original parquet in DuckDB — any loss, widening, or
  * reorder introduced by the ORC round-trip (timestamp affinity, decimal
  * scale, string encoding) breaks the hash. PlanAudit pins
  * `PushedFilters` on the ORC scan and the 3-column ReadSchema, so a
  * regression to filter-after-scan or full-width reads is caught even
  * while results stay right.
  */
object OrcInterchange {

  /** Lineitem's aggregation columns as an ORC dataset, staged once per
    * source build through [[Staging.stage]]. */
  private[graft] def ensureOrcStage(spark: SparkSession, dir: String): String =
    Staging.stage("orc_lineitem", dir, sourceTable = "lineitem") { p =>
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          Rfm.cents(col("l_extendedprice")).as("price_cents"))
        .write.mode("overwrite").orc(p)
    }

  /** q234 — returnflag totals for high-quantity lines, THROUGH the ORC
    * round-trip: every value the aggregate touches has crossed
    * parquet → ORC → reader. The `l_quantity >= 25` predicate must reach
    * the ORC scan as a pushed filter (PlanAudit), and the money sum rides
    * the exact long-cents chain ([[Rfm.cents]]) so the total is
    * order-independent at any parallelism. */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensureOrcStage(spark, dir)
    spark.read.orc(staged)
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty"),
        sum(col("price_cents")).as("price_cents"))
      .select(col("l_returnflag"), col("n"),
        col("sum_qty").cast("double").as("sum_qty"), col("price_cents"))
  }

  val orcRoundTripSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS price_cents
      |FROM lineitem WHERE l_quantity >= 25.0
      |GROUP BY l_returnflag""".stripMargin
}
