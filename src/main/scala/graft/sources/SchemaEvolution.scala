package graft.sources

import graft.Tables
import graft.operators.{Rfm, Staging}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-evolution lane: a dataset whose files were written by TWO
  * generations of a producer — generation 1 before a column existed,
  * generation 2 after it was added — read back as ONE table. This is the
  * steady state of every long-lived 100 TB lake (producers deploy column
  * additions incrementally; historical files are never rewritten), and the
  * failure mode it gates is real: without `mergeSchema` Spark takes the
  * FIRST footer's schema and silently drops the new column from every
  * query; with it, the merged schema is the union and old files surface
  * NULL for the added column.
  *
  * The dataset is one [[graft.operators.Staging.stage]] layout whose
  * writer makes the two generations two WRITES INTO THE SAME DIRECTORY
  * (overwrite, then append) — genuinely heterogeneous footers side by
  * side, not a partition-discovery trick. Generation 1 holds even order keys
  * (o_orderkey, cents), generation 2 odd keys plus `o_orderpriority`.
  *
  * Scale note: `mergeSchema` lists and reads ALL footers on the driver at
  * planning time — at lake scale that is the known cost knob (you pay it
  * once and pin the merged schema in a catalog); the scan itself stays
  * pruned and parallel, and the q249 aggregate is one map-combinable
  * hash aggregate over the merged scan.
  */
object SchemaEvolution {

  private[graft] def ensureEvolvedStage(spark: SparkSession,
                                        dir: String): String =
    Staging.stage("evolved_orders", dir, sourceTable = "orders") { p =>
      val orders = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          Rfm.cents(col("o_totalprice")).as("cents"),
          col("o_orderpriority"))
      // generation 1: the column does not exist yet
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("cents"))
        .write.mode("overwrite").parquet(p)
      // generation 2: same producer, one column added
      orders.filter(col("o_orderkey") % 2 === 1)
        .write.mode("append").parquet(p)
    }

  /** q249 — priority totals THROUGH the evolved dataset: the merged read
    * must surface generation-1 rows with a NULL priority (bucketed as
    * 'none') and generation-2 rows with their real one; totals ride the
    * exact long-cents chain. The oracle replays the generation split from
    * the ORIGINAL orders table — if the merged read dropped the new
    * column, dropped old files, or null-filled the wrong side, the hash
    * breaks. */
  def evolvedPriorityTotals(spark: SparkSession, dir: String): DataFrame = {
    val staged = ensureEvolvedStage(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(staged)
      .groupBy(coalesce(col("o_orderpriority"), lit("none")).as("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
  }

  val evolvedPriorityTotalsSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
      |            ELSE 'none' END AS priority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS total_cents
      |FROM orders
      |GROUP BY 1""".stripMargin
}
