package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table co-located joins — the storage-layout answer to shuffle
  * cost that [[Skew]] answers at runtime.
  *
  * A fact-dimension (or fact-fact) equi-join normally shuffles BOTH sides on
  * the join key every time it runs. Pre-bucketing each table by that key
  * (`bucketBy(n, key)` + `sortBy` at write time) moves that shuffle to WRITE
  * time, once: every subsequent join between tables bucketed the same way
  * reads co-located buckets and sort-merge-joins them with NO live exchange
  * on either side. At 100 TB this is the difference between re-shuffling the
  * fact table per query and never shuffling it again — the standard layout
  * for a fact table queried daily against the same dimension key.
  *
  * Both tables are bucketed [[Staging.Layout]]s: written once per source
  * build and served through the session catalog (plain parquet source +
  * bucket metadata — no Hive needed), re-registered over the same files
  * in a fresh session.
  */
object Bucketing {

  private val Buckets = 8

  private val PurchasesLayout = Staging.Layout("bkt_purchases", "events",
    buckets = Some(Staging.Buckets(Buckets, "user_id")))
  private val CustomerLayout = Staging.Layout("bkt_customer", "customer",
    buckets = Some(Staging.Buckets(Buckets, "c_custkey")))

  /** q151 — purchase revenue by market segment through BUCKETED tables:
    * events (purchases, long-cents) and customer are both written bucketed
    * ×[[Buckets]] on the join key, then joined WITHOUT any exchange on
    * either side — the `hint("merge")` pins sort-merge (a broadcast would
    * also be shuffle-free but would not exercise the bucket co-location
    * this query exists to gate). PlanAudit forbids a live
    * `Exchange hashpartitioning` on either join key: if bucket metadata
    * ever stops lining up (bucket count drift, key rename), the join
    * silently regresses to a full two-sided shuffle — that regression is
    * exactly what the pin catches. Result is identical to the plain join
    * (the oracle), so correctness and layout are gated together. */
  def bucketedSegmentAgg(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Staging.prepared(spark, PurchasesLayout, dir) {
      Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), Rfm.cents(col("value")).as("v_c"))
    }
    val customers = Staging.prepared(spark, CustomerLayout, dir) {
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
    }
    purchases
      .join(customers.hint("merge"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("v_c")).as("value_cents"))
      .select(col("c_mktsegment").as("mktsegment"), col("n"),
        col("value_cents"))
  }

  val bucketedSegmentAggSql: String =
    """SELECT c_mktsegment AS mktsegment, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase'
      |GROUP BY c_mktsegment""".stripMargin
}
