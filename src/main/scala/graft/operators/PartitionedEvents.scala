package graft.operators

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partition pruning demonstrated end to end (SURVEY §4.1's one optimizer
  * behavior previously listed "available" but never exercised): a
  * date-partitioned copy of `events` (Hive layout, `event_date=YYYY-MM-DD`
  * directories — exactly how a production event table is laid out) and a
  * one-day rollup whose date predicate is a PARTITION filter, so Spark
  * plans the scan over the single matching directory and the other 29 date
  * partitions are never opened — not "read and discarded", never listed
  * into the scan at all. At 100 TB this is THE difference between a
  * 30-day table scan and a 1-day one; PlanAudit pins `PartitionFilters`
  * in the plan and SkewAndSourcesSpec pins the pruned file count from the
  * executed scan's metrics.
  */
object PartitionedEvents {

  /** The Hive-layout date-partitioned copy of `events`, staged once per
    * source build through [[Staging.stage]]. */
  def partitionedEventsDir(spark: SparkSession, dir: String): String =
    Staging.stage("events_by_day", dir, sourceTable = "events") { p =>
      Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts").cast(TimestampType)))
        .write.mode("overwrite").partitionBy("event_date").parquet(p)
    }

  /** The partitioned read — `event_date` comes back as a typed DATE
    * partition column, so predicates on it prune directories at planning
    * time. */
  def partitionedEvents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(partitionedEventsDir(spark, dir))

  val ContractDay = "2024-01-07"

  /** q130 — one-day hourly rollup against the partitioned layout (the q60
    * aggregate shape, pruned to 1 of 30 date partitions by the partition
    * filter). The oracle runs the same rollup on the ORIGINAL events table
    * with a derived-date predicate — identical rows prove the partitioned
    * copy + pruned scan lose nothing. */
  def oneDayHourly(spark: SparkSession, dir: String,
                   day: String = ContractDay): DataFrame =
    partitionedEvents(spark, dir)
      .filter(col("event_date") === lit(day).cast(DateType))
      .groupBy(date_trunc("hour", col("ts").cast(TimestampType)).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(24, 6))).cast(DoubleType)
          .as("value_sum"))

  val oneDayHourlySql: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
       |       count(*) AS n,
       |       CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS value_sum
       |FROM events
       |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '$ContractDay'
       |GROUP BY 1, 2""".stripMargin
}
