package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The offset-prefix primitive: exact grouped ordinals, running sums and
  * quantiles WITHOUT a per-group window. A window partitioned by a
  * low-cardinality key (3 return flags, 5 event types, 20 sources) puts
  * each whole group in ONE task at any cluster size; here every
  * data-sized window is bounded by one range partition and only a P×G
  * miniature is windowed per group. Every form is rank- or
  * prefix-determined, so it equals the naive window-by-group form exactly
  * at any partition count (spec-pinned) — the DuckDB oracles keep the
  * naive shape and hash-match.
  *
  * The forms over [[pinned]]:
  *  - [[ordinal]]: 1-based row_number per group;
  *  - [[cumSum]]: inclusive running sum per group, plus the group total;
  *  - [[crossingQuantile]] / [[crossingMedian]]: the smallest value whose
  *    inclusive cumulative weight reaches a nearest-rank bound;
  *  - [[crossingBoundaries]]: all den−1 equi-depth boundaries in one pass.
  */
private[graft] object OffsetPrefix {

  /** The core: range-partition `df` by (grp, ordCols…) — ONE shuffle —,
    * tag each row's `__pid`, and join back the broadcast P×G offset table
    * of per-(partition, group) `__t = subtotal`, its exclusive prefix
    * `__off` over the group's earlier partitions, and the group total
    * `__tot`. Within-partition value + `__off` = the global per-group value.
    *
    * The range partitioning is pinned with ONE eager `localCheckpoint`:
    * the offsets subtree and the row subtree must see the SAME boundaries,
    * and two evaluations of one `repartitionByRange` may SAMPLE DIFFERENT
    * ones — observed: the offsets evaluation split an event type 8/194
    * while the rank evaluation split it 97/105, corrupting every offset
    * (ReuseExchange does not reliably unify them). The checkpoint is also
    * a lineage cut: the checkpoint-free form (deterministic buckets from
    * broadcast per-group bounds) was measured slower on q116's nested
    * medians, which re-evaluate the first median's subtree per reference
    * (OPTIMIZATION_r16.md). In the executed plan the pin shows as a
    * `Scan ExistingRDD` and no live `Exchange rangepartitioning`.
    *
    * Every miniature window orders by `__pid`: that order key is the
    * marker `PlanAudit.dimWindowRe` uses to tell a P×G offset window from
    * a data-sized group-keyed one. `ordCols` should be a total order per
    * group (include a unique id) unless the form is tie-invariant, as the
    * crossing forms are — equal keys may land on either side of a range
    * boundary. `subtotal` is an aggregate over `df`'s columns. */
  private[operators] def pinned(df: DataFrame, grp: String,
                                ordCols: Seq[String], subtotal: Column,
                                partitions: Int): DataFrame = {
    val part = df
      .repartitionByRange(partitions, (col(grp) +: ordCols.map(col)): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = part.groupBy(col("__pid"), col(grp))
      .agg(subtotal.as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(priorPartitions(grp)), lit(0L)))
      .withColumn("__tot", sum(col("__t")).over(
        Window.partitionBy(col(grp)).orderBy(col("__pid")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    // null-safe on the group, as the oracles' PARTITION BY keeps a NULL
    // group; the columns in the order of a USING join on (__pid, grp), an
    // input column named like an offset column replaced by it
    val o = offsets.withColumnRenamed("__pid", "__opid").withColumnRenamed(grp, "__ogrp")
    val (keys, offs) = (Seq("__pid", grp), Seq("__t", "__off", "__tot"))
    part.drop(offs: _*).join(broadcast(o), col("__pid") === col("__opid") && col(grp) <=> col("__ogrp"))
      .select((keys ++ part.columns.filterNot((keys ++ offs).contains) ++ offs).map(col): _*)
  }

  /** The group's earlier partitions, over the P×G miniature. */
  private[operators] def priorPartitions(grp: String): WindowSpec =
    Window.partitionBy(col(grp)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)

  private def inPartition(grp: String, ordCols: Seq[String]): WindowSpec =
    Window.partitionBy(col("__pid"), col(grp)).orderBy(ordCols.map(col): _*)

  /** Dense per-group ordinal `__ord` (1-based rank of each row within its
    * group in `ordCols` order) — the serialization-free twin of
    * `row_number().over(partitionBy(grp))`. `ordCols` MUST be a total
    * order per group. */
  def ordinal(df: DataFrame, grp: String, ordCols: Seq[String],
              partitions: Int = 8): DataFrame =
    pinned(df, grp, ordCols, count(lit(1)), partitions)
      .withColumn("__ord", row_number().over(inPartition(grp, ordCols))
        .cast(LongType) + col("__off"))
      .drop("__pid", "__t", "__off", "__tot")

  /** Inclusive running sum `__cum` of `valCol` per `grp` in `ordCols`
    * order, with the group total `__tot`. `ordCols` must be unique per
    * group. */
  def cumSum(df: DataFrame, grp: String, ordCols: Seq[String],
             valCol: String, partitions: Int = 8): DataFrame =
    pinned(df, grp, ordCols, sum(col(valCol)), partitions)
      .withColumn("__cum", sum(col(valCol)).over(inPartition(grp, ordCols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
        col("__off"))
      .drop("__pid", "__t", "__off")

  /** (grp, valCol, __w, __cum, __tot): the running weight in value order.
    * Rows tying on value order arbitrarily in `__cum`, but a crossing
    * VALUE is tie-invariant: v crosses iff W(≤ v) reaches the bound,
    * whatever order tied rows take. */
  private def weightCum(df: DataFrame, grp: String, valCol: String,
                        w: Column, partitions: Int): DataFrame =
    cumSum(df.select(col(grp), col(valCol), w.as("__w")), grp, Seq(valCol),
      "__w", partitions)

  /** Exact lower (weighted) median per group: the smallest value v with
    * 2·W(≤ v) ≥ W_total. Returns (grp, out, __tot). */
  def crossingMedian(df: DataFrame, grp: String, valCol: String, w: Column,
                     out: String, partitions: Int = 8): DataFrame =
    crossingQuantile(df, grp, valCol, w, out, 1L, 2L, partitions)

  /** Nearest-rank quantile p = pNum/pDen per group: the smallest value v
    * with pDen · W(≤ v) ≥ pNum · W_total, in exact integer arithmetic.
    * Returns (grp, out, __tot). */
  def crossingQuantile(df: DataFrame, grp: String, valCol: String,
                       w: Column, out: String, pNum: Long, pDen: Long,
                       partitions: Int = 8): DataFrame =
    weightCum(df, grp, valCol, w, partitions)
      .filter(col("__cum") * pDen >= col("__tot") * pNum)
      .groupBy(col(grp))
      .agg(min(col(valCol)).as(out), min(col("__tot")).as("__tot"))

  /** ALL den−1 equi-depth boundaries per group in ONE pass — the k/den
    * nearest-rank boundary for every k ∈ [1, den−1]. Each row derives the
    * RANGE of k it crosses FIRST — k where the previous cumulative was
    * still short (den·(cum−w) < k·tot ≤ den·cum) — and explodes only
    * those (each k emitted by exactly the rows of its boundary value; ties
    * collapse via min). Exploded volume is ≤ rows + den−1, never
    * rows × den. Returns (grp, k, out). */
  def crossingBoundaries(df: DataFrame, grp: String, valCol: String,
                         w: Column, out: String, den: Int,
                         partitions: Int = 8): DataFrame =
    weightCum(df, grp, valCol, w, partitions)
      .withColumn("__klo",
        expr(s"CAST(($den * (__cum - __w)) DIV __tot AS INT) + 1"))
      .withColumn("__khi", expr(s"CAST(($den * __cum) DIV __tot AS INT)"))
      .filter(col("__khi") >= col("__klo") && col("__klo") <= den - 1)
      .select(col(grp), col(valCol),
        explode(sequence(col("__klo"), least(col("__khi"), lit(den - 1))))
          .as("k"))
      .groupBy(col(grp), col("k"))
      .agg(min(col(valCol)).as(out))
}
