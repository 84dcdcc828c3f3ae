package graft.operators

import graft.Tables
import graft.functions.VectorExprs.{dot_product, l2_norm}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §7.5 extension surface; no reference counterpart).
  *
  * Three tiers, ordered by scale:
  *  - [[bruteForceTopK]] — exact cosine top-k for a small broadcast query
  *    set against the full table. The data side streams once; per-row work
  *    is the native codegen dot product ([[graft.functions.VectorExprs]]).
  *    This is the correctness baseline and is the right plan whenever
  *    |queries| is small enough to broadcast (the common batch-scoring case).
  *  - [[signLshTopK]] — random-hyperplane sign-LSH: each vector reduces to a
  *    small bucket key; queries only score vectors sharing their bucket.
  *    Candidate cost tracks bucket occupancy, not table size.
  *  - [[ivfTopK]] — IVF: a seeded coarse K-Means partitions the table by
  *    nearest centroid; a query probes the `nprobe` nearest centroids only.
  *    At 100 TB the table would be written bucketed/partitioned by
  *    `coarse_id`, so a probe is a partition-pruned scan, not a shuffle.
  *
  * All variants L2-normalize first (cosine = dot on unit vectors) and
  * tie-break rankings by vec_id for determinism.
  */
object SimilaritySearch {

  /** Deterministic pseudo-random unit hyperplanes (fixed seed). Generated
    * driver-side as literals — they are model constants, not data. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes) {
      val p = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(p.map(x => x * x).sum)
      p.map(_ / n)
    }
  }

  /** Sign-LSH bucket key: bit i = sign of dot(u, plane_i).
    *
    * The dot product is one `zip_with` against an array LITERAL per plane —
    * not per-dimension `element_at` terms: Catalyst inlines the (expensive,
    * aggregate-bearing) normalization expression into every reference of
    * `u`, so the per-dim form exploded to planes×dims copies and dominated
    * wall-clock with codegen/compile time. One reference per plane keeps the
    * expression tree linear in the plane count. */
  // Model-constant vectors enter plans as ONE array Literal (`lit(arr)`)
  // rather than `array(lit, lit, …)` — a CreateArray of 64 doubles is 65
  // expression nodes that every analyzer/optimizer pass re-traverses, and
  // the IVF/PQ lanes carry 16–128 such vectors: the q306 ann-audit plan
  // alone cost 0.86 s of pure driver planning per run (round 16). Runtime
  // is identical — ConstantFolding collapsed the old form to the same
  // literal — only plan construction gets cheap.
  def signKey(u: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = dot_product(u, lit(p))
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** embeddings → (vec_id, u: array<double> L2-normalized).
    *
    * Cached via [[graft.CacheRegistry]], ONE instance per (session, dir):
    * every consumer references `u` many times (bucket keys, dot products,
    * window sorts), and without a materialization barrier Catalyst
    * re-inlines the normalize+norm expression at every reference; a
    * per-call `.cache()` would instead leak one orphaned cached plan per
    * invocation. At 100 TB this is the natural persisted
    * "prepared vectors" table. */
  private[operators] def normalized(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"normalized:$dir")(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
        .withColumn("norm", l2_norm(col("v")))
        .filter(col("norm") > 0)
        .select(col("vec_id"), transform(col("v"), x => x / col("norm")).as("u")))

  private def dot(a: Column, b: Column): Column = dot_product(a, b)

  /** Exact cosine top-k: the first `nQueries` vec_ids (deterministic query
    * set) against the whole table. Output: (query_id, neighbor_id, cosine),
    * k rows per query, self-match excluded. */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 10): DataFrame = {
    val emb = normalized(spark, dir)
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qu")
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("u"), col("qu")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast(LongType).as("rk"))
  }

  /** Oracle for [[bruteForceTopK]] AND [[bruteForceTopKAgg]] (same rows by
    * construction — the aggregator path is additionally spec-pinned to the
    * window path): the identical float→double cast, 0-seeded left-to-right
    * norm and dot folds (`list_reduce` seeds with the first element, equal
    * to a 0.0 seed bit-for-bit), the same (cosine DESC, vec_id) tiebreak,
    * and the same 6-dp round. Doubles hash-match because both engines run
    * the SAME operations in the SAME order — the custom codegen
    * expressions ([[graft.functions.VectorExprs]]) are plain sequential
    * loops, deliberately not reassociated/vectorized. */
  def bruteForceTopKSql(nQueries: Int = 5, k: Int = 10): String =
    s"""WITH $unitVectorsSql, q AS (
       |  SELECT vec_id AS query_id, u AS qu FROM un ORDER BY vec_id LIMIT $nQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${dotColsSql("e.u", "q.qu")} AS cos_raw
       |  FROM un e CROSS JOIN q
       |  WHERE e.vec_id <> q.query_id
       |), ${cosineTopKTailSql(k)}""".stripMargin

  /** [[bruteForceTopK]] with the ranking done by the [[graft.functions.TopKAgg]]
    * typed aggregator instead of a window: candidates shrink to k rows per
    * query MAP-SIDE before the exchange (partial aggregation), instead of
    * shipping and sorting every candidate inside the window partition. Same
    * results (spec-asserted); strictly better shuffle volume at scale —
    * k·queries rows instead of n·queries. */
  def bruteForceTopKAgg(spark: SparkSession, dir: String,
                        nQueries: Int = 5, k: Int = 10): DataFrame = {
    val emb = normalized(spark, dir)
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qu")
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("u"), col("qu")))
    val topk = udaf(graft.functions.TopKAgg.TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("vec_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        round(col("col._1"), 6).as("cosine"),
        (col("pos") + 1).cast(LongType).as("rk"))
  }

  /** q136 — hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors whose `label` DIFFERS
    * from the query's — the "looks the same, means something else" examples
    * an embedding model trains against (in-batch negatives are easy;
    * high-cosine cross-label neighbors are the hard ones).
    *
    * Same exact-scoring discipline as [[bruteForceTopK]] (sequential-fold
    * dots, bit-reproducible in DuckDB) with two twists that make it the
    * production shape:
    *  - the label predicate applies BEFORE ranking (label ≠ query's — a
    *    per-query dynamic predicate, not q131's static one), so negatives
    *    never crowd out of the top-k;
    *  - ranking runs through [[graft.functions.TopKAgg]]: candidates
    *    shrink to k per query MAP-SIDE, so the exchange carries k·queries
    *    rows, not n·queries. Neighbor labels re-join onto that miniature
    *    AFTER ranking.
    * Self-match needs no special case — a vector shares its own label. */
  def hardNegatives(spark: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val lab = normalized(spark, dir).join(labels, Seq("vec_id"))
    val queries = lab.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"),
        col("label").as("query_label"))
    val scored = lab.crossJoin(broadcast(queries))
      .filter(col("label") =!= col("query_label"))
      .withColumn("cosine", dot(col("u"), col("qu")))
    val topk = udaf(graft.functions.TopKAgg.TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("query_id"), col("query_label"))
      .agg(topk(col("cosine"), col("vec_id")).as("nn"))
      .select(col("query_id"), col("query_label"), posexplode(col("nn")))
      .select(col("query_id"), col("query_label"), col("col._2").as("neighbor_id"),
        round(col("col._1"), 6).as("cosine"),
        (col("pos") + 1).cast(LongType).as("rk"))
      .join(labels.toDF("neighbor_id", "neighbor_label"), Seq("neighbor_id"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rk"))
  }

  /** Oracle for [[hardNegatives]]: q50's CTE chain with the label joined
    * into the unit-vector table and the cross-label predicate applied
    * before the window; same (cosine DESC, vec_id) tie-break and 6-dp
    * round, so doubles hash-match bit-for-bit. */
  def hardNegativesSql(nQueries: Int = 5, k: Int = 10): String =
    s"""WITH $unitVectorsSql, lab AS (
       |  SELECT un.vec_id, un.u, e.label FROM un
       |  JOIN embeddings e USING (vec_id)
       |), q AS (
       |  SELECT vec_id AS query_id, u AS qu, label AS query_label
       |  FROM lab ORDER BY vec_id LIMIT $nQueries
       |), scored AS (
       |  SELECT q.query_id, q.query_label, l.vec_id AS neighbor_id,
       |         l.label AS neighbor_label,
       |         ${dotColsSql("l.u", "q.qu")} AS cos_raw
       |  FROM lab l CROSS JOIN q
       |  WHERE l.label <> q.query_label
       |), ranked AS (
       |  SELECT query_id, query_label, neighbor_id, neighbor_label, cos_raw,
       |         $cosineRankSql AS rk
       |  FROM scored
       |)
       |SELECT query_id, query_label, neighbor_id, neighbor_label,
       |       round(cos_raw, 6) AS cosine, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin

  /** Sign-LSH bucketed ANN: same query set and output shape as
    * [[bruteForceTopK]], but candidates are restricted to the query's
    * hyperplane-sign bucket. Recall < 1 by construction; at scale the
    * bucket join replaces the full-table scan. */
  def signLshTopK(spark: SparkSession, dir: String,
                  nQueries: Int = 5, k: Int = 10,
                  nPlanes: Int = 6): DataFrame = {
    val planes = hyperplanes(nPlanes, 64)
    val emb = normalized(spark, dir)
      .withColumn("key", signKey(col("u"), planes))
    val queries = emb.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qu", "key")
    val scored = emb.join(broadcast(queries), Seq("key"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("u"), col("qu")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast(LongType).as("rk"))
  }

  /** Oracle for [[signLshTopK]]: the hyperplanes are SEED-FIXED MODEL
    * CONSTANTS, so the SQL embeds them as literal double lists —
    * `Double.toString` is the shortest round-trip representation, so
    * DuckDB parses back the bit-identical double, and the sign test,
    * bucket key, bucket join, and ranking all reproduce exactly (same
    * 0-seeded left-to-right folds as [[bruteForceTopKSql]]). This turns
    * the LSH operator's actual (approximate-recall) OUTPUT into an
    * oracle-checked contract — the approximation is in the algorithm, not
    * in any engine nondeterminism. */
  /** The sequential-fold dot product against a LITERAL plane, as DuckDB
    * SQL — `Double.toString`+`E0` ([[SqlLit.dbl]]) round-trips bit-exactly
    * through the parser's DOUBLE path (a bare decimal would detour through
    * DECIMAL and can lose the last ulp). */
  private[operators] def dotLitSql(uCol: String, p: Array[Double]): String = {
    val lits = p.map(SqlLit.dbl).mkString("[", ", ", "]")
    s"""list_reduce(list_transform(range(1, len($uCol) + 1),
       |              i -> $uCol[i] * ($lits)[i]),
       |            (x, y) -> x + y)""".stripMargin
  }

  /** The sequential-fold dot product of two list columns, as DuckDB SQL. */
  private[operators] def dotColsSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |              i -> $a[i] * $b[i]),
       |            (x, y) -> x + y)""".stripMargin

  /** Shared oracle prefix: embeddings → unit vectors `un(vec_id, u)`,
    * mirroring [[normalized]] (float→double cast, 0-seeded sum-of-squares
    * fold, norm > 0 filter). */
  private[operators] val unitVectorsSql: String =
    """unit AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), normed AS (
      |  SELECT vec_id, v,
      |         sqrt(list_reduce(list_transform(v, x -> x * x),
      |                          (a, b) -> a + b)) AS nrm
      |  FROM unit
      |), un AS (
      |  SELECT vec_id, list_transform(v, x -> x / nrm) AS u
      |  FROM normed WHERE nrm > 0
      |)""".stripMargin

  /** Each query's (cosine DESC, neighbor_id) rank over `cos_raw`: the
    * tie-break of every cosine top-k oracle. */
  private val cosineRankSql: String =
    """row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_raw DESC, neighbor_id)""".stripMargin

  /** `ranked` over a `scored(query_id, neighbor_id, cos_raw)` CTE and the
    * top-`k` select of the plain cosine top-k oracles. */
  private def cosineTopKTailSql(k: Int): String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         $cosineRankSql AS rk
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
       |       CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin

  /** The banded sign-key expression for [[signKey]]'s plane slice, as
    * DuckDB SQL (bit i = 1<<i within the slice). */
  private[operators] def signKeySql(uCol: String,
                                    planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotLitSql(uCol, p)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  def signLshTopKSql(nQueries: Int = 5, k: Int = 10,
                     nPlanes: Int = 6): String = {
    val planes = hyperplanes(nPlanes, 64)
    val keyExpr = signKeySql("u", planes)
    s"""WITH $unitVectorsSql, keyed AS (
       |  SELECT vec_id, u, $keyExpr AS key FROM un
       |), q AS (
       |  SELECT vec_id AS query_id, u AS qu, key
       |  FROM keyed ORDER BY vec_id LIMIT $nQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         ${dotColsSql("e.u", "q.qu")} AS cos_raw
       |  FROM keyed e JOIN q ON e.key = q.key
       |  WHERE e.vec_id <> q.query_id
       |), ${cosineTopKTailSql(k)}""".stripMargin
  }

  /** q124 — kNN JOIN: every vector's top-`k` cosine neighbors within its
    * sign-LSH bucket — the self-join form of ANN that embedding-dedup and
    * hard-negative-mining pipelines run over the WHOLE corpus (the q50/q51
    * shape answers a small query set; this answers n queries at once).
    *
    * Plan: one bucket-key equi-join of the normalized table with itself
    * (per-bucket cost s², never n² — bucket occupancy is the knob, via
    * `nPlanes`), then [[graft.functions.TopKAgg]] shrinks candidates to k
    * rows per vector MAP-SIDE before the exchange. At 100 TB the table is
    * written bucketed by `key`, making the self-join partition-local.
    * Oracle-exact end to end: literal hyperplanes + sequential-fold dots
    * + the q54-proven aggregator == window equivalence. */
  def knnJoin(spark: SparkSession, dir: String,
              k: Int = 5, nPlanes: Int = 6): DataFrame = {
    val planes = hyperplanes(nPlanes, 64)
    val emb = normalized(spark, dir)
      .withColumn("key", signKey(col("u"), planes))
    val scored = emb.toDF("vec_id", "u", "key")
      .join(emb.toDF("nbr_id", "nu", "key"), Seq("key"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cosine", dot(col("u"), col("nu")))
    val topk = udaf(graft.functions.TopKAgg.TopK(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("vec_id"))
      .agg(topk(col("cosine"), col("nbr_id")).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")))
      .select(col("vec_id"), col("col._2").as("nbr_id"),
        round(col("col._1"), 6).as("cosine"),
        (col("pos") + 1).cast(org.apache.spark.sql.types.LongType).as("rk"))
  }

  /** Oracle for [[knnJoin]] — [[signLshTopKSql]] with the query set
    * widened to every vector. */
  def knnJoinSql(k: Int = 5, nPlanes: Int = 6): String = {
    val keyExpr = signKeySql("u", hyperplanes(nPlanes, 64))
    s"""WITH $unitVectorsSql, keyed AS (
       |  SELECT vec_id, u, $keyExpr AS key FROM un
       |), scored AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |         ${dotColsSql("a.u", "b.u")} AS cos_raw
       |  FROM keyed a JOIN keyed b ON a.key = b.key
       |  WHERE a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT vec_id, nbr_id, cos_raw,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos_raw DESC, nbr_id) AS rk
       |  FROM scored
       |)
       |SELECT vec_id, nbr_id, round(cos_raw, 6) AS cosine,
       |       CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin
  }

  /** q154 — kNN label-CONSISTENCY audit (label-noise mining): for every
    * vector, the fraction of its k nearest neighbors (the q124 kNN-join
    * set, LSH-bucketed — never all-pairs) that share its label, in exact
    * ppm. Low-agreement vectors are the classic label-error candidates a
    * training-data pipeline queues for re-annotation (confident-learning
    * style), and per-corpus this doubles as an embedding-space class-
    * separability score. Vectors whose LSH bucket yields no neighbors are
    * emitted with `n_nbrs = 0` (complete-coverage convention, q127).
    *
    * Scale: labels join onto the k·n neighbor miniature (group sizes ≤ k),
    * not onto the pair space; everything downstream of the q124 join is
    * key-partitioned integer aggregation. */
  def knnLabelConsistency(spark: SparkSession, dir: String,
                          k: Int = 5, nPlanes: Int = 6): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(LongType).as("label"))
    val agreed = knnJoin(spark, dir, k, nPlanes)
      .join(labels, Seq("vec_id"))
      .join(labels.toDF("nbr_id", "nbr_label"), Seq("nbr_id"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("nbr_label") === col("label"), 1L).otherwise(0L))
          .as("n_same"))
    labels.join(agreed, Seq("vec_id", "label"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        coalesce(col("n_same"), lit(0L)).as("n_same"),
        coalesce(expr("n_same * 1000000 DIV n_nbrs"), lit(0L))
          .as("agreement_ppm"))
  }

  /** Oracle for [[knnLabelConsistency]] — the q124 CTEs with labels joined
    * on both pair ends and the complete-coverage left join. */
  def knnLabelConsistencySql(k: Int = 5, nPlanes: Int = 6): String = {
    val knn = knnJoinSql(k, nPlanes).replace("\n", "\n  ")
    s"""WITH knn AS (
       |  $knn
       |), lab AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
       |), agg AS (
       |  SELECT knn.vec_id, count(*) AS n_nbrs,
       |         sum(CASE WHEN nl.label = ol.label THEN 1 ELSE 0 END) AS n_same
       |  FROM knn
       |  JOIN lab ol ON knn.vec_id = ol.vec_id
       |  JOIN lab nl ON knn.nbr_id = nl.vec_id
       |  GROUP BY knn.vec_id)
       |SELECT lab.vec_id, lab.label,
       |       CAST(coalesce(agg.n_nbrs, 0) AS BIGINT) AS n_nbrs,
       |       CAST(coalesce(agg.n_same, 0) AS BIGINT) AS n_same,
       |       CAST(coalesce(agg.n_same * 1000000 // agg.n_nbrs, 0) AS BIGINT)
       |         AS agreement_ppm
       |FROM lab LEFT JOIN agg ON lab.vec_id = agg.vec_id""".stripMargin
  }

  /** Exact text round-trip for a double matrix (`Double.toString` /
    * `parseDouble` are inverse by JLS contract), one row per line,
    * `;`-separated — the [[Staging.preparedText]] codec for k-means
    * center artifacts. */
  private def serializeCenters(cs: Array[Array[Double]]): String =
    cs.map(_.map(_.toString).mkString(";")).mkString("\n")
  private def parseCenters(txt: String): Array[Array[Double]] =
    txt.split("\n").map(_.split(";").map(java.lang.Double.parseDouble))

  /** Explicit coarse assignment from literal centroids: per-centroid squared
    * distance in the norm form `(u·u + ‖c‖²) − 2·(u·c)` with the
    * sequential-fold dots of [[graft.functions.VectorExprs]], then first-min
    * argmin — the exact expression shape the oracle SQL mirrors, and the
    * exact-euclidean argmin MLlib's bound-pruned findClosest approximates
    * (SimilaritySpec pins the two equal). `‖c‖²` is folded at BUILD time
    * (model constant) and embedded as one literal on both engines. */
  private[graft] def withCoarseId(df: DataFrame,
                                  centers: Array[Array[Double]]): DataFrame = {
    val withSu = df.withColumn("__su", dot_product(col("u"), col("u")))
    val withD = centers.zipWithIndex.foldLeft(withSu) { case (acc, (c, i)) =>
      val c2 = c.map(x => x * x).foldLeft(0.0)(_ + _)
      acc.withColumn(s"__cd$i", col("__su") + lit(c2) -
        lit(2.0) * dot_product(col("u"), lit(c)))
    }
    val n = centers.length
    val cid = (0 until n - 1).foldRight(lit(n - 1): Column) { (i, acc) =>
      val cond = ((i + 1) until n)
        .map(j => col(s"__cd$i") <= col(s"__cd$j")).reduce(_ && _)
      when(cond, lit(i)).otherwise(acc)
    }
    withD.withColumn("coarse_id", cid)
      .drop("__su").drop((0 until n).map(i => s"__cd$i"): _*)
  }

  /** Coarse centroids of the fitted IVF index, keyed by (dir, nlist) for
    * oracle-literal embedding (see [[Clustering.oracleEntries]] for the
    * mechanism — Verify dumps oracleSql after the queries run; the keying
    * means an `ivfIndexForSpec(nlist != 16)` run or a second dir can never
    * leak its centers into the contract oracle). */
  private val capturedCoarse =
    new graft.OracleCapture.Captured[Int, Array[Array[Double]]]
  /** The contract queries' coarse centers (nlist = 16, pinned dir). */
  private[operators] def capturedCoarseCenters: Option[Array[Array[Double]]] =
    capturedCoarse.get(16)

  /** The coarse-quantizer K-MEANS FIT — index-BUILD work, invoked only
    * when the staged center artifact is missing or stale. */
  private def fitCoarse(spark: SparkSession, dir: String,
                        nlist: Int): KMeansModel = {
    val emb = normalized(spark, dir)
      .withColumn("features", array_to_vector(col("u")))
    new KMeans().setK(nlist).setSeed(42L)
      .setDistanceMeasure("euclidean").setFeaturesCol("features")
      .setPredictionCol("coarse_id").setMaxIter(20)
      .fit(emb)
  }

  /** IVF index artifacts, STAGED (round-12 verdict item 3): the coarse
    * centers persist as a [[Staging.preparedText]] model constant and the
    * assignment table as a [[Staging.prepared]] parquet layout, both
    * fingerprint-gated against the embeddings source — fit once per
    * corpus snapshot, served from the staged artifacts ever after (at
    * 100 TB: the index build job writes them beside the vectors; query
    * sessions only read). The text codec round-trips doubles exactly, so
    * the captured oracle literals are identical whether this session fit
    * the model or inherited the artifact. Every call passes both staging
    * gates, so a layout rewritten by [[Forget]] is read fresh. */
  private def ivfIndex(spark: SparkSession, dir: String,
                       nlist: Int): (Array[Array[Double]], DataFrame) = {
    val centers = parseCenters(
      Staging.preparedText(s"ivf_centers_n$nlist", dir,
        sourceTable = "embeddings", version = IvfCentersVersion)(
        serializeCenters(fitCoarse(spark, dir, nlist)
          .clusterCenters.map(_.toArray))))
    val assigned = Staging.prepared(spark, ivfAssignLayout(nlist), dir)(
      withCoarseId(normalized(spark, dir), centers)
        .select(col("vec_id"), col("u"), col("coarse_id")))
    capturedCoarse.put(dir, nlist, centers)
    (centers, assigned)
  }

  /** Test hook: a FRESH coarse fit plus its explicit-argmin assignment,
    * for the OperatorSpec MLlib-parity pin. Deliberately bypasses the
    * staged artifacts: the parity property (MLlib `transform` ==
    * explicit literal-centroid argmin) must hold for a self-consistent
    * (model, assignment) pair, and a staged center set from an earlier
    * fit would test cross-fit reproducibility instead. */
  private[graft] def ivfIndexForSpec(spark: SparkSession, dir: String,
                                     nlist: Int = 16): (KMeansModel, DataFrame) = {
    val model = fitCoarse(spark, dir, nlist)
    val assigned = withCoarseId(normalized(spark, dir),
      model.clusterCenters.map(_.toArray))
      .select(col("vec_id"), col("u"), col("coarse_id"))
    (model, assigned)
  }

  /** The IVF coarse-assignment table (vec_id, u, coarse_id) for reuse by
    * [[Dedup.semanticDedup]] — the SemDeDup partitioner is exactly the ANN
    * index's coarse quantizer, so both share one staged model per corpus
    * snapshot. */
  private[graft] def ivfAssignments(spark: SparkSession, dir: String,
                                    nlist: Int): DataFrame =
    ivfIndex(spark, dir, nlist)._2

  /** IVF ANN: seeded coarse K-Means (nlist centroids) over unit vectors;
    * each query scores only vectors whose coarse cell is among its `nprobe`
    * nearest centroids. */
  def ivfTopK(spark: SparkSession, dir: String,
              nQueries: Int = 5, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val (centers, assigned) = ivfIndex(spark, dir, nlist)
    // nprobe nearest centroids per query, via the same centroid literals
    val centroids = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
    val queries = assigned.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"))
    val probeSets = queries.withColumn("probes",
      slice(array_sort(array(centroids.map { case (i, c) =>
        struct((lit(1.0) - dot_product(col("qu"), lit(c))).as("d"),
          lit(i).as("cid"))
      }: _*)), 1, nprobe))
      .select(col("query_id"), col("qu"),
        explode(col("probes.cid")).as("coarse_id"))
    val scored = assigned.join(broadcast(probeSets), Seq("coarse_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("u"), col("qu")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast(LongType).as("rk"))
  }

  /** q131 — FILTERED vector search, the production RAG/tenant shape: top-k
    * cosine neighbors among vectors passing a metadata predicate (here:
    * same `label` as the query — "search within my category"). The
    * predicate composes with the IVF index, not around it: the label rides
    * IN the indexed table (one session-cached join — at cluster scale the
    * label is a column of the persisted index), candidates are filtered
    * BEFORE scoring inside the probed cells, and the dot products run only
    * on label-matching rows. Post-filtering (score-then-filter) would waste
    * k slots on excluded vectors and miss matches; this is the
    * pre-filtering shape vector stores ship for low-selectivity filters.
    * Oracle: the q52 captured-centroid mechanism with the label joined into
    * the lab CTE — DuckDB re-derives cells, probes, filter, scoring, and
    * ranking end to end. */
  def ivfFilteredTopK(spark: SparkSession, dir: String,
                      nQueries: Int = 5, k: Int = 10,
                      nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val (centers, assigned) = ivfIndex(spark, dir, nlist)
    val labeled = graft.CacheRegistry.cached(spark, s"ivf-labeled:$nlist:$dir")(
      assigned.join(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
        "vec_id"))
    val centroids = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
    val queries = labeled.orderBy(col("vec_id")).limit(nQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qu"),
        col("label").as("qlabel"))
    val probeSets = queries.withColumn("probes",
      slice(array_sort(array(centroids.map { case (i, c) =>
        struct((lit(1.0) - dot_product(col("qu"), lit(c))).as("d"),
          lit(i).as("cid"))
      }: _*)), 1, nprobe))
      .select(col("query_id"), col("qu"), col("qlabel"),
        explode(col("probes.cid")).as("coarse_id"))
    val scored = labeled.join(broadcast(probeSets), Seq("coarse_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .filter(col("label") === col("qlabel")) // predicate BEFORE scoring
      .withColumn("cosine", dot(col("u"), col("qu")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("qlabel").cast(LongType).as("label"),
        col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast(LongType).as("rk"))
  }

  /** `1 − qu·c` of the query to cell `cid`'s center: the IVF oracles'
    * probe distance. */
  private def probeDistSql(centers: Array[Array[Double]]): String =
    centers.zipWithIndex.map { case (c, i) =>
      s"WHEN $i THEN 1.0 - ${dotLitSql("qu", c)}"
    }.mkString("CASE cid ", " ", " END")

  /** Oracle for [[ivfFilteredTopK]]: [[ivfTopKSql]]'s read path with the
    * label joined into the indexed table and the equality predicate applied
    * before scoring — DuckDB re-derives the entire filtered search. */
  def ivfFilteredTopKSql(centers: Array[Array[Double]], nQueries: Int = 5,
                         k: Int = 10, nprobe: Int = 2): String = {
    s"""WITH ${coarseLabCtes(centers)}, lv AS (
       |  SELECT l.vec_id, l.u, l.coarse_id, e.label
       |  FROM lab l JOIN embeddings e USING (vec_id)
       |), q AS (
       |  SELECT vec_id AS query_id, u AS qu, label AS qlabel
       |  FROM lv ORDER BY vec_id LIMIT $nQueries
       |), cand AS (
       |  SELECT query_id, qu, qlabel, cid, ${probeDistSql(centers)} AS pd
       |  FROM q, (SELECT unnest(range(${centers.length})) AS cid)
       |), probes AS (
       |  SELECT query_id, qu, qlabel, cid
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY pd, cid) AS pr
       |        FROM cand)
       |  WHERE pr <= $nprobe
       |), scored AS (
       |  SELECT p.query_id, p.qlabel, e.vec_id AS neighbor_id,
       |         ${dotColsSql("e.u", "p.qu")} AS cos_raw
       |  FROM lv e JOIN probes p ON e.coarse_id = p.cid
       |  WHERE e.vec_id <> p.query_id AND e.label = p.qlabel
       |), ranked AS (
       |  SELECT query_id, qlabel, neighbor_id, cos_raw,
       |         $cosineRankSql AS rk
       |  FROM scored
       |)
       |SELECT query_id, CAST(qlabel AS BIGINT) AS label, neighbor_id,
       |       round(cos_raw, 6) AS cosine, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin
  }

  /** CTEs ending in `lab(vec_id, u, coarse_id)` — the SQL mirror of
    * [[withCoarseId]] over the unit vectors, shared by the q52 oracle and
    * [[Dedup.semanticDedupSql]]. */
  private[operators] def coarseLabCtes(centers: Array[Array[Double]]): String = {
    val n = centers.length
    val ds = centers.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).foldLeft(0.0)(_ + _)
      s"__su + ${SqlLit.dbl(c2)} - 2.0 * ${dotLitSql("u", c)} AS __cd$i"
    }.mkString(",\n         ")
    val whens = (0 until n - 1).map { i =>
      val conds = ((i + 1) until n).map(j => s"__cd$i <= __cd$j").mkString(" AND ")
      s"WHEN $conds THEN $i"
    }.mkString(" ")
    s"""$unitVectorsSql, sud AS (
       |  SELECT vec_id, u, ${dotColsSql("u", "u")} AS __su FROM un
       |), dd AS (
       |  SELECT vec_id, u,
       |         $ds
       |  FROM sud
       |), lab AS (
       |  SELECT vec_id, u, CASE $whens ELSE ${n - 1} END AS coarse_id FROM dd
       |)""".stripMargin
  }

  /** Oracle for [[ivfTopK]] given the fitted coarse centroids as literals:
    * DuckDB re-derives cell assignment, the nprobe probe set (1 − qu·c
    * ranked with cid tie-break — the struct-sort in [[ivfTopK]]), the exact
    * per-cell scoring, and the ranking — the whole read path; only the
    * seeded coarse FIT stays spec-land. */
  def ivfTopKSql(centers: Array[Array[Double]], nQueries: Int = 5,
                 k: Int = 10, nprobe: Int = 2): String = {
    s"""WITH ${coarseLabCtes(centers)}, q AS (
       |  SELECT vec_id AS query_id, u AS qu FROM lab ORDER BY vec_id LIMIT $nQueries
       |), cand AS (
       |  SELECT query_id, qu, cid, ${probeDistSql(centers)} AS pd
       |  FROM q, (SELECT unnest(range(${centers.length})) AS cid)
       |), probes AS (
       |  SELECT query_id, qu, cid
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY pd, cid) AS pr
       |        FROM cand)
       |  WHERE pr <= $nprobe
       |), scored AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |         ${dotColsSql("e.u", "p.qu")} AS cos_raw
       |  FROM lab e JOIN probes p ON e.coarse_id = p.cid
       |  WHERE e.vec_id <> p.query_id
       |), ${cosineTopKTailSql(k)}""".stripMargin
  }

  /** Shared recall scaffolding for the q166/q285 audits: per query, the
    * overlap of the exact arm's top-k with the approximate arm's, exact
    * ppm, zero-recall queries included. Both arms are nQueries·k-row
    * miniatures after their top-k ranks, but post-window stats are
    * unknown to the optimizer — broadcast explicitly or the intersection
    * plans as a sort-merge join. */
  private def recallAuditFrame(bf: DataFrame, approx: DataFrame,
                               k: Int): DataFrame = {
    val matched = bf.join(broadcast(approx),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_found"))
    bf.select(col("query_id")).distinct()
      .join(broadcast(matched), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        coalesce(expr(s"n_found * 1000000 DIV $k"), lit(0L))
          .as("recall_ppm"))
  }

  /** SQL twin of [[recallAuditFrame]]. */
  private def recallAuditSqlFrom(bfSql: String, approxSql: String,
                                 k: Int): String = {
    val bf = bfSql.replace("\n", "\n  ")
    val ap = approxSql.replace("\n", "\n  ")
    s"""WITH bf AS (
       |  $bf
       |), ap AS (
       |  $ap
       |)
       |SELECT b.query_id, count(a.neighbor_id) AS n_found,
       |       CAST(count(a.neighbor_id) * 1000000 // $k AS BIGINT)
       |         AS recall_ppm
       |FROM bf b LEFT JOIN ap a
       |  ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
       |GROUP BY b.query_id""".stripMargin
  }

  /** q166 — ANN RECALL audit: per query, how many of the exact brute-force
    * top-k (q50) the IVF index (q52, nprobe=2) actually returned, in exact
    * ppm. This is the acceptance test every approximate index needs before
    * it replaces the exact path in production — the number that justifies
    * the nprobe/nlist trade — and here the MEASUREMENT itself is
    * oracle-gated: DuckDB re-derives both retrievals end to end (captured
    * coarse centroids for the IVF side) and the same intersection count.
    * Both retrievals share one query set by construction. */
  def annRecallAudit(spark: SparkSession, dir: String,
                     k: Int = 10): DataFrame =
    recallAuditFrame(
      bruteForceTopK(spark, dir, k = k)
        .select(col("query_id"), col("neighbor_id")),
      ivfTopK(spark, dir, k = k)
        .select(col("query_id"), col("neighbor_id")), k)

  def annRecallAuditSql(centers: Array[Array[Double]], k: Int = 10): String =
    recallAuditSqlFrom(bruteForceTopKSql(k = k), ivfTopKSql(centers, k = k), k)

  /** Oracle entries buildable once the IVF index has been fitted this
    * session (always true by oracle-dump time in a full Verify run). */
  def oracleEntries: Map[String, String] = {
    val ivf = capturedCoarseCenters match {
      case None => Map.empty[String, String]
      case Some(cs) => Map(
        "q52_ann_ivf" -> ivfTopKSql(cs),
        "q131_ann_filtered" -> ivfFilteredTopKSql(cs),
        "q166_ann_recall" -> annRecallAuditSql(cs))
    }
    val pq = capturedPqCodebook match {
      case None => Map.empty[String, String]
      case Some(cb) => Map(
        "q242_pq_adc" -> pqAdcTopKSql(cb),
        "q285_pq_recall" -> pqRecallAuditSql(cb),
        "q288_pq_rescore" -> pqRescoreRecallSql(cb),
        "q300_codebook_drift" -> codebookDriftSql(cb))
    }
    ivf ++ pq
  }

  /** q58 — int8 scalar quantization of the embedding table: per-dimension
    * corpus min/max (the quantizer "model", a 64×2 artifact computed in one
    * distributed pass and inlined as literals — exactly how hyperplanes and
    * centroids are handled), then each value maps to
    * round((x−lo)/(hi−lo)·255)−128 ∈ [−128,127]. This is the 4× compression
    * step a production ANN index runs before storage; at 100 TB the stats
    * pass is one narrow scan + a 64-row aggregate, and quantization itself
    * is a narrow map. Output codes are emitted as a joined string so the
    * DuckDB oracle compares the full code vector exactly (array columns
    * don't round-trip the compare harness). Constant dimensions (hi = lo)
    * quantize to 0 by convention on both engines. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val dims = int8Dims(spark, dir) // staged model constant (round 16)
    val lo = lit(dims.map(_._1))
    val hi = lit(dims.map(_._2))
    val v = col("embedding").cast(ArrayType(DoubleType))
    val q = transform(sequence(lit(0), lit(dims.length - 1)), i => {
      val x = element_at(v, i + 1)
      val l = element_at(lo, i + 1)
      val h = element_at(hi, i + 1)
      when(h > l,
        (round((x - l) / (h - l) * 255.0) - 128.0).cast(LongType))
        .otherwise(lit(0L))
    })
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      lit(dims.length.toLong).as("n_dims"),
      concat_ws(",", q).as("codes"))
  }

  val quantizeInt8Sql: String =
    s"""WITH $int8ModelCtes
       |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
       |       array_to_string(list_transform(range(1, len(v) + 1), i ->
       |         CASE WHEN his[i] > los[i]
       |              THEN CAST(round((v[i] - los[i]) / (his[i] - los[i]) * 255.0)
       |                        - 128.0 AS BIGINT)
       |              ELSE 0 END), ',') AS codes
       |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |     model""".stripMargin

  /** q170 — INT8 retrieval over the q58 quantized codes: top-k by exact
    * INTEGER dot product of int8 code vectors — the memory-bound rescoring
    * tier of a production two-stage ANN (codes are 4× smaller than f32, so
    * the scan is 4× cheaper per byte; survivors would re-rank on the float
    * vectors). Because scores are integers, ranking has NO floating-point
    * exposure at all — the one retrieval lane where cross-engine ties are
    * structurally impossible — and the oracle re-derives quantization AND
    * scoring end to end from the same corpus min/max model.
    *
    * Scale: codes computed in one narrow map off the same 64×2 stats
    * literal as q58 (at scale they are a stored column of the index);
    * queries broadcast; the scan is embarrassingly parallel. */
  def annInt8TopK(spark: SparkSession, dir: String,
                  nQueries: Int = 5, k: Int = 10): DataFrame = {
    val dims = int8Dims(spark, dir) // staged model constant (round 16)
    val lo = lit(dims.map(_._1))
    val hi = lit(dims.map(_._2))
    val v = col("embedding").cast(ArrayType(DoubleType))
    val codes = transform(sequence(lit(0), lit(dims.length - 1)), i => {
      val x = element_at(v, i + 1)
      val l = element_at(lo, i + 1)
      val h = element_at(hi, i + 1)
      when(h > l,
        (round((x - l) / (h - l) * 255.0) - 128.0).cast(LongType))
        .otherwise(lit(0L))
    })
    val coded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), codes.as("codes"))
    val queries = coded.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qcodes")
    val scored = coded.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        aggregate(zip_with(col("codes"), col("qcodes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("score"), col("rk").cast(LongType).as("rk"))
  }

  def annInt8TopKSql(nQueries: Int = 5, k: Int = 10): String =
    s"""WITH $int8CodedCtes, q AS (
       |  SELECT vec_id AS query_id, codes AS qcodes FROM coded
       |  ORDER BY vec_id LIMIT $nQueries
       |), scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(range(1, len(c.codes) + 1),
       |           i -> c.codes[i] * q.qcodes[i])) AS BIGINT) AS score
       |  FROM coded c CROSS JOIN q
       |  WHERE c.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) AS rk
       |FROM ranked WHERE rk <= $k""".stripMargin

  /** Per-label embedding statistics (count + mean/max vector norm). The
    * norm fold is sequential per row → deterministic; oracle-checked against
    * DuckDB list_* functions. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast(LongType).as("label"),
        l2_norm(col("embedding").cast(ArrayType(DoubleType))).as("norm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))

  val embeddingStatsSql: String =
    """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
      |       round(min(norm), 6) AS min_norm, round(max(norm), 6) AS max_norm
      |FROM (
      |  SELECT label,
      |         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |                                      x -> x * x))) AS norm
      |  FROM embeddings)
      |GROUP BY label""".stripMargin

  /** q145 — embedding-space outlier audit: every vector's cosine to its
    * OWN label's centroid, flagged when it sits > 2σ below the label mean
    * — the "mislabeled / off-distribution example" screen run before a
    * labeled embedding set is trusted for contrastive training (q136's
    * hard negatives assume labels are right; this finds where they are
    * likely wrong).
    *
    * Determinism at scale is the whole design: a centroid is a CROSS-ROW
    * double sum, which a distributed engine reorders freely — so every
    * cross-row accumulation here runs on fixed-point LONGS (coordinates
    * and cosines quantized `floor(x·1e6)`), where addition commutes
    * exactly, and doubles only ever appear in per-row folds (the
    * [[graft.functions.VectorExprs]] expressions / DuckDB `list_reduce`,
    * both left-seeded identically) or in single divisions of exact
    * integer aggregates. That is what lets a 500-row local run and a
    * 1000-executor run — and the DuckDB oracle — agree bit-for-bit, and
    * it is the same discipline the money paths use ([[Rfm.cents]]).
    *
    * Plan shape: one posexplode → (label, dim) hash agg for the quantized
    * centroid sums (64·|labels| rows), centroid arrays reassembled with
    * the sort-struct-collect idiom and broadcast back; the score pass is
    * a narrow per-row dot fold; the flag pass re-aggregates quantized
    * cosines per label (|labels| rows, broadcast back). Row volume
    * crosses the wire exactly once, for the centroid partials. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val lab = normalized(spark, dir)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast(LongType).as("label")),
        Seq("vec_id"))
    val ln = lab.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val cells = lab
      .select(col("label"), posexplode(col("u")))
      .select(col("label"), col("pos"),
        floor(col("col") * lit(1000000.0)).cast(LongType).as("qd"))
      .groupBy(col("label"), col("pos")).agg(sum(col("qd")).as("sq"))
    val cd = cells.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sq")))),
        s => s.getField("sq").cast(DoubleType)).as("sarr"))
      .join(ln, Seq("label"))
      .select(col("label"), transform(col("sarr"),
        s => s / (col("n").cast(DoubleType) * lit(1000000.0))).as("c"))
    val cu = cd
      .select(col("label"), col("c"), l2_norm(col("c")).as("cnrm"))
      .select(col("label"),
        transform(col("c"), x => x / col("cnrm")).as("cu"))
    val scored = lab.join(broadcast(cu), Seq("label"))
      .select(col("vec_id"), col("label"),
        dot(col("u"), col("cu")).as("cos_raw"))
      .withColumn("cq", floor(col("cos_raw") * lit(1000000.0)).cast(LongType))
    val stats = scored.groupBy(col("label"))
      .agg(sum(col("cq")).as("scq"),
        sum(col("cq") * col("cq")).as("scq2"),
        count(lit(1)).as("sn"))
    val mu = col("scq").cast(DoubleType) / col("sn").cast(DoubleType)
    val sd = sqrt((col("sn") * col("scq2") - col("scq") * col("scq"))
      .cast(DoubleType) / (col("sn") * col("sn")).cast(DoubleType))
    scored.join(broadcast(stats), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(col("cos_raw"), 6).as("centroid_cos"),
        (col("cq").cast(DoubleType) < mu - lit(2.0) * sd).as("is_outlier"))
  }

  val embeddingOutliersSql: String =
    s"""WITH $unitVectorsSql, lab AS (
       |  SELECT un.vec_id, un.u, CAST(e.label AS BIGINT) AS label
       |  FROM un JOIN embeddings e USING (vec_id)
       |), ln AS (SELECT label, count(*) AS n FROM lab GROUP BY label),
       |qd AS (
       |  SELECT label, unnest(range(len(u))) AS pos,
       |         unnest(list_transform(u,
       |           x -> CAST(floor(x * 1000000.0) AS BIGINT))) AS qd
       |  FROM lab
       |), cells AS (
       |  SELECT label, pos, sum(qd) AS sq FROM qd GROUP BY 1, 2
       |), cd AS (
       |  SELECT c.label,
       |         list_transform(list(CAST(sq AS DOUBLE) ORDER BY pos),
       |           s -> s / (ln.n * 1000000.0)) AS c
       |  FROM cells c JOIN ln USING (label)
       |  GROUP BY c.label, ln.n
       |), cu AS (
       |  SELECT label, list_transform(c, x -> x / cnrm) AS cu
       |  FROM (SELECT label, c,
       |          sqrt(list_reduce(list_transform(c, x -> x * x),
       |                           (a, b) -> a + b)) AS cnrm
       |        FROM cd)
       |), scored AS (
       |  SELECT lab.vec_id, lab.label,
       |         ${dotColsSql("lab.u", "cu.cu")} AS cos_raw
       |  FROM lab JOIN cu USING (label)
       |), cq AS (
       |  SELECT vec_id, label, cos_raw,
       |         CAST(floor(cos_raw * 1000000.0) AS BIGINT) AS cq
       |  FROM scored
       |), stats AS (
       |  SELECT label, sum(cq) AS scq, sum(cq * cq) AS scq2,
       |         count(*) AS sn
       |  FROM cq GROUP BY label
       |)
       |SELECT c.vec_id, c.label, round(c.cos_raw, 6) AS centroid_cos,
       |       CAST(c.cq AS DOUBLE) <
       |         CAST(s.scq AS DOUBLE) / CAST(s.sn AS DOUBLE)
       |         - 2.0 * sqrt(CAST(s.sn * s.scq2 - s.scq * s.scq AS DOUBLE)
       |                      / CAST(s.sn * s.sn AS DOUBLE)) AS is_outlier
       |FROM cq c JOIN stats s USING (label)""".stripMargin

  // ---------------------------------------------------------------- q242

  /** The q58 int8 lattice as an ARRAY column — shared input for the PQ
    * tier. Same 64×2 min/max stats collect (a bounded model constant,
    * q58's own precedent) and the identical rounding law, so the lattice
    * is the one the q58/q170 oracles already prove cross-engine exact. */
  /** STAGED since round 13 (verdict item 3): the int8 code column is an
    * index artifact — the min/max lattice stats collect and the encode
    * map run once per corpus snapshot at build time; every consumer
    * (codebook fit, PQ encode, rescore, coreset) scans the staged
    * layout. Integer codes round-trip parquet exactly. */
  /** Builder versions of the staged ANN artifacts — derived artifacts
    * COMPOSE their upstream's version so a bump cascades down the build
    * chain (int8 lattice → codebook → code table; centers → assignment)
    * instead of silently serving stale derivations (round-13 review
    * finding). Bump the leaf constant whose builder logic changed. */
  private val Int8DimsVersion = "v1"
  private val Int8CodesVersion = "v1"
  private val PqCodebookVersion = s"v1+i8:$Int8CodesVersion"
  private val PqCodesVersion = s"v1+cb:$PqCodebookVersion"
  private val IvfCentersVersion = "v1"
  private val IvfAssignVersion = s"v1+c:$IvfCentersVersion"

  private val Int8CodesLayout =
    Staging.Layout("int8codes", "embeddings", Int8CodesVersion)

  // lazy: [[quantizeInt8Sql]], declared above, interpolates these; a
  // plain val would freeze "null" into its oracle.

  /** The int8 lattice in DuckDB: per-dimension bounds `dims` and their
    * `model` lists (`los`, `his`) — the SQL twin of [[int8Dims]]. */
  private lazy val int8ModelCtes: String =
    """dims AS (
      |  SELECT i AS pos, min(v[i]) AS lo, max(v[i]) AS hi
      |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |       unnest(range(1, len(v) + 1)) AS r(i)
      |  GROUP BY i
      |), model AS (
      |  SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
      |  FROM dims
      |)""".stripMargin

  /** [[int8ModelCtes]] plus `coded(vec_id, codes)`: every embedding's int8
    * code list — the SQL twin of [[int8CodedArray]]. */
  private[operators] lazy val int8CodedCtes: String =
    s"""$int8ModelCtes, coded AS (
       |  SELECT vec_id, list_transform(range(1, len(v) + 1), i ->
       |           CASE WHEN his[i] > los[i]
       |                THEN CAST(round((v[i] - los[i]) / (his[i] - los[i])
       |                          * 255.0) - 128.0 AS BIGINT)
       |                ELSE 0 END) AS codes
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings),
       |       model
       |)""".stripMargin
  private[graft] def ivfAssignLayout(nlist: Int): Staging.Layout =
    Staging.Layout(s"ivf_assign_n$nlist", "embeddings", IvfAssignVersion)
  private def pqCodesLayout(m: Int, ncodes: Int): Staging.Layout =
    Staging.Layout(s"pqcodes_m${m}_n$ncodes", "embeddings", PqCodesVersion)

  private[graft] def int8CodedArray(spark: SparkSession, dir: String): DataFrame =
    Staging.prepared(spark, Int8CodesLayout, dir)(
      int8CodedArrayBuild(spark, dir))

  private def int8CodedArrayBuild(spark: SparkSession, dir: String): DataFrame =
    int8EncodeOn(Tables.embeddings(spark, dir), int8Dims(spark, dir))

  /** The q58 lattice's per-dimension (lo, hi) bounds — the int8 encode's
    * MODEL CONSTANT (a 64-row stats collect, bounded by dimensionality).
    * Split out of the builder so the forget-cascade audit can re-encode
    * the surviving vectors with the SAME lattice the deleted layout was
    * built under (retraining bounds on the survivors would change codes
    * for vectors that lost nothing — not the forget semantic). */
  /** Staged like the IVF centers and the PQ codebook (round 16): the
    * bounds are a per-corpus-snapshot model constant, but this collect
    * ran as a fresh Spark job on EVERY caller — the q306 ann audit paid
    * it once per run inside its frame construction (~0.3 s of the 1.0 s
    * driver-side build the piece profile isolated). `Double.toString`
    * round-trips exactly (the [[serializeCenters]] codec), so staged
    * and freshly-collected bounds are bit-identical. */
  private def int8Dims(spark: SparkSession, dir: String): Array[(Double, Double)] =
    parseCenters(Staging.preparedText("int8_dims", dir,
      sourceTable = "embeddings", version = Int8DimsVersion)(
      serializeCenters(
        Tables.embeddings(spark, dir)
          .select(posexplode(col("embedding").cast(ArrayType(DoubleType))))
          .groupBy(col("pos"))
          .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
          .orderBy(col("pos")).collect()
          .map(r => Array(r.getDouble(1), r.getDouble(2))))))
      .map(a => (a(0), a(1)))

  /** The q58 lattice encode over an arbitrary embeddings-shaped frame
    * with FIXED per-dimension bounds — per-vector work, which is what
    * makes the staged code table delete-maintainable. */
  private def int8EncodeOn(emb: DataFrame,
                           dims: Array[(Double, Double)]): DataFrame = {
    val lo = lit(dims.map(_._1))
    val hi = lit(dims.map(_._2))
    val v = col("embedding").cast(ArrayType(DoubleType))
    val q = transform(sequence(lit(0), lit(dims.length - 1)), i => {
      val x = element_at(v, i + 1)
      val l = element_at(lo, i + 1)
      val h = element_at(hi, i + 1)
      when(h > l,
        (round((x - l) / (h - l) * 255.0) - 128.0).cast(LongType))
        .otherwise(lit(0L))
    })
    emb.select(col("vec_id"), q.as("codes"))
  }

  /** Squared-L2 between positions `s·dsub+1 … s·dsub+dsub` of a full code
    * array and a dsub-length sub-codeword — a STATIC dsub-term codegen
    * sum, no HOF lambda. */
  private def subDistTo(a: Column, sub: Column, s: Column, dsub: Int): Column =
    (1 to dsub).map { j =>
      val ia = element_at(a, (s * dsub + j).cast(IntegerType))
      val ib = element_at(sub, j)
      (ia - ib) * (ia - ib)
    }.reduce(_ + _)

  /** Captured PQ codebook for oracle-literal embedding, keyed (m, ncodes)
    * — the q52 coarse-centroid mechanism. */
  private val capturedPq =
    new graft.OracleCapture.Captured[(Int, Int), Array[Array[Array[Long]]]]
  /** The contract queries' trained codebook (m = 8, ncodes = 16). */
  private[graft] def capturedPqCodebook: Option[Array[Array[Array[Long]]]] =
    capturedPq.get((8, 16))

  /** TRAINED per-subspace PQ codebook (round-10 verdict item 4 — replaces
    * the md5-sampled anchors): for each of the `m` subspaces, a seeded
    * k-means (k = ncodes, the q52 fit discipline) over the corpus's
    * dsub-dim SUB-vectors on the q58 int8 lattice, centroids snapped back
    * to the lattice (round + clamp to [−128,127]). Snapping costs at most
    * 0.5 per dimension of centroid placement — noise against the lattice's
    * own unit step — and buys the property the whole chain is built on:
    * every encode distance and ADC sum stays EXACT INTEGER arithmetic,
    * hash-identical cross-engine. The codebook is an INDEX ARTIFACT: fit
    * once per (dir, m, ncodes) per corpus snapshot and staged (at 100 TB:
    * once per index build, persisted beside the codes), captured as
    * oracle literals so DuckDB re-derives encoding and retrieval from the
    * same m·ncodes·dsub integers. */
  private[graft] def pqCodebook(spark: SparkSession, dir: String,
                                m: Int = 8, ncodes: Int = 16)
      : Array[Array[Array[Long]]] = {
    // STAGED model constant (round-12 verdict item 3): the m per-subspace
    // k-means fits are index-BUILD work — run once per corpus snapshot,
    // persisted as a text artifact; later calls parse the integers back
    // instead of refitting
    val txt = Staging.preparedText(s"pq_codebook_m${m}_n$ncodes", dir,
      sourceTable = "embeddings", version = PqCodebookVersion) {
      val coded = int8CodedArray(spark, dir)
      val d = coded.select(size(col("codes"))).first().getInt(0)
      val dsub = d / m
      (0 until m).map { s =>
        val sub = coded.select(array_to_vector(
          transform(slice(col("codes"), s * dsub + 1, dsub),
            x => x.cast(DoubleType))).as("features"))
        val km = new KMeans().setK(ncodes).setSeed(42L + s)
          .setDistanceMeasure("euclidean").setFeaturesCol("features")
          .setPredictionCol("__c").setMaxIter(20)
        km.fit(sub).clusterCenters.map(_.toArray.map(x =>
          math.max(-128L, math.min(127L, math.round(x))))
          .mkString(";")).mkString("|")
      }.mkString("\n")
    }
    val cb = txt.split("\n").map(_.split("\\|")
      .map(_.split(";").map(java.lang.Long.parseLong)))
    capturedPq.put(dir, (m, ncodes), cb)
    cb
  }

  /** STAGED PQ code table (vec_id, s, cid) — THE compressed index
    * artifact (m bytes per vector): the corpus-wide encode (corpus ×
    * m·ncodes distance terms + the per-(vec, subspace) argmin) runs once
    * per corpus snapshot at build time; q242/q285/q288 then SCAN codes,
    * which is the entire point of PQ at 100 TB. */
  /** The PQ ENCODE over an arbitrary int8-coded frame with a FIXED
    * codebook — per-vector work with no cross-vector dependency, which
    * is what makes the staged code table APPEND-maintainable (q299). */
  private def pqEncode(spark: SparkSession, coded: DataFrame,
                       cb: Array[Array[Array[Long]]], m: Int): DataFrame = {
    val dsub = cb(0)(0).length
    val anchorRows = for (s <- cb.indices; cid <- cb(s).indices)
      yield (s.toLong, cid.toLong, cb(s)(cid).toSeq)
    val anchorDf = spark.createDataFrame(anchorRows).toDF("s", "cid", "asub")
    coded.select(col("vec_id"), col("codes"),
      explode(sequence(lit(0L), lit((m - 1).toLong))).as("s"))
      .join(broadcast(anchorDf), Seq("s"))
      .withColumn("d", subDistTo(col("codes"), col("asub"), col("s"), dsub))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("cid"))).as("b"))
      .select(col("vec_id"), col("s"), col("b.cid").as("cid"))
  }

  private def pqCodesTable(spark: SparkSession, dir: String,
                           m: Int, ncodes: Int): DataFrame =
    Staging.prepared(spark, pqCodesLayout(m, ncodes), dir)(
      pqEncode(spark, int8CodedArray(spark, dir),
        pqCodebook(spark, dir, m, ncodes), m))

  // ---------------------------------------------------------------- q299

  /** The q299 ingest-batch membership over vectors: md5 nibble of vec_id
    * < '4' (~25%) — the q47/q296 bucket discipline. */
  private def incrAnnBatchCond: Column =
    substring(md5(col("vec_id").cast(StringType)), 1, 1) < "4"

  /** q299 — INCREMENTAL ANN INDEX maintenance audit (the q296 story for
    * the compressed vector index): at 100 TB the daily vector operation
    * is "encode today's embeddings with the EXISTING index model and
    * append to the code table" — the codebook/lattice are refit only at
    * scheduled index rebuilds, never per batch. This lane stages the
    * base vectors' PQ codes (~75%, md5-routed), encodes the ingest
    * batch with the SAME fixed model, APPENDS it
    * ([[Staging.append]], idempotent per base build), and
    * audits merged == the full staged code table row-for-row on
    * (vec_id, s, cid). Zero diffs is the design property that makes the
    * code table append-maintainable: each vector's m codes depend on
    * that vector and the fixed codebook alone, so batch ingestion
    * commutes with the encode. q242/q288 would serve retrieval
    * unchanged mid-append. */
  def incrementalAnnAudit(spark: SparkSession, dir: String,
                          m: Int = 8, ncodes: Int = 16): DataFrame = {
    val cb = pqCodebook(spark, dir, m, ncodes)
    val coded = int8CodedArray(spark, dir)
    // base layout (built once per corpus snapshot from the base slice)
    val base = Staging.Layout(s"pqcodes_incr_base_m${m}_n$ncodes",
      "embeddings", PqCodesVersion)
    Staging.prepared(spark, base, dir)(
      pqEncode(spark, coded.filter(!incrAnnBatchCond), cb, m))
    val merged = Staging.append(spark, base, dir, "incr_batch")(
      pqEncode(spark, coded.filter(incrAnnBatchCond), cb, m))
    Dedup.indexDiffRow(pqCodesLayout(m, ncodes).name, merged,
      pqCodesTable(spark, dir, m, ncodes), Seq("vec_id", "s", "cid"))
  }

  // ---------------------------------------------------------------- q300

  /** q300 — CODEBOOK DRIFT audit: the metric that SCHEDULES the index
    * rebuild q299 defers. An incremental ANN deployment encodes every
    * new batch with the index model fit at the last rebuild; as the
    * corpus distribution drifts, the fixed codebook represents new
    * vectors worse and recall decays silently. The operational readout
    * is ENCODE DISTORTION — per vector, Σ over subspaces of the
    * squared-L2 distance to the nearest codeword (the exact integer
    * quantity the encoder minimizes) — compared between the BASE slice
    * (what the model was fit to serve) and the md5-routed ingest BATCH:
    * a batch mean markedly above the base mean is the refit trigger.
    * All integer arithmetic on the q58 lattice, so the comparison is
    * hash-exact cross-engine; one codes scan + broadcast anchors + two
    * aggregates — no pair joins anywhere. */
  def codebookDriftAudit(spark: SparkSession, dir: String,
                         m: Int = 8, ncodes: Int = 16): DataFrame = {
    val cb = pqCodebook(spark, dir, m, ncodes)
    val dsub = cb(0)(0).length
    val anchorRows = for (s <- cb.indices; cid <- cb(s).indices)
      yield (s.toLong, cid.toLong, cb(s)(cid).toSeq)
    val anchorDf = spark.createDataFrame(anchorRows).toDF("s", "cid", "asub")
    int8CodedArray(spark, dir)
      .select(col("vec_id"), col("codes"),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("s"))
      .join(broadcast(anchorDf), Seq("s"))
      .withColumn("d", subDistTo(col("codes"), col("asub"), col("s"), dsub))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d")).as("dmin"))
      .groupBy(col("vec_id"))
      .agg(sum(col("dmin")).as("distortion"))
      .withColumn("slice",
        when(incrAnnBatchCond, lit("batch")).otherwise(lit("base")))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("distortion")).as("total_distortion"))
      .select(col("slice"), col("n_vecs"), col("total_distortion"),
        expr("total_distortion div n_vecs").as("mean_distortion"))
  }

  /** `anchors(s, cid, asub)`: the captured PQ codebook as literal rows. */
  private def codebookAnchorsCte(cb: Array[Array[Array[Long]]]): String = {
    val rows = for (s <- cb.indices; cid <- cb(s).indices)
      yield s"($s, $cid, [${cb(s)(cid).mkString(", ")}])"
    s"""anchors AS (
       |  SELECT * FROM (VALUES
       |    ${rows.mkString(",\n    ")}) AS t(s, cid, asub)
       |)""".stripMargin
  }

  /** [[codebookDriftAudit]]'s oracle: the q58 lattice CTEs, the captured
    * codebook as anchor literals, the identical integer min-distance
    * sums, the identical md5 slice routing. */
  def codebookDriftSql(cb: Array[Array[Array[Long]]], m: Int = 8): String = {
    val dsub = cb(0)(0).length
    val terms = (1 to dsub).map { j =>
      s"(v.codes[a.s * $dsub + $j] - a.asub[$j])" +
        s" * (v.codes[a.s * $dsub + $j] - a.asub[$j])"
    }.mkString(" + ")
    s"""WITH $int8CodedCtes, ${codebookAnchorsCte(cb)}, mins AS (
       |  SELECT v.vec_id, a.s, min($terms) AS dmin
       |  FROM coded v, anchors a
       |  GROUP BY v.vec_id, a.s
       |), per AS (
       |  SELECT vec_id, sum(dmin) AS distortion FROM mins GROUP BY vec_id
       |), sliced AS (
       |  SELECT CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'
       |              THEN 'batch' ELSE 'base' END AS slice, distortion
       |  FROM per
       |)
       |SELECT slice, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(sum(distortion) AS BIGINT) AS total_distortion,
       |       CAST(sum(distortion) // count(*) AS BIGINT)
       |         AS mean_distortion
       |FROM sliced GROUP BY slice""".stripMargin
  }

  /** [[incrementalAnnAudit]]'s oracle: merged-equals-rebuilt means the
    * totals are the full code-table size (m rows per vector) with zero
    * one-sided rows — derivable from the embeddings table alone. */
  def incrementalAnnAuditSql(m: Int = 8, ncodes: Int = 16): String =
    s"""SELECT 'pqcodes_m${m}_n$ncodes' AS artifact,
       |       CAST((SELECT count(*) * $m FROM embeddings) AS BIGINT)
       |         AS n_incremental,
       |       CAST((SELECT count(*) * $m FROM embeddings) AS BIGINT)
       |         AS n_rebuild,
       |       CAST(0 AS BIGINT) AS n_only_incremental,
       |       CAST(0 AS BIGINT) AS n_only_rebuild""".stripMargin

  // ---------------------------------------------------------------- q304

  /** q304 — ANN code-table tombstone DELETE audit (the q303 story for
    * the compressed vector index, completing round-13 verdict item 3's
    * "shingle/signature/ANN" scope): a forget request over vectors
    * (vec_id % 97 = 0 — the q303 cohort on the embeddings table) must
    * propagate into the persisted PQ code table WITHOUT re-encoding the
    * corpus. The lane stages a sandbox code table over the full corpus
    * (the contract `pqcodes` layout that serves q242/q288 is never
    * touched), runs [[Staging.delete]] with the roster — only
    * part files holding a forgotten vector's codes rewrite; the rest
    * hard-link into the atomically-published layout — and audits the
    * deleted table row-for-row against a re-encode of the surviving
    * vectors with the SAME fixed codebook. Zero diffs: each vector's m
    * codes depend on that vector and the model alone, so deletion
    * commutes with the encode exactly as q299's appends do. */
  def annDeleteAudit(spark: SparkSession, dir: String,
                     m: Int = 8, ncodes: Int = 16): DataFrame = {
    val cb = pqCodebook(spark, dir, m, ncodes)
    val coded = int8CodedArray(spark, dir)
    val sandbox = Staging.Layout(s"pqcodes_del_sandbox_m${m}_n$ncodes",
      "embeddings", PqCodesVersion)
    Staging.prepared(spark, sandbox, dir)(pqEncode(spark, coded, cb, m))
    val roster = coded.select(col("vec_id"))
      .filter(col("vec_id") % 97 === 0)
    val deleted = Staging.delete(spark, sandbox, dir, "forget97",
      Seq("vec_id"))(roster)
    val rebuilt = pqEncode(spark,
      coded.filter(col("vec_id") % 97 =!= 0), cb, m)
    Dedup.indexDiffRow(pqCodesLayout(m, ncodes).name, deleted, rebuilt,
      Seq("vec_id", "s", "cid"))
      .select(col("artifact"), col("n_incremental").as("n_after_delete"),
        col("n_rebuild"), col("n_only_incremental").as("n_only_deleted"),
        col("n_only_rebuild"))
  }

  /** The embeddings-derived entries of [[Forget.manifest]] (round-14
    * verdict item 2): the int8 lattice codes, the IVF coarse-assignment
    * table, and the PQ code table all tombstone by vec_id — each row
    * depends on its own vector plus a FIXED model constant (lattice
    * bounds / coarse centers / codebook), so deletion commutes with the
    * encode. The model constants themselves are derived AGGREGATES, not
    * per-subject rows — they are retained (the q300 drift audit is what
    * schedules their refit). */
  private[operators] def forgetTargets: Seq[Forget.Target] =
    Seq(Int8CodesLayout, ivfAssignLayout(16), pqCodesLayout(8, 16))
      .map(Forget.Target(_, Seq("vec_id")))

  /** Build every embeddings-derived staged layout under `dir` — the
    * cascade audit's precondition. */
  private[graft] def buildAnnForgetLayouts(spark: SparkSession,
                                           dir: String): Unit = {
    int8CodedArray(spark, dir)
    ivfIndex(spark, dir, 16)
    pqCodesTable(spark, dir, 8, 16)
    ()
  }

  /** Post-cascade audit rows for the ANN layouts: each deleted layout
    * against a re-derivation of the SURVIVING vectors under the same
    * fixed model constants (lattice bounds, coarse centers, codebook —
    * all captured from the staged artifacts the sandbox build wrote). */
  private[operators] def forgetAuditRowsAnn(spark: SparkSession,
      sandbox: String, keepCond: Column): DataFrame = {
    val dims = int8Dims(spark, sandbox)
    val int8Rebuild =
      int8EncodeOn(Tables.embeddings(spark, sandbox).filter(keepCond), dims)
    val centers = parseCenters(
      Staging.preparedText("ivf_centers_n16", sandbox,
        sourceTable = "embeddings", version = IvfCentersVersion)(
        serializeCenters(fitCoarse(spark, sandbox, 16)
          .clusterCenters.map(_.toArray))))
    val ivfRebuild = withCoarseId(
      normalized(spark, sandbox).filter(keepCond), centers)
      .select(col("vec_id"), col("u"), col("coarse_id"))
    val cb = pqCodebook(spark, sandbox, 8, 16)
    val pqRebuild = pqEncode(spark, int8Rebuild, cb, 8)
    def row(layout: Staging.Layout, rebuilt: DataFrame,
            keys: String*): DataFrame =
      Dedup.indexDiffRow(layout.name,
        Staging.readPrepared(spark, layout, sandbox), rebuilt, keys)
    row(Int8CodesLayout, int8Rebuild, "vec_id", "codes")
      .unionAll(row(ivfAssignLayout(16), ivfRebuild,
        "vec_id", "u", "coarse_id"))
      .unionAll(row(pqCodesLayout(8, 16), pqRebuild, "vec_id", "s", "cid"))
  }

  /** [[annDeleteAudit]]'s oracle: deleted == re-encoded means the totals
    * are m rows per SURVIVING vector with zero one-sided rows. */
  def annDeleteAuditSql(m: Int = 8, ncodes: Int = 16): String =
    s"""SELECT 'pqcodes_m${m}_n$ncodes' AS artifact,
       |       CAST((SELECT count(*) * $m FROM embeddings
       |             WHERE vec_id % 97 <> 0) AS BIGINT) AS n_after_delete,
       |       CAST((SELECT count(*) * $m FROM embeddings
       |             WHERE vec_id % 97 <> 0) AS BIGINT) AS n_rebuild,
       |       CAST(0 AS BIGINT) AS n_only_deleted,
       |       CAST(0 AS BIGINT) AS n_only_rebuild""".stripMargin

  /** q242 — PRODUCT-QUANTIZATION ADC retrieval: the compressed-index tier
    * completing the ANN ladder (brute force → sign-LSH → IVF → int8 →
    * PQ). Vectors live on the q58 int8 lattice; each splits into `m`
    * subspaces of `dsub` dims; per subspace every vector stores only the
    * id of its nearest codebook entry (`m` bytes per vector vs 4·d for
    * floats — the PQ memory argument). A query scans CODES, never
    * vectors: its per-(subspace, code) distance table is built once
    * (m·ncodes rows) and the asymmetric-distance sum is pure integer
    * table lookups.
    *
    * Codebook: the TRAINED per-subspace k-means codebook of
    * [[pqCodebook]] (round 11 — previously a content-addressed md5
    * sample; the trained book cuts measured encode distortion and lifts
    * the q285-audited recall), lattice-snapped so everything after the
    * q58 lattice is INTEGER arithmetic: encode distances, ADC sums, and
    * ranks are exact on both engines — like q170, ties are structurally
    * impossible to misorder.
    *
    * Scale: encode = corpus × (m·ncodes) narrow distance terms + ONE
    * (vec_id, subspace)-keyed argmin aggregate; the codebook and the
    * query distance table broadcast; ADC re-aggregates on (query, vec)
    * with integer sums (order-independent). Nothing data-sized sorts;
    * the per-query window ranks the already-aggregated candidate set
    * (q170's accepted shape at this query count). */
  def pqAdcTopK(spark: SparkSession, dir: String,
                nQueries: Int = 5, k: Int = 10,
                m: Int = 8, ncodes: Int = 16): DataFrame = {
    val coded = int8CodedArray(spark, dir)
    val cb = pqCodebook(spark, dir, m, ncodes)
    val dsub = cb(0)(0).length
    val anchorRows = for (s <- cb.indices; cid <- cb(s).indices)
      yield (s.toLong, cid.toLong, cb(s)(cid).toSeq)
    val anchorDf = spark.createDataFrame(anchorRows).toDF("s", "cid", "asub")
    // the corpus encode lives in the STAGED code table; the query side
    // below encodes only nQueries vectors per call
    val codesT = pqCodesTable(spark, dir, m, ncodes)
    val qd = coded.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qcodes")
      .select(col("query_id"), col("qcodes"),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("s"))
      .join(broadcast(anchorDf), Seq("s"))
      .select(col("query_id"), col("s"), col("cid"),
        subDistTo(col("qcodes"), col("asub"), col("s"), dsub).as("qdist"))
    val adc = codesT.join(broadcast(qd), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("qdist")).as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc"), col("rk").cast(LongType).as("rk"))
  }

  /** q285 — PQ RECALL audit (the q166 acceptance test extended to the
    * compressed tier): per query, how many of the exact brute-force
    * float-cosine top-k (q50) the PQ/ADC retrieval (q242) returns, in
    * exact ppm. This measures the WHOLE compression stack — int8 lattice,
    * trained codebook, m-byte codes, asymmetric distance — against exact
    * search, so the memory-vs-recall trade is a number, not an
    * assumption, before the compressed index serves at 100 TB. Both
    * retrievals share one query set by construction; the measurement is
    * itself oracle-gated (DuckDB re-derives both sides end to end from
    * the captured codebook literals). */
  def pqRecallAudit(spark: SparkSession, dir: String,
                    k: Int = 10): DataFrame =
    recallAuditFrame(
      bruteForceTopK(spark, dir, k = k)
        .select(col("query_id"), col("neighbor_id")),
      pqAdcTopK(spark, dir, k = k)
        .select(col("query_id"), col("neighbor_id")), k)

  def pqRecallAuditSql(cb: Array[Array[Array[Long]]], k: Int = 10): String =
    recallAuditSqlFrom(bruteForceTopKSql(k = k), pqAdcTopKSql(cb, k = k), k)

  // ---------------------------------------------------------------- q288

  /** q288 — TWO-STAGE PQ retrieval: ADC shortlist → exact-int8 RESCORE
    * (round-11 verdict item 2, completing the compression-vs-recall trade
    * q285 opened). q285 measured the PQ/ADC tier alone at 20–50% recall@10
    * — the honest CANDIDATE-GENERATOR number; the production story is
    * shortlist-then-rescore: scan the m-byte codes for a shortlist of
    * L ≫ k candidates, then re-rank just those L with the exact integer
    * dot product over the full int8 vectors (q170's scorer — 4× smaller
    * than floats, still exact integer arithmetic with no tie exposure).
    * This lane runs that pipeline at L ∈ {30, 50} and reports the
    * RECOVERED recall@10 against the exact float-cosine top-k, per
    * (L, query) — the number that says how much shortlist depth buys back
    * what the 8-byte codes gave up.
    *
    * Scale shape: stage 1 is q242's plan (codes scan + broadcast distance
    * table); stage 2 touches only L·queries rows — the rescore join
    * brings the int8 vectors of the SHORTLIST only (a key-equi join
    * against the corpus codes, L·queries « corpus), queries broadcast,
    * and the re-rank window partitions a miniature. At 100 TB the rescore
    * reads are point lookups into the prepared int8 column — the whole
    * reason two-stage retrieval is the production architecture.
    *
    * Exactness: ADC sums, int8 dots, ranks and the recall ppm are all
    * integers; the only doubles live inside the exact arm (q50's
    * bit-reproducible folds). Oracle re-derives both stages end to end
    * from the captured codebook literals. */
  def pqRescoreRecall(spark: SparkSession, dir: String,
                      nQueries: Int = 5, k: Int = 10,
                      shortlists: Seq[Int] = Seq(30, 50)): DataFrame = {
    val maxL = shortlists.max
    val coded = int8CodedArray(spark, dir)
    val shortlist = pqAdcTopK(spark, dir, nQueries = nQueries, k = maxL)
      .select(col("query_id"), col("neighbor_id"), col("rk"))
    val queries = coded.orderBy(col("vec_id")).limit(nQueries)
      .toDF("query_id", "qcodes")
    val rescored = shortlist
      .join(coded.toDF("neighbor_id", "codes"), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("score",
        aggregate(zip_with(col("codes"), col("qcodes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
    val reranked = shortlists.map { l =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      rescored.filter(col("rk") <= l)
        .withColumn("rk2", row_number().over(w))
        .filter(col("rk2") <= k)
        .select(lit(l.toLong).as("l"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionAll _)
    val bf = bruteForceTopK(spark, dir, nQueries = nQueries, k = k)
      .select(col("query_id"), col("neighbor_id"))
    // both sides are nQueries·k/L miniatures post-rank — broadcast
    // explicitly (post-window stats are unknown to the optimizer; the
    // q166/q285 recall-audit discipline)
    val found = reranked
      .join(broadcast(bf), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("l"), col("query_id"))
      .agg(count(lit(1)).as("n_found"))
    val grid = bf.select(col("query_id")).distinct()
      .select(col("query_id"),
        explode(array(shortlists.map(l => lit(l.toLong)): _*)).as("l"))
    grid.join(broadcast(found), Seq("l", "query_id"), "left")
      .select(col("l"), col("query_id"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        coalesce(expr(s"n_found * 1000000 DIV $k"), lit(0L))
          .as("recall_ppm"))
  }

  /** [[pqRescoreRecall]]'s oracle: q242's full ADC chain (captured
    * codebook literals) embedded as the shortlist CTE, the q58 lattice
    * re-derived for the rescore codes, the q170 integer dot re-rank with
    * the identical (score DESC, neighbor_id) tiebreak, and the q50 exact
    * arm — recall ppm per (L, query), zero-recall rows included. */
  def pqRescoreRecallSql(cb: Array[Array[Array[Long]]],
                         nQueries: Int = 5, k: Int = 10,
                         shortlists: Seq[Int] = Seq(30, 50)): String = {
    val sl = pqAdcTopKSql(cb, nQueries, k = shortlists.max)
      .replace("\n", "\n  ")
    val bf = bruteForceTopKSql(nQueries, k).replace("\n", "\n  ")
    s"""WITH sl AS (
       |  $sl
       |), bf AS (
       |  $bf
       |), $int8CodedCtes, qc AS (
       |  SELECT vec_id AS query_id, codes AS qcodes FROM coded
       |  ORDER BY vec_id LIMIT $nQueries
       |), rescored AS (
       |  SELECT s.query_id, s.neighbor_id, s.rk,
       |         CAST(list_sum(list_transform(range(1, len(c.codes) + 1),
       |           i -> c.codes[i] * q.qcodes[i])) AS BIGINT) AS score
       |  FROM sl s
       |  JOIN coded c ON c.vec_id = s.neighbor_id
       |  JOIN qc q ON q.query_id = s.query_id
       |), ls AS (
       |  SELECT CAST(unnest([${shortlists.mkString(", ")}]) AS BIGINT) AS l
       |), rr AS (
       |  SELECT ls.l, r.query_id, r.neighbor_id,
       |         row_number() OVER (PARTITION BY ls.l, r.query_id
       |                            ORDER BY r.score DESC, r.neighbor_id)
       |           AS rk2
       |  FROM rescored r JOIN ls ON r.rk <= ls.l
       |), topk AS (
       |  SELECT l, query_id, neighbor_id FROM rr WHERE rk2 <= $k
       |), grid AS (
       |  SELECT ls.l, b.query_id
       |  FROM ls, (SELECT DISTINCT query_id FROM bf) b
       |), found AS (
       |  SELECT t.l, t.query_id, count(*) AS n
       |  FROM topk t JOIN bf b
       |    ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
       |  GROUP BY 1, 2
       |)
       |SELECT g.l, g.query_id,
       |       CAST(coalesce(f.n, 0) AS BIGINT) AS n_found,
       |       CAST(coalesce(f.n, 0) * 1000000 // $k AS BIGINT) AS recall_ppm
       |FROM grid g LEFT JOIN found f
       |  ON g.l = f.l AND g.query_id = f.query_id""".stripMargin
  }

  /** Oracle for [[pqAdcTopK]]: the q58 lattice CTEs, the TRAINED
    * codebook embedded as (s, cid, asub) literal rows (the q52 captured-
    * centroid mechanism — integers here, so the re-derivation is exact,
    * not IEEE-matched), the same static `dsub`-term integer distances,
    * the row_number argmin (identical (d, cid) tie order to the
    * struct-min), and the integer ADC sum — hash-exact end to end. */
  def pqAdcTopKSql(cb: Array[Array[Array[Long]]], nQueries: Int = 5,
                   k: Int = 10): String = {
    val dsub = cb(0)(0).length
    def terms(a: String, b: String, s: String) = (1 to dsub).map { j =>
      s"($a[$s * $dsub + $j] - $b[$j])" +
        s" * ($a[$s * $dsub + $j] - $b[$j])"
    }.mkString(" + ")
    s"""WITH $int8CodedCtes, ${codebookAnchorsCte(cb)}, cd AS (
       |  SELECT v.vec_id, a.s, a.cid,
       |         ${terms("v.codes", "a.asub", "a.s")} AS d
       |  FROM coded v, anchors a
       |), codes_t AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT vec_id, s, cid,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY d, cid) AS rn
       |    FROM cd) WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS query_id, codes AS qcodes FROM coded
       |  ORDER BY vec_id LIMIT $nQueries
       |), qd AS (
       |  SELECT q.query_id, a.s, a.cid,
       |         ${terms("q.qcodes", "a.asub", "a.s")} AS qdist
       |  FROM q, anchors a
       |), adc AS (
       |  SELECT qd.query_id, ct.vec_id AS neighbor_id,
       |         CAST(sum(qd.qdist) AS BIGINT) AS adc
       |  FROM codes_t ct JOIN qd ON ct.s = qd.s AND ct.cid = qd.cid
       |  WHERE ct.vec_id <> qd.query_id
       |  GROUP BY qd.query_id, ct.vec_id
       |)
       |SELECT query_id, neighbor_id, adc, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY adc, neighbor_id) AS rk
       |  FROM adc)
       |WHERE rk <= $k""".stripMargin
  }

  // ---------------------------------------------------------------- q259

  /** q259 — contrastive TRIPLET mining: for each anchor, the training
    * triple (anchor, hardest positive, hardest negative) that metric-
    * learning losses consume — positive = most-similar SAME-label vector
    * (excluding self), negative = most-similar OTHER-label vector (the
    * q136 hard negative), plus the triplet margin the loss would see.
    * Semi-hard/hard mining is exactly this query with a margin filter.
    *
    * Both lanes ride the q50/q136 shape: broadcast anchors into the
    * corpus, map-side [[graft.functions.TopKAgg]] top-1 per (anchor,
    * lane) so the exchange carries one row per anchor per lane, labels
    * re-joined after ranking. Margin = rounded(pos) − rounded(neg) —
    * a difference of the already-6dp-rounded cosines, so it's exactly
    * reproducible from the output columns themselves. */
  def tripletMining(spark: SparkSession, dir: String,
                    nAnchors: Int = 10): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val lab = normalized(spark, dir).join(labels, Seq("vec_id"))
    val anchors = lab.orderBy(col("vec_id")).limit(nAnchors)
      .select(col("vec_id").as("anchor_id"), col("u").as("au"),
        col("label").as("anchor_label"))
    val scored = lab.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", dot(col("u"), col("au")))
    val top1 = udaf(graft.functions.TopKAgg.TopK(1),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    def lane(same: Boolean, idAs: String, cosAs: String): DataFrame =
      scored
        .filter(if (same) col("label") === col("anchor_label")
                else col("label") =!= col("anchor_label"))
        .groupBy(col("anchor_id"), col("anchor_label"))
        .agg(top1(col("cosine"), col("vec_id")).as("nn"))
        .select(col("anchor_id"), col("anchor_label"),
          col("nn")(0).getField("_2").as(idAs),
          round(col("nn")(0).getField("_1"), 6).as(cosAs))
    lane(same = true, "positive_id", "pos_cosine")
      .join(broadcast(lane(same = false, "negative_id", "neg_cosine")),
        Seq("anchor_id", "anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("positive_id"), col("pos_cosine"),
        col("negative_id"), col("neg_cosine"),
        (col("pos_cosine") - col("neg_cosine")).as("margin"))
  }

  def tripletMiningSql(nAnchors: Int = 10): String =
    s"""WITH $unitVectorsSql, lab AS (
       |  SELECT un.vec_id, un.u, e.label FROM un
       |  JOIN embeddings e USING (vec_id)
       |), a AS (
       |  SELECT vec_id AS anchor_id, u AS au, label AS anchor_label
       |  FROM lab ORDER BY vec_id LIMIT $nAnchors
       |), scored AS (
       |  SELECT a.anchor_id, a.anchor_label, l.vec_id, l.label,
       |         ${dotColsSql("l.u", "a.au")} AS cos_raw
       |  FROM lab l CROSS JOIN a
       |  WHERE l.vec_id <> a.anchor_id
       |), pos AS (
       |  SELECT anchor_id, anchor_label, vec_id AS positive_id,
       |         round(cos_raw, 6) AS pos_cosine
       |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |                    ORDER BY cos_raw DESC, vec_id) AS rk
       |        FROM scored WHERE label = anchor_label)
       |  WHERE rk = 1
       |), neg AS (
       |  SELECT anchor_id, vec_id AS negative_id,
       |         round(cos_raw, 6) AS neg_cosine
       |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |                    ORDER BY cos_raw DESC, vec_id) AS rk
       |        FROM scored WHERE label <> anchor_label)
       |  WHERE rk = 1)
       |SELECT anchor_id, anchor_label, positive_id, pos_cosine,
       |       negative_id, neg_cosine,
       |       pos_cosine - neg_cosine AS margin
       |FROM pos JOIN neg USING (anchor_id)""".stripMargin

  // ---------------------------------------------------------------- q248

  /** q248 — CORESET construction by sensitivity sampling (Bachem/Feldman
    * lightweight coresets): pick a small weighted subset whose k-means
    * cost approximates the full corpus's, so the expensive clustering
    * runs on thousands of points instead of billions. Sensitivity of a
    * point = its squared distance to the nearest of a few content-
    * addressed seed points (the PQ-codebook md5 mechanism — a k-means++
    * seeding drops in via the IVF captured-literal path); inclusion
    * probability ∝ sensitivity, decided by the same exact-integer
    * `u32·S < s·target·2³²` Bernoulli as the DSIR resample, through
    * DECIMAL(38,0)/HUGEINT so the compare survives any SF. Distances are
    * exact integers on the q58 int8 lattice — the whole pipeline is
    * bit-replayable by the oracle.
    *
    * Output: every vector with its sensitivity, kept flag, and is_seed
    * (seeds score 0 — the coreset is {kept} ∪ {seeds}; far-from-seed
    * points are kept preferentially, exactly the "cover what the seeds
    * miss" intuition that makes sensitivity sampling beat uniform).
    *
    * Scale shape: the seed table (4 rows) broadcasts into a narrow
    * distance map; sensitivity is one vec-keyed aggregate; S is a
    * broadcast scalar; the accept filter is a narrow projection. One
    * shuffle total on the corpus side. */
  def coresetSample(spark: SparkSession, dir: String,
                    seeds: Int = 4, target: Int = 64): DataFrame = {
    val coded = int8CodedArray(spark, dir)
    val anchors = coded
      .withColumn("h", md5(col("vec_id").cast(StringType)))
      .orderBy(col("h"), col("vec_id")).limit(seeds)
      .select(col("vec_id").as("seed_id"), col("codes").as("scodes"))
    val sens = coded.crossJoin(broadcast(anchors))
      .select(col("vec_id"),
        aggregate(zip_with(col("codes"), col("scodes"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("d2"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("sens"))
    sens
      .crossJoin(broadcast(sens.agg(sum(col("sens")).as("s_total"))))
      .join(broadcast(anchors.select(col("seed_id"))),
        col("vec_id") === col("seed_id"), "left")
      .select(col("vec_id"), col("sens"),
        (expr("""CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8),
                           16, 10) AS DECIMAL(38,0))""") * col("s_total") <
          col("sens").cast(DecimalType(38, 0)) * target * 4294967296L)
          .as("kept"),
        col("seed_id").isNotNull.as("is_seed"))
  }

  def coresetSampleSql(seeds: Int = 4, target: Int = 64): String =
    s"""WITH $int8CodedCtes, anchors AS (
       |  SELECT vec_id AS seed_id, codes AS scodes FROM (
       |    SELECT vec_id, codes, row_number() OVER (
       |             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |    FROM coded) WHERE rn <= $seeds
       |), sens AS (
       |  SELECT c.vec_id,
       |         CAST(min(list_reduce(list_transform(
       |           range(1, len(c.codes) + 1),
       |           i -> (c.codes[i] - a.scodes[i])
       |                * (c.codes[i] - a.scodes[i])),
       |           (x, y) -> x + y)) AS BIGINT) AS sens
       |  FROM coded c, anchors a GROUP BY c.vec_id
       |), tot AS (SELECT CAST(sum(sens) AS BIGINT) AS s_total FROM sens)
       |SELECT s.vec_id, s.sens,
       |       CAST(('0x' || substr(md5(CAST(s.vec_id AS VARCHAR)), 1, 8))
       |              ::BIGINT AS HUGEINT) * s_total
       |         < CAST(s.sens AS HUGEINT) * $target * 4294967296 AS kept,
       |       a.seed_id IS NOT NULL AS is_seed
       |FROM sens s CROSS JOIN tot
       |LEFT JOIN anchors a ON s.vec_id = a.seed_id""".stripMargin

  /** q270 — embedding CLASS-SEPARABILITY audit: for every label pair, the
    * squared distance between class centroids against the classes' internal
    * spread (trace of covariance) — a Fisher-criterion read-out per pair.
    * This is the question asked of an embedding space before training on it
    * ("are the classes separated, and which pairs smear together?"),
    * answered with NO model: sufficient statistics only.
    *
    * Exactness (the [[graft.operators.Spectral]] trick): coordinates are
    * floor(x·10⁴)-quantized longs, so every cross-row sum is an exact
    * integer and both engines agree bit-for-bit. The centroid distance
    * clears denominators: ‖s_a/n_a − s_b/n_b‖² =
    * Σ_d (s_ad·n_b − s_bd·n_a)² / (n_a·n_b)², numerator in
    * DECIMAL(38,0)/HUGEINT; dist2_e6 lands back in BIGINT in raw x² units.
    * Spread: tr(Cov) = (n·Σ‖q‖² − Σ_d s_d²)/n², same treatment. fisher_e3 =
    * dist2_e6·1000 DIV (spread_a_e6 + spread_b_e6) — separation over
    * scatter, exact integers end to end.
    *
    * Scale shape: ONE scan explodes to (label, dim) partial sums — the
    * shuffle carries ≤ |labels|·64 rows per partition (map-side combine);
    * everything after (the |labels|×64 moment table, the 45-pair matrix) is
    * broadcast miniature algebra. At 100 TB: a scan, full stop — the
    * [[graft.operators.Spectral]] moment-pass shape. */
  def classSeparability(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = Tables.embeddings(spark, dir)
      .select(col("label").cast(LongType).as("label"),
        posexplode(transform(col("embedding").cast(ArrayType(DoubleType)),
          x => floor(x * lit(10000.0)).cast(LongType))))
      .select(col("label"), col("pos").cast(LongType).as("d"),
        col("col").as("qv"))
    // ONE (label, dim) aggregate carries ALL sufficient statistics —
    // per-label n and Σ‖q‖² then derive from the |labels|×64 miniature
    // (two independent aggregations over `q` would scan and 64×-explode
    // the table twice; Spark does not share un-cached subtrees)
    val moments = q.groupBy(col("label"), col("d"))
      .agg(sum(col("qv")).as("s"),
        sum(col("qv").cast(dec) * col("qv")).as("ssd"),
        count(lit(1)).as("cnt"))
    val perDim = moments.select(col("label"), col("d"), col("s"))
    val perLabel = moments.groupBy(col("label"))
      .agg(max(col("cnt")).as("n"), sum(col("ssd")).as("ss"))
    val spread = perDim.groupBy(col("label"))
      .agg(sum(col("s").cast(dec) * col("s")).as("s2"))
      .join(perLabel, Seq("label"))
      .select(col("label"), col("n"),
        expr("""cast((cast(n as decimal(38,0)) * ss - s2) * 1000000
                div (cast(n as decimal(38,0)) * n * 100000000) as bigint)""")
          .as("spread_e6"))
    val pairs = broadcast(spread.toDF("label_a", "n_a", "spread_a_e6"))
      .crossJoin(broadcast(spread.toDF("label_b", "n_b", "spread_b_e6")))
      .filter(col("label_a") < col("label_b"))
    pairs
      .join(broadcast(perDim.toDF("label_a", "d", "sa")), Seq("label_a"))
      .join(broadcast(perDim.toDF("label_b", "d", "sb")), Seq("label_b", "d"))
      .withColumn("term",
        (col("sa").cast(dec) * col("n_b") - col("sb").cast(dec) * col("n_a")))
      .groupBy(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("spread_a_e6"), col("spread_b_e6"))
      .agg(sum(col("term") * col("term")).as("num"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        expr("""cast(num * 1000000
                div (cast(n_a as decimal(38,0)) * n_b * n_a * n_b * 100000000)
                as bigint)""").as("dist2_e6"),
        col("spread_a_e6"), col("spread_b_e6"))
      .withColumn("fisher_e3",
        expr("dist2_e6 * 1000 div greatest(spread_a_e6 + spread_b_e6, 1)"))
  }

  /** [[classSeparability]]'s oracle: identical quantized moments, cleared
    * denominators and integer ratios in DuckDB. */
  val classSeparabilitySql: String =
    """WITH q AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |         unnest(list_transform(embedding,
      |           -- CAST to DOUBLE first: a bare 10000.0 literal is
      |           -- DECIMAL(6,1) in DuckDB and the FLOAT x DECIMAL path
      |           -- quantizes knife-edge values differently than Spark's
      |           -- double multiply (caught by this oracle going off-by-one)
      |           x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
      |           AS qv,
      |         unnest(range(64)) AS d
      |  FROM embeddings
      |), per_dim AS (
      |  SELECT label, d, sum(qv) AS s FROM q GROUP BY 1, 2
      |), per_label AS (
      |  SELECT label, count(*) // 64 AS n,
      |         sum(CAST(qv AS HUGEINT) * qv) AS ss
      |  FROM q GROUP BY 1
      |), spread AS (
      |  SELECT p.label, p.n,
      |         CAST((CAST(p.n AS HUGEINT) * p.ss - d2.s2) * 1000000
      |              // (CAST(p.n AS HUGEINT) * p.n * 100000000) AS BIGINT)
      |           AS spread_e6
      |  FROM per_label p JOIN (
      |    SELECT label, sum(CAST(s AS HUGEINT) * s) AS s2
      |    FROM per_dim GROUP BY 1) d2 USING (label)
      |), pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a,
      |         b.n AS n_b, a.spread_e6 AS spread_a_e6,
      |         b.spread_e6 AS spread_b_e6
      |  FROM spread a JOIN spread b ON a.label < b.label
      |), terms AS (
      |  SELECT p.label_a, p.label_b, p.n_a, p.n_b, p.spread_a_e6,
      |         p.spread_b_e6,
      |         CAST(da.s AS HUGEINT) * p.n_b
      |           - CAST(db.s AS HUGEINT) * p.n_a AS t
      |  FROM pairs p
      |  JOIN per_dim da ON da.label = p.label_a
      |  JOIN per_dim db ON db.label = p.label_b AND db.d = da.d
      |), dist AS (
      |  SELECT label_a, label_b, n_a, n_b, spread_a_e6, spread_b_e6,
      |         sum(t * t) AS num
      |  FROM terms GROUP BY 1, 2, 3, 4, 5, 6
      |)
      |SELECT label_a, label_b, n_a, n_b,
      |       CAST(num * 1000000
      |            // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b * 100000000)
      |            AS BIGINT) AS dist2_e6,
      |       spread_a_e6, spread_b_e6,
      |       CAST(CAST(num * 1000000
      |              // (CAST(n_a AS HUGEINT) * n_b * n_a * n_b * 100000000)
      |              AS BIGINT) * 1000
      |            // greatest(spread_a_e6 + spread_b_e6, 1) AS BIGINT)
      |         AS fisher_e3
      |FROM dist""".stripMargin
}
