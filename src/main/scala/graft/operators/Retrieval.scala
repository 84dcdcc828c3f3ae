package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hybrid retrieval for training-data curation: BM25 lexical scoring and
  * reciprocal-rank fusion of the lexical lane with an int8 embedding lane —
  * the standard two-tower recipe for selecting "relevant to a probe query"
  * documents out of a web-scale corpus (e.g. targeted data selection /
  * domain up-sampling before pre-training).
  *
  * Everything is integer fixed-point so the DuckDB oracle reproduces every
  * score bit-for-bit: BM25's rational k1/b constants are cleared to an
  * all-BIGINT chain (see [[bm25]]), and the semantic lane reuses the q58
  * int8 quantization whose dot products are exact integers (q170 precedent,
  * `SimilaritySearch.scala`).
  */
object Retrieval {

  private def words(text: Column): Column = split(text, " ")

  /** Probe query for the contract queries — common corpus terms so every
    * sf hits a non-trivial posting list. */
  val QueryTerms: Seq[String] = Seq("spark", "hash", "join")

  /** q200 — BM25 top-k documents for a fixed term query.
    *
    * Classic BM25 with k1 = 1.2, b = 0.75. The per-(doc, term) score is
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`; with avgdl = T/N
    * (T = corpus tokens, N = docs) and the constants as rationals
    * (k1 = 6/5, b = 3/4), multiplying through by 5 clears every fraction:
    *
    * {{{
    * denom  = 10·tf + 3 + (9·dl·N) div T          -- ∈ [13, ~10·tf + 9·maxdl·N/T]
    * tf_e3  = (22·tf·1000) div denom              -- saturated TF, ≤ 2 200
    * idf_e3 = (N·1000) div df                     -- linear idf (q92 precedent)
    * score  = Σ_terms tf_e3 · idf_e3              -- BIGINT product per term
    * }}}
    *
    * Determinism: the chain is pure BIGINT in a fixed evaluation order, so
    * Spark and DuckDB agree to the last bit (the `div` inside `denom` is a
    * deliberate shared rounding, not an error term — both engines compute
    * the same floor). Linear idf instead of `log(N/df)` keeps the score
    * off libm entirely (q92's rationale); it preserves rarer ⇒ higher.
    *
    * Overflow headroom: `tf_e3 ≤ 2 200` and `idf_e3 ≤ 1000·N`, so the
    * product stays inside Long up to N ≈ 4·10¹² docs — two orders past a
    * 100 TB corpus at 1 KB/doc. `9·dl·N` caps at ~5·10¹⁵ there. No Double
    * appears anywhere.
    *
    * Scale shape: one corpus scan builds (doc, term, tf) for the |q| query
    * terms only (the explode filters to a 3-element literal set — at scale
    * this is the posting-list read an inverted index serves); df and the
    * two scalar totals (T, N) are term-cardinality/1-row aggregates
    * BROADCAST back onto it. The final top-k is orderBy+limit →
    * `TakeOrderedAndProject` (per-partition k then a k-row driver merge),
    * never a global sort shuffle. */
  def bm25(spark: SparkSession, dir: String,
           terms: Seq[String] = QueryTerms, k: Int = 15): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast(LongType).as("dl"))
    val totals = docs.agg(sum(col("dl")).as("t_tokens"),
      count(lit(1)).as("n_docs"))
    val termSet = array(terms.map(lit): _*)
    val tf = docs
      .select(col("doc_id"), col("dl"),
        explode(filter(col("ws"), w => array_contains(termSet, w))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(totals))
      .withColumn("denom",
        expr("10 * tf + 3 + (9 * dl * n_docs) div t_tokens"))
      .withColumn("tf_e3", expr("(22 * tf * 1000) div denom"))
      .withColumn("idf_e3", expr("(n_docs * 1000) div df"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("tf_e3 * idf_e3")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** `d` (each document's words and length), `totals` and `tf`: the
    * per-(document, term) counts of `terms` that both BM25 oracles score. */
  private def bm25TfCtes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents
       |), totals AS (
       |  SELECT sum(dl) AS t_tokens, count(*) AS n_docs FROM d
       |), tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM d)
       |  WHERE term IN ($inList)
       |  GROUP BY doc_id, dl, term
       |)""".stripMargin
  }

  def bm25Sql(terms: Seq[String] = QueryTerms, k: Int = 15): String = {
    s"""WITH ${bm25TfCtes(terms)}, df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id,
       |         ((22 * tf.tf * 1000)
       |          // (10 * tf.tf + 3 + (9 * tf.dl * t.n_docs) // t.t_tokens))
       |         * ((t.n_docs * 1000) // df.df) AS s
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN totals t
       |)
       |SELECT doc_id, CAST(sum(s) AS BIGINT) AS score, count(*) AS n_terms
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q201 — reciprocal-rank fusion of the BM25 lexical lane with an int8
    * embedding lane: `rrf = Σ_lanes 1/(60 + rank)` over each lane's top-100
    * list, in parts-per-million so it stays integer
    * (`1000000 div (60 + rk)` — a deliberate shared floor on both engines).
    *
    * The semantic lane quantizes embeddings to int8 exactly as q58/q170
    * (corpus min/max model → codes), scores by EXACT integer dot against
    * the probe vector (the corpus row with the smallest vec_id — a stand-in
    * for an encoded user query), so ranking has zero floating-point
    * exposure. Missing membership in a lane contributes 0 — RRF over the
    * union, the standard formulation.
    *
    * Scale shape: each lane ends in orderBy+limit(100) →
    * `TakeOrderedAndProject`; rank assignment is a window over the ≤100-row
    * survivor set (bounded miniature — the documented exception to the
    * no-global-window rule, `TextAnalysis.scala:490` precedent); the fusion
    * join is 100×100 at most. The expensive parts — posting-list scan and
    * int8 dot scan — are embarrassingly parallel corpus passes. */
  def rrfFusion(spark: SparkSession, dir: String,
                laneK: Int = 100, k: Int = 20): DataFrame = {
    val lex = bm25(spark, dir, QueryTerms, laneK)
      .withColumn("rk_lex", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .select(col("doc_id"), col("rk_lex"))

    val dims = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast(ArrayType(DoubleType))))
      .groupBy(col("pos"))
      .agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
      .orderBy(col("pos")).collect()
    val lo = array(dims.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val hi = array(dims.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
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
    val probe = coded.orderBy(col("vec_id")).limit(1)
      .toDF("probe_id", "pcodes")
    val sem = coded.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("dot",
        aggregate(zip_with(col("codes"), col("pcodes"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .orderBy(col("dot").desc, col("vec_id")).limit(laneK)
      .withColumn("rk_sem", row_number().over(
        Window.orderBy(col("dot").desc, col("vec_id"))).cast(LongType))
      .select(col("vec_id").as("doc_id"), col("rk_sem"))

    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000 div (60 + rk_lex)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rk_sem)"), lit(0L)))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("rrf_ppm"),
        coalesce(col("rk_lex"), lit(0L)).as("rk_lex"),
        coalesce(col("rk_sem"), lit(0L)).as("rk_sem"))
  }

  def rrfFusionSql(laneK: Int = 100, k: Int = 20): String = {
    s"""WITH ${bm25TfCtes(QueryTerms)}, dfx AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), bm AS (
       |  SELECT tf.doc_id,
       |         sum(((22 * tf.tf * 1000)
       |              // (10 * tf.tf + 3
       |                  + (9 * tf.dl * t.n_docs) // t.t_tokens))
       |             * ((t.n_docs * 1000) // dfx.df)) AS score
       |  FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN totals t
       |  GROUP BY tf.doc_id
       |  ORDER BY score DESC, tf.doc_id LIMIT $laneK
       |), lex AS (
       |  SELECT doc_id, CAST(row_number() OVER
       |           (ORDER BY score DESC, doc_id) AS BIGINT) AS rk_lex
       |  FROM bm
       |), ${SimilaritySearch.int8CodedCtes}, probe AS (
       |  SELECT vec_id AS probe_id, codes AS pcodes FROM coded
       |  ORDER BY vec_id LIMIT 1
       |), semtop AS (
       |  SELECT c.vec_id AS doc_id,
       |         CAST(list_sum(list_transform(range(1, len(c.codes) + 1),
       |           i -> c.codes[i] * p.pcodes[i])) AS BIGINT) AS dot
       |  FROM coded c CROSS JOIN probe p
       |  WHERE c.vec_id <> p.probe_id
       |  ORDER BY dot DESC, c.vec_id LIMIT $laneK
       |), sem AS (
       |  SELECT doc_id, CAST(row_number() OVER
       |           (ORDER BY dot DESC, doc_id) AS BIGINT) AS rk_sem
       |  FROM semtop
       |), fused AS (
       |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |         coalesce(1000000 // (60 + rk_lex), 0)
       |           + coalesce(1000000 // (60 + rk_sem), 0) AS rrf_ppm,
       |         coalesce(rk_lex, 0) AS rk_lex,
       |         coalesce(rk_sem, 0) AS rk_sem
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |)
       |SELECT doc_id, rrf_ppm, rk_lex, rk_sem FROM fused
       |ORDER BY rrf_ppm DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q203 — the SQL-ONLY user path: cosine top-k written as a `spark.sql`
    * string against a registered temp view, using the engine's injected SQL
    * functions (`graft_dot`, `graft_l2norm` —
    * [[graft.functions.GraftSqlFunctions]]) instead of the Scala column
    * API. Proves the custom codegen expressions are reachable from pure
    * SQL with identical semantics: the oracle replays the same float→double
    * cast, sequential dot/norm folds, `dot/(‖a‖·‖b‖)` evaluation order, and
    * 6-dp round (the q50 cross-engine determinism contract).
    *
    * Scale shape: identical to q50 — probe broadcasts, the scan is one
    * embarrassingly parallel pass, ranking is orderBy+limit
    * (`TakeOrderedAndProject`), and the dot/norm loops stay inside
    * WholeStageCodegen because the SQL names bind to the native
    * expressions, not UDFs. */
  def sqlApiTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.functions.GraftSqlFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .createOrReplaceTempView("graft_emb")
    spark.sql(
      s"""WITH probe AS (
         |  SELECT vec_id AS pid, v AS pv FROM graft_emb
         |  ORDER BY vec_id LIMIT 1
         |), scored AS (
         |  SELECT e.vec_id,
         |         graft_dot(e.v, p.pv)
         |           / (graft_l2norm(e.v) * graft_l2norm(p.pv)) AS cos_raw
         |  FROM graft_emb e CROSS JOIN probe p
         |  WHERE e.vec_id <> p.pid AND graft_l2norm(e.v) > 0
         |)
         |SELECT vec_id, round(cos_raw, 6) AS cosine FROM scored
         |ORDER BY cos_raw DESC, vec_id LIMIT $k""".stripMargin)
  }

  def sqlApiTopKSql(k: Int = 10): String =
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), probe AS (
       |  SELECT vec_id AS pid, v AS pv FROM emb ORDER BY vec_id LIMIT 1
       |), scored AS (
       |  SELECT e.vec_id,
       |         list_reduce(list_transform(range(1, len(e.v) + 1),
       |                       i -> e.v[i] * p.pv[i]), (x, y) -> x + y)
       |           / (sqrt(list_reduce(list_transform(e.v, x -> x * x),
       |                               (a, b) -> a + b))
       |              * sqrt(list_reduce(list_transform(p.pv, x -> x * x),
       |                                 (a, b) -> a + b))) AS cos_raw
       |  FROM emb e CROSS JOIN probe p
       |  WHERE e.vec_id <> p.pid
       |    AND sqrt(list_reduce(list_transform(e.v, x -> x * x),
       |                         (a, b) -> a + b)) > 0
       |)
       |SELECT vec_id, round(cos_raw, 6) AS cosine FROM scored
       |ORDER BY cos_raw DESC, vec_id LIMIT $k""".stripMargin

  // ----------------------------------------------- positional postings

  /** q244 — sharded positional inverted index: the batch index-build that
    * feeds [[bm25]]-style scoring (and phrase queries) at corpus scale.
    * One output row per (term, shard) holding the classic compressed
    * posting list: doc count, collection frequency, and a text-encoded
    * list of `docGap:tf:posDeltas` entries — doc ids delta-encoded in
    * ascending order, in-doc positions delta-encoded ascending (first
    * value absolute), exactly the gap encoding real indexes feed to
    * varint/PForDelta compression.
    *
    * SHARDING is the 100 TB design choice: postings are split into
    * `shards` buckets by `doc_id % shards` — a DOCUMENT-partitioned
    * ("local") index. A term-partitioned index puts a stopword's entire
    * posting list in one row/task (unboundedly hot at corpus scale);
    * document sharding caps every list at its shard's corpus slice, keeps
    * the build a pair of combiner-friendly hash aggregates, and serves
    * queries by fanning out to all shards in parallel — the standard
    * web-search trade (build throughput + bounded rows over single-lookup
    * term locality).
    *
    * Plan shape: posexplode off the scan; level 1 aggregates (term,
    * doc_id) — map-side combinable; level 2 aggregates (term, shard).
    * NO windows: both delta encodings are array `transform`s with an
    * index lambda over the sorted collect, so gap math happens inside a
    * row, not across one (the per-group-window trap grouped medians
    * avoid; group size is bounded by the in-doc term count at level 1
    * and the shard slice at level 2 — documented collects, not
    * driver-side ones). */
  def postingsIndex(spark: SparkSession, dir: String,
                    shards: Int = 4): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(col("ws")))
      .toDF("doc_id", "pos", "term")
    val perDoc = toks.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), array_sort(collect_list(col("pos"))).as("ps"))
      .select(col("term"), col("doc_id"), col("tf"),
        array_join(transform(col("ps"), (p, i) =>
          (p - when(i === 0, lit(0)).otherwise(element_at(col("ps"), i)))
            .cast(StringType)), ",").as("pos_str"))
    perDoc
      .withColumn("shard", col("doc_id") % shards)
      .groupBy(col("term"), col("shard"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_sort(collect_list(struct(col("doc_id"), col("tf"),
          col("pos_str")))).as("plist"))
      .select(col("term"), col("shard"), col("df"), col("cf"),
        array_join(transform(col("plist"), (x, i) =>
          concat((x.getField("doc_id") - when(i === 0, lit(0L))
            .otherwise(element_at(col("plist"), i).getField("doc_id")))
            .cast(StringType),
            lit(":"), x.getField("tf").cast(StringType),
            lit(":"), x.getField("pos_str"))), " ").as("postings"))
  }

  def postingsIndexSql(shards: Int = 4): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), tok AS (
       |  SELECT doc_id, ws[i + 1] AS term, i AS pos
       |  FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM w)
       |), l1 AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       |         string_agg(CAST(delta AS VARCHAR), ',' ORDER BY pos)
       |           AS pos_str
       |  FROM (SELECT term, doc_id, pos,
       |          pos - coalesce(lag(pos) OVER (
       |            PARTITION BY term, doc_id ORDER BY pos), 0) AS delta
       |        FROM tok)
       |  GROUP BY term, doc_id
       |), l2 AS (
       |  SELECT term, doc_id % $shards AS shard, doc_id, tf, pos_str,
       |         doc_id - coalesce(lag(doc_id) OVER (
       |           PARTITION BY term, doc_id % $shards ORDER BY doc_id), 0)
       |           AS gap
       |  FROM l1)
       |SELECT term, CAST(shard AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS df,
       |       CAST(sum(tf) AS BIGINT) AS cf,
       |       string_agg(CAST(gap AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
       |                    || ':' || pos_str, ' ' ORDER BY doc_id)
       |         AS postings
       |FROM l2 GROUP BY term, shard""".stripMargin
}
