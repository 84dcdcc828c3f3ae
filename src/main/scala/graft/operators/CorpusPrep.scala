package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition the individual
  * text/dedup operators exist for, as one declarative plan:
  *
  *   quality-score → threshold filter → near-duplicate removal (keep the
  *   lower doc_id of each pair) → token accounting.
  *
  * Everything fuses into: two narrow passes over documents + the dedup
  * pair-join + one anti-join. No operator materializes an intermediate
  * corpus; at 100 TB this runs as a single pipeline with the near-dup
  * index as the only heavyweight stage. Fully oracle-checked — the DuckDB
  * SQL composes the same CTEs.
  */
object CorpusPrep {

  def corpusPrep(spark: SparkSession, dir: String,
                 minQuality: Double = 0.5): DataFrame = {
    // lang + quality + token counts all come from the ONE cached textBase
    // projection (shared with q40/q41), so the lang/stats/toks "joins" of
    // the logical composition collapse into a single narrow select; the
    // near-dup pair join reuses the session-cached shingle index. The only
    // remaining heavyweight stage is the dedup self-join — as designed.
    val stats = TextAnalysis.textStats(spark, dir)
      .select(col("doc_id"), col("quality"))
    val toks = TextAnalysis.tokenCount(spark, dir)
      .select(col("doc_id"), col("bpe_tokens"))
    val dupLosers = Dedup.ngramPairsPrepared(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(stats, Seq("doc_id"))
      .filter(col("quality") >= minQuality)
      .join(toks, Seq("doc_id"))
      .join(dupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("quality"), col("bpe_tokens"))
  }

  val corpusPrepSql: String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH stats AS (
       |  SELECT doc_id,
       |    round(0.4 * (CAST(len(list_filter(string_split(text, ' '), w -> w IN $stop)) AS DOUBLE)
       |                 / len(string_split(text, ' ')))
       |        + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       |        + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |                       / length(text)), 6) AS quality
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
       |  FROM documents),
       |${Dedup.shingledSizesCtes},
       |common AS (
       |  ${Dedup.shingleCommonSql}),
       |losers AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM common
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5)
       |SELECT d.doc_id, d.lang, s.quality, t.bpe_tokens
       |FROM documents d
       |JOIN stats s ON d.doc_id = s.doc_id
       |JOIN toks t ON d.doc_id = t.doc_id
       |WHERE s.quality >= 0.5
       |  AND d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
  }
}
