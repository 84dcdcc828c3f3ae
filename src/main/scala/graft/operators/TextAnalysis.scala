package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — training-data
  * pipeline extension surface (SURVEY §7.5; no reference counterpart).
  *
  * Everything is built from codegen'd `functions._` expressions (regexp,
  * array lambdas, hashes) — no UDFs — so whole-stage codegen spans the full
  * per-document pipeline and the operators scale as pure narrow maps: no
  * shuffle at all except where a global aggregate is the point.
  *
  * Regex patterns stick to character classes valid in both Java regex
  * (Spark) and RE2 (DuckDB) so the oracle runs the same pattern.
  */
object TextAnalysis {

  /** Small function-word list used by quality scoring and lang-id. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private def words(text: Column): Column = split(text, " ")

  /** The BPE-ish pre-tokenizer pattern (letter runs / single digits /
    * single non-alnum marks — the shape GPT-2 style pre-tokenizers use). */
  private val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Shared per-document scalar projection, computed ONCE per (session,
    * dir) and cached: every raw count the text queries need — the word
    * split, both regex extractions and the stopword filter each run exactly
    * once here, instead of once per consuming query (and, because Catalyst
    * does not CSE across Projects, once per REFERENCE inside each query:
    * the quality blend alone referenced the stopword filter twice).
    * [[textStats]], [[tokenCount]] and [[graft.operators.CorpusPrep]] are
    * arithmetic-only selects over this frame. At 100 TB this is the
    * "document stats" companion table a corpus pipeline materializes
    * anyway; 8 longs + lang per document, far narrower than the text. */
  private[operators] def textBase(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"textbase:$dir") {
      val ws = words(col("text"))
      Tables.documents(spark, dir).select(
        col("doc_id"),
        col("lang"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(ws).cast(LongType).as("n_words"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
          .cast(LongType).as("n_alnum"),
        size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
          .cast(LongType).as("n_punct"),
        size(filter(ws, w => w.isin(Stopwords: _*))).cast(LongType).as("n_stop"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast(LongType).as("n_bpe"))
    }

  /** Per-document statistics + quality score.
    *
    * Quality is a deterministic rational blend (no transcendentals — libm
    * differences would break cross-engine exactness):
    * 0.4·stopword_ratio + 0.3·min(1, n_words/100) + 0.3·(1 − punct_ratio). */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val base = textBase(spark, dir)
    val stopRatio = col("n_stop").cast(DoubleType) / col("n_words").cast(DoubleType)
    val punctRatio = col("n_punct").cast(DoubleType) / col("n_chars").cast(DoubleType)
    val lenScore = least(lit(1.0), col("n_words").cast(DoubleType) / 100.0)
    base.select(col("doc_id"),
      col("n_chars").as("n_chars_calc"),
      col("n_words"),
      col("n_alnum").as("n_alnum_tokens"),
      col("n_punct"),
      col("n_stop").as("n_stopwords"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(lit(0.4) * stopRatio + lit(0.3) * lenScore +
        lit(0.3) * (lit(1.0) - punctRatio), 6).as("quality"))
  }

  val textStatsSql: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars_calc,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_alnum_tokens,
       |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS BIGINT) AS n_stopwords,
       |  round(CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS DOUBLE)
       |        / len(string_split(text, ' ')), 6) AS stopword_ratio,
       |  round(0.4 * (CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS DOUBLE)
       |               / len(string_split(text, ' ')))
       |      + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
       |      + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
       |                     / length(text)), 6) AS quality
       |FROM documents""".stripMargin
  }

  /** Token counting: whitespace tokens plus the [[BpePattern]] regex
    * segmentation. Per-document counts from the shared [[textBase]]
    * projection; global totals are one extra aggregate away. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    textBase(spark, dir).select(col("doc_id"),
      col("n_words").as("ws_tokens"),
      col("n_bpe").as("bpe_tokens"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
      |FROM documents""".stripMargin

  /** q169 — tokenizer FERTILITY per language: BPE-ish tokens per
    * whitespace word (×1e6, exact integer), per lang — the number that
    * prices a language's training cost and flags scripts the tokenizer
    * fragments (high fertility = more tokens per word = more compute per
    * unit of text). Reuses q41's two token counters verbatim so the
    * per-doc and per-lang views can never disagree; one narrow scan + one
    * |langs|-row aggregate. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("ws"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))
          .cast(LongType).as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("bpe_tokens * 1000000 DIV ws_tokens").as("fertility_ppm"))

  val tokenizerFertilitySql: String =
    """WITH det AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
      |         CAST(len(regexp_extract_all(text,
      |              '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe
      |  FROM documents
      |), agg AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(sum(ws) AS BIGINT) AS ws_tokens,
      |         CAST(sum(bpe) AS BIGINT) AS bpe_tokens
      |  FROM det GROUP BY lang)
      |SELECT lang, n_docs, ws_tokens, bpe_tokens,
      |       CAST(bpe_tokens * 1000000 // ws_tokens AS BIGINT)
      |         AS fertility_ppm
      |FROM agg""".stripMargin

  /** Document fingerprinting, two signatures per doc:
    *  - `norm_md5`: md5 of the normalized text (lowercase, punctuation
    *    stripped, whitespace collapsed) — the canonical "fuzzy-exact" dedup
    *    key; oracle-checked.
    *  - `rolling`: order-sensitive polynomial rolling hash over per-word
    *    integer values, mod 2^31−1 with base 1000003 (modular form keeps
    *    the ANSI-mode long multiply from overflowing), computed with a
    *    sequential `aggregate` fold — content AND order sensitive, unlike
    *    the bag-of-words hashes. The word value is the first 60 bits of
    *    the word's md5 (both engines produce identical md5 hex, so the
    *    whole chain is pure integer arithmetic and ORACLE-CHECKED — q44
    *    hash-matches a DuckDB `list_reduce` of the same fold). For a
    *    production pipeline that doesn't need engine portability,
    *    `pmod(xxhash64(w), M)` is the drop-in cheaper word value. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintOn(Tables.documents(spark, dir))

  /** [[fingerprint]] over an arbitrary documents-shaped frame. */
  def fingerprintOn(d: DataFrame): DataFrame = {
    val normalized = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")
    val M = 2147483647L // 2^31 − 1
    // conv() parses 15 hex chars (60 bits — fits a long, stays positive)
    val rolling = aggregate(
      transform(words(col("text")),
        w => pmod(conv(substring(md5(w), 1, 15), 16, 10).cast(LongType),
          lit(M))),
      lit(0L),
      (acc, h) => pmod(acc * lit(1000003L) + h, lit(M)))
    d.select(col("doc_id"),
      md5(normalized.cast(BinaryType)).as("norm_md5"),
      rolling.as("rolling_hash"))
  }

  /** Oracle for the FULL [[fingerprint]] including the rolling hash: the
    * same fold in DuckDB (`list_reduce` seeds with the first element,
    * which equals Spark's 0-seeded fold because (0·B + h₁) mod M = h₁;
    * word lists are never empty — split('') is ['']). */
  val fingerprintRollingSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      ' +', ' ', 'g')) AS norm_md5,
      |  list_reduce(
      |    list_transform(string_split(text, ' '),
      |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 2147483647),
      |    (acc, h) -> (acc * 1000003 + h) % 2147483647) AS rolling_hash
      |FROM documents""".stripMargin

  /** Oracle for [[fingerprint]] minus the Spark-only rolling hash column —
    * the driver compares what both engines can compute. */
  def fingerprintOracle(spark: SparkSession, dir: String): DataFrame =
    fingerprint(spark, dir).select(col("doc_id"), col("norm_md5"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |      ' +', ' ', 'g')) AS norm_md5
      |FROM documents""".stripMargin

  /** Edit-distance confirmation of the near-duplicate pairs: joins the
    * 25 shingle-Jaccard pairs back to their texts and scores Levenshtein
    * distance (both engines implement the standard DP edit distance) plus a
    * normalized similarity. Exercises the string-function family on a
    * bounded pair set — never all-pairs: Levenshtein is O(len²) per pair,
    * so at scale it only ever runs as a post-filter on LSH candidates,
    * exactly as composed here. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val pairs = Dedup.ngramPairsPrepared(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    pairs
      .join(docs.toDF("doc_a", "text_a"), Seq("doc_a"))
      .join(docs.toDF("doc_b", "text_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast(LongType).as("edit_dist"),
        round(lit(1.0) -
          levenshtein(col("text_a"), col("text_b")).cast(DoubleType) /
            greatest(length(col("text_a")), length(col("text_b"))), 6)
          .as("lev_sim"))
  }

  val editDistancePairsSql: String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b FROM (${Dedup.ngramJaccardSql}))
       |SELECT p.doc_a, p.doc_b,
       |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       |       round(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |                   / greatest(length(a.text), length(b.text)), 6) AS lev_sim
       |FROM pairs p
       |JOIN documents a ON p.doc_a = a.doc_id
       |JOIN documents b ON p.doc_b = b.doc_id""".stripMargin

  /** Language identification via stopword-profile scoring: each language has
    * a tiny function-word profile; the predicted language maximizes the
    * count of profile hits (deterministic tiebreak). An honest n-gram
    * heuristic — the testdata's `lang` labels are synthetic (the text is
    * uniform word-salad), so agreement with the label is reported but not
    * asserted. Rows-only check. */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val ws = words(lower(col("text")))
    val scores = LangProfiles.toSeq.sortBy(_._1).map { case (lang, profile) =>
      struct(size(filter(ws, w => w.isin(profile: _*))).as("hits"),
        // max(struct) picks highest hits, ties broken toward the
        // lexicographically last language — deterministic
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    d.select(col("doc_id"), col("lang").as("lang_label"),
      when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("lang_pred"))
      .withColumn("agrees", (col("lang_pred") === col("lang_label")).cast(IntegerType))
  }

  /** DuckDB oracle for [[langId]], generated from the same [[LangProfiles]]
    * so both engines score identical word lists. DuckDB's `list_sort(...)[-1]`
    * over structs reproduces Spark's `greatest(struct...)` max-by-(hits,lang)
    * semantics including the lexicographically-last tiebreak. */
  val langIdSql: String = {
    val structs = LangProfiles.toSeq.sortBy(_._1).map { case (lang, profile) =>
      val list = profile.map(w => s"'$w'").mkString("(", ", ", ")")
      s"{'hits': len(list_filter(string_split(lower(text), ' '), w -> w IN $list)), 'lang': '$lang'}"
    }.mkString(",\n      ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS lang_label,
       |    (list_sort([
       |      $structs
       |    ]))[-1] AS best
       |  FROM documents)
       |SELECT doc_id, lang_label,
       |       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
       |       CAST(CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END = lang_label
       |            AS INTEGER) AS agrees
       |FROM scored""".stripMargin
  }

  /** q198 — language-ID CONFUSION MATRIX: the q43 heuristic's predictions
    * cross-tabulated against the declared `lang` labels, with per-cell
    * counts and the row-share in exact ppm — the acceptance report a
    * language-ID stage ships with (precision/recall per language derive
    * directly from the cells). Reuses [[langId]] verbatim so the matrix
    * can never drift from the classifier it audits; the rollup is a
    * |langs|²-bounded aggregate. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang_label"))
    langId(spark, dir)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total", sum(col("n")).over(w))
      .select(col("lang_label"), col("lang_pred"), col("n"),
        expr("n * 1000000 DIV label_total").as("row_share_ppm"))
  }

  val langConfusionSql: String =
    s"""WITH pred AS (${langIdSql})
       |, cells AS (
       |  SELECT lang_label, lang_pred, count(*) AS n
       |  FROM pred GROUP BY lang_label, lang_pred)
       |SELECT lang_label, lang_pred, CAST(n AS BIGINT) AS n,
       |       CAST(n * 1000000 //
       |              sum(n) OVER (PARTITION BY lang_label) AS BIGINT)
       |         AS row_share_ppm
       |FROM cells""".stripMargin

  /** q55 — fixed-size token chunking: split every document into
    * back-to-back windows of `chunkSize` whitespace tokens (the
    * context-window packing step before tokenization proper). Emits one row
    * per chunk with its token count and the md5 of the chunk text — the
    * shape a downstream tokenizer/trainer consumes without re-reading the
    * source doc. A pure narrow map (generate indices → slice → hash,
    * one posexplode), no shuffle; the per-chunk HASH keeps the output
    * narrow where emitting chunk text would multiply the corpus. */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunkSize: Int = 32): DataFrame = {
    // words materialized first: the transform lambda references `ws` per
    // chunk (size + slice), and HOF lambdas evaluate interpreted — an
    // inline split would re-tokenize per reference (see Dedup.withWords)
    val ws = col("ws")
    val nChunks = floor((size(ws) + chunkSize - 1) / chunkSize).cast(IntegerType)
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1), i =>
          struct(
            least(lit(chunkSize), size(ws) - i * chunkSize)
              .cast(LongType).as("n_tokens"),
            md5(concat_ws(" ", slice(ws, i * chunkSize + 1, lit(chunkSize))))
              .as("chunk_md5")))))
      .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
        col("col.n_tokens").as("n_tokens"), col("col.chunk_md5").as("chunk_md5"))
  }

  val chunkDocumentsSql: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), ch AS (
      |  SELECT doc_id, unnest(range((len(w) + 31) // 32)) AS i, w FROM ws
      |)
      |SELECT doc_id, i AS chunk_idx,
      |       CAST(least(32, len(w) - i * 32) AS BIGINT) AS n_tokens,
      |       md5(array_to_string(w[i*32+1 : i*32+32], ' ')) AS chunk_md5
      |FROM ch""".stripMargin

  /** q275 — PACKED-SEQUENCE manifest (the GPT-style concatenate-and-SPLIT
    * pretraining layout): documents are laid end-to-end in doc_id order
    * and the token stream is cut into fixed `budget`-token training
    * sequences; a doc whose span crosses a cut contributes its head to one
    * sequence and its tail to the next. This is the OTHER packing layout
    * next to [[sequencePacking]] (q74): q74 assigns each WHOLE doc to the
    * bin where its tokens start (contiguous fill, docs never split — bins
    * under-fill by up to one doc); concat-and-split cuts documents AT the
    * boundary, so every sequence is exactly full. The output is the
    * per-sequence manifest — how many docs contribute, how many sit fully
    * inside (never truncated at either end), the token fill (= budget for
    * every sequence but the last — zero pad waste, the whole point vs the
    * q126/q160 padded-batch layout), and the contributing doc_id span —
    * the table a data loader reads to map training-loss spikes back to
    * source documents.
    *
    * Scale shape: the global token offset is a PREFIX SUM in doc_id order
    * and rides [[OffsetPrefix.cumSum]] (range partition + broadcast
    * per-partition offset miniature — never an unpartitioned corpus
    * window, the q75/q268 discipline); the
    * bin-overlap explode emits ⌈n_tokens/budget⌉+1 ≤ tokens/budget rows
    * per doc (O(total tokens / budget) overall); the final aggregate keys
    * on seq_id — HIGH-cardinality, grows with the data, partitions with
    * the cluster. Everything is exact integer arithmetic. */
  def packedSequenceManifest(spark: SparkSession, dir: String,
                             budget: Int = 64): DataFrame = {
    require(budget >= 1, s"budget must be >= 1: $budget")
    val b = budget.toLong
    val spans = OffsetPrefix.cumSum(
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            // degenerate-doc guard (round-10 ADVICE): null text makes
            // size(split(...)) null/-1 here but NULL in DuckDB — clamp to
            // 0 on both sides so the prefix sums agree on broken corpora
            greatest(lit(0L),
              size(split(col("text"), " ")).cast(LongType)).as("n"))
          .withColumn("g", lit(1)),
        "g", Seq("doc_id"), "n")
      .select(col("doc_id"), col("n"),
        (col("__cum") - col("n")).as("st"), col("__cum").as("en"))
    spans
      // zero-token docs span nothing: without this filter Spark's
      // sequence(st div b, (en-1) div b) on en == st silently DESCENDS and
      // emits spurious fill rows while DuckDB's range() yields nothing
      .filter(col("en") > col("st"))
      .select(col("doc_id"), col("st"), col("en"),
        explode(sequence(expr(s"st div $b"), expr(s"(en - 1) div $b")))
          .as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("st") >= col("seq_id") * b &&
          col("en") <= (col("seq_id") + 1) * b, 1L).otherwise(0L))
          .as("n_full_docs"),
        sum(least(col("en"), (col("seq_id") + 1) * b) -
          greatest(col("st"), col("seq_id") * b)).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  def packedSequenceManifestSql(budget: Int = 64): String =
    s"""WITH ws AS (
       |  -- COALESCE mirrors the Spark side's null-text clamp to 0 tokens
       |  SELECT doc_id,
       |         COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
       |           AS n
       |  FROM documents
       |), cum AS (
       |  SELECT doc_id, n,
       |         sum(n) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM ws
       |), spans AS (
       |  -- sum() OVER returns HUGEINT in DuckDB and range() has no
       |  -- HUGEINT overload — pin the span bounds back to BIGINT
       |  SELECT doc_id, CAST(c - n AS BIGINT) AS st, CAST(c AS BIGINT) AS en
       |  FROM cum
       |), ex AS (
       |  -- en > st mirrors the Spark side's zero-token-doc filter
       |  SELECT doc_id, st, en,
       |         unnest(range(st // $budget, (en - 1) // $budget + 1))
       |           AS seq_id
       |  FROM spans WHERE en > st
       |)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN st >= seq_id * $budget
       |                      AND en <= (seq_id + 1) * $budget
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs,
       |       CAST(sum(least(en, (seq_id + 1) * $budget)
       |                - greatest(st, seq_id * $budget)) AS BIGINT)
       |         AS n_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM ex GROUP BY seq_id""".stripMargin

  /** q276 — COHEN'S KAPPA inter-rater agreement between the q46 heuristic
    * language identifier and the corpus's labeled `lang`: raw accuracy
    * (q198's diagonal share) overstates agreement whenever the label
    * distribution is skewed — kappa subtracts the agreement two INDEPENDENT
    * raters with these marginals would reach by chance,
    * κ = (p_o − p_e) / (1 − p_e) with p_e = Σ_c row_c · col_c / N².
    * The standard labeling-QA read-out before trusting auto-labels (or a
    * second annotator) at corpus scale.
    *
    * Every moment is exact: p_o and p_e ride the ppm DIV convention, the
    * marginal products and N² run in DECIMAL(38,0)/HUGEINT (N² overflows
    * int64 at corpus scale), and κ itself is ONE double division of two
    * exact ppm integers — bit-identical cross-engine (the q246 tail
    * discipline). Guarded: p_e = 1 (a single-class degenerate corpus)
    * returns κ = 0 rather than 0/0.
    *
    * Scale shape: the q46 prediction is a narrow per-doc map; ONE
    * (label, pred) aggregate collapses the corpus to ≤|langs|² cells, and
    * the kappa algebra runs on that broadcast miniature. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val cells = langId(spark, dir)
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val agree = cells
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("lang_label") === col("lang_pred"), col("n"))
          .otherwise(0L)).as("n_agree"))
    val chance = cells
      .groupBy(col("lang_label")).agg(sum(col("n")).as("row_n"))
      .join(cells.groupBy(col("lang_pred")).agg(sum(col("n")).as("col_n")),
        col("lang_label") === col("lang_pred"))
      .agg(sum(col("row_n").cast(DecimalType(38, 0)) *
        col("col_n").cast(DecimalType(38, 0)))
        .cast(DecimalType(38, 0)).as("rc"))
    broadcast(agree).crossJoin(broadcast(chance))
      .select(col("n_docs"), col("n_agree"),
        expr("n_agree * 1000000 DIV n_docs").as("po_ppm"),
        expr("""CAST((rc * 1000000)
                div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)""")
          .as("pe_ppm"))
      .withColumn("kappa",
        when(col("pe_ppm") === 1000000L, lit(0.0)).otherwise(
          (col("po_ppm") - col("pe_ppm")).cast("double") /
            (lit(1000000L) - col("pe_ppm")).cast("double")))
  }

  val cohensKappaSql: String =
    s"""WITH pred AS (${langIdSql}
       |), cells AS (
       |  SELECT lang_label, lang_pred, count(*) AS n
       |  FROM pred GROUP BY 1, 2
       |), agree AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |         CAST(sum(CASE WHEN lang_label = lang_pred THEN n
       |                       ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM cells
       |), chance AS (
       |  SELECT sum(CAST(r.row_n AS HUGEINT) * CAST(c.col_n AS HUGEINT))
       |           AS rc
       |  FROM (SELECT lang_label, sum(n) AS row_n FROM cells GROUP BY 1) r
       |  JOIN (SELECT lang_pred, sum(n) AS col_n FROM cells GROUP BY 1) c
       |    ON r.lang_label = c.lang_pred
       |)
       |SELECT n_docs, n_agree,
       |       CAST(n_agree * 1000000 // n_docs AS BIGINT) AS po_ppm,
       |       CAST((rc * 1000000)
       |            // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
       |         AS pe_ppm,
       |       CASE WHEN (rc * 1000000)
       |                 // (CAST(n_docs AS HUGEINT) * n_docs) = 1000000
       |            THEN 0.0
       |            ELSE CAST(n_agree * 1000000 // n_docs
       |                      - (rc * 1000000)
       |                        // (CAST(n_docs AS HUGEINT) * n_docs)
       |                      AS DOUBLE)
       |                 / CAST(1000000
       |                        - (rc * 1000000)
       |                          // (CAST(n_docs AS HUGEINT) * n_docs)
       |                        AS DOUBLE) END AS kappa
       |FROM agree, chance""".stripMargin

  /** q282 — LEAVE-ONE-SOURCE-OUT quality ablation: for every source, the
    * corpus mean quality score (q109's exact avg_e6) WITH and WITHOUT
    * that source, and the delta — the data-mixture curation table that
    * answers "which source drags the corpus down?" BEFORE anyone spends
    * a training run on the question. `delta_e6 > 0` means removing the
    * source RAISES corpus quality (the source is below-average weight ×
    * mass); the magnitude ranks candidates for down-weighting in the
    * q125/q132/q133 mixture lanes. Everything is closed-form from
    * sufficient statistics — a leave-one-out over S sources costs ONE
    * aggregate, not S re-scans: loo_mean = (ΣQ − ΣQ_s) / (N − n_s),
    * exact integer DIV, sums carried in DECIMAL(38,0) (a corpus-scale
    * Σ of e6-scaled scores exceeds int64 headroom past ~9·10¹² docs).
    *
    * Scale shape: the session-cached q109 score table joins `source` on
    * the co-partitioned doc_id key; ONE source-keyed aggregate collapses
    * the corpus to |sources| rows; the global totals broadcast back onto
    * that miniature. Guarded: a single-source corpus (N = n_s) emits a
    * null loo/delta rather than 0-division. */
  def sourceAblation(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityScores(spark, dir)
      .select(col("doc_id"), col("avg_e6"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
    val per = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_e6").cast(DecimalType(38, 0))).as("sum_q"))
    val tot = broadcast(per.agg(
      sum(col("n_docs")).as("n_all"),
      sum(col("sum_q")).cast(DecimalType(38, 0)).as("sum_all")))
    per.crossJoin(tot)
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 DIV n_all").as("share_ppm"),
        expr("CAST(sum_q DIV n_docs AS BIGINT)").as("mean_e6"),
        expr("CAST(sum_all DIV n_all AS BIGINT)").as("corpus_mean_e6"),
        expr("""CASE WHEN n_all = n_docs THEN NULL
                ELSE CAST((sum_all - sum_q) DIV (n_all - n_docs) AS BIGINT)
                END""").as("loo_mean_e6"))
      .withColumn("delta_e6", col("loo_mean_e6") - col("corpus_mean_e6"))
  }

  /** [[sourceAblation]]'s oracle: q109's score chain + the identical
    * HUGEINT sufficient-statistic algebra. */
  def sourceAblationSql: String =
    s"""WITH q AS (${linearQualityScoreSql}
       |), per AS (
       |  SELECT d.source, count(*) AS n_docs,
       |         sum(CAST(q.avg_e6 AS HUGEINT)) AS sum_q
       |  FROM q JOIN documents d USING (doc_id)
       |  GROUP BY d.source
       |), tot AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
       |         sum(sum_q) AS sum_all
       |  FROM per
       |)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_docs * 1000000 // n_all AS BIGINT) AS share_ppm,
       |       CAST(sum_q // n_docs AS BIGINT) AS mean_e6,
       |       CAST(sum_all // n_all AS BIGINT) AS corpus_mean_e6,
       |       CASE WHEN n_all = n_docs THEN NULL
       |            ELSE CAST((sum_all - sum_q) // (n_all - n_docs)
       |                      AS BIGINT) END AS loo_mean_e6,
       |       CASE WHEN n_all = n_docs THEN NULL
       |            ELSE CAST((sum_all - sum_q) // (n_all - n_docs)
       |                      AS BIGINT)
       |                 - CAST(sum_all // n_all AS BIGINT)
       |            END AS delta_e6
       |FROM per, tot""".stripMargin

  /** q57 — corpus vocabulary: top-k tokens by global frequency with
    * deterministic (count desc, token asc) ordering — the input a tokenizer
    * trainer consumes. Token counts partial-aggregate map-side; the final
    * top-k is a `TakeOrderedAndProject` (per-partition k then a k-row
    * driver merge), never a global sort shuffle. */
  def vocabulary(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  val vocabularySql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token ASC
      |LIMIT 50""".stripMargin

  /** q92 — TF-IDF top terms per document: term frequency × inverse document
    * frequency, top `k` terms per doc with a deterministic
    * (score desc, term asc) tiebreak.
    *
    * Determinism: idf uses the LINEAR variant `N/df` instead of `log(N/df)`
    * — `log` is not correctly-rounded on either engine, so a log-based
    * score could differ in the last bit between JVM and C math libraries
    * and break the hash compare. Here `idf_e6 = (N * 1e6) div df` and
    * `score_e6 = tf * idf_e6` are pure BIGINT chains, identical on both
    * engines by construction. Linear idf preserves the "rarer ⇒ higher"
    * ranking within a fixed tf and is an accepted idf weighting variant.
    *
    * Scale shape: tf is one exchange on (doc_id, term) with map-side
    * partial counts; df derives from tf (vocabulary-sized, tiny) and is
    * BROADCAST back, as is the 1-row corpus count — the big side shuffles
    * once for tf and once for the per-doc top-k window. At 100 TB the df
    * table is still only |vocab| rows, so the broadcast never degrades. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_e6", col("tf") * expr("(n_docs * 1000000) div df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_e6").desc, col("term"))).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_e6"), col("rk"))
  }

  def tfidfTopTermsSql(k: Int = 5): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY term
      |), n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, df, score_e6, rk FROM (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         tf.tf * ((n.n_docs * 1000000) // df.df) AS score_e6,
      |         CAST(row_number() OVER (
      |           PARTITION BY tf.doc_id
      |           ORDER BY tf.tf * ((n.n_docs * 1000000) // df.df) DESC,
      |                    tf.term ASC) AS BIGINT) AS rk
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |) WHERE rk <= $k""".stripMargin

  /** q93 — PMI bigram collocations: adjacent word pairs scored by the
    * pointwise-mutual-information ratio `p(x,y) / (p(x)·p(y))`, min support
    * `c_xy ≥ 5`. High ratio ⇒ the pair co-occurs far more than independent
    * unigram frequencies predict — the standard collocation detector.
    *
    * Determinism: the score is the PMI *argument* (PMI itself is its log —
    * a monotone map, so the ranking is identical) scaled to an exact BIGINT
    * via one fully-parenthesized integer chain, evaluated in the same order
    * on both engines:
    * `d = (t_u * 1e6) div t_b;  ratio_e6 = (((c_xy * d) div c_x) * t_u) div c_y`.
    * The `d`-first ordering bounds every intermediate by ~`1.1e6 · t_u`
    * (`c_xy ≤ c_x` caps the first quotient at `d`), so the chain stays
    * inside Long up to ~8e12 corpus tokens (tens of TB of text) — a naive
    * `c_xy·t_u·t_u` ordering would overflow ANSI Spark at ~2e6 tokens.
    *
    * Scale shape: bigrams come from one `zip_with` over the shifted word
    * array — zero joins to FORM pairs (the posexplode/self-join alternative
    * would shuffle the whole token stream twice). Unigram and bigram count
    * tables are vocabulary-sized → both BROADCAST onto the bigram counts;
    * the two 1-row totals ride along the same broadcasts. Two corpus-side
    * passes total (bigram groupBy, unigram groupBy — the oracle scans
    * identically); everything after the two count tables is broadcast-only. */
  def pmiCollocations(spark: SparkSession, dir: String,
                      minSupport: Long = 5L): DataFrame = {
    val withWs = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val bigrams = withWs.select(explode(zip_with(
      slice(col("ws"), lit(1), size(col("ws")) - 1),
      slice(col("ws"), lit(2), size(col("ws")) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val cXy = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
    val uni = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tUni = uni.agg(sum(col("c")).as("t_u"))
    val tBi = cXy.agg(sum(col("c_xy")).as("t_b"))
    cXy.filter(col("c_xy") >= minSupport)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), "w2")
      .crossJoin(broadcast(tUni)).crossJoin(broadcast(tBi))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        expr("(((c_xy * ((t_u * 1000000) div t_b)) div c_x) * t_u) div c_y")
          .as("ratio_e6"))
  }

  def pmiCollocationsSql(minSupport: Long = 5L): String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), bg AS (
      |  SELECT ws[i] AS w1, ws[i + 1] AS w2
      |  FROM d, unnest(range(1, len(ws))) AS t(i)
      |), c_xy AS (
      |  SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY w1, w2
      |), uni AS (
      |  SELECT w, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w
      |), t_u AS (SELECT CAST(sum(c) AS BIGINT) AS t_u FROM uni),
      |   t_b AS (SELECT CAST(sum(c_xy) AS BIGINT) AS t_b FROM c_xy)
      |SELECT c_xy.w1, c_xy.w2, c_xy.c_xy, ux.c AS c_x, uy.c AS c_y,
      |       (((c_xy.c_xy * ((t_u.t_u * 1000000) // t_b.t_b)) // ux.c)
      |         * t_u.t_u) // uy.c AS ratio_e6
      |FROM c_xy
      |JOIN uni ux ON c_xy.w1 = ux.w
      |JOIN uni uy ON c_xy.w2 = uy.w
      |CROSS JOIN t_u CROSS JOIN t_b
      |WHERE c_xy.c_xy >= $minSupport""".stripMargin

  /** q88 — vocabulary encoding: tokenize every document against a
    * corpus-derived fixed dictionary (top-`vocabSize` tokens by frequency,
    * deterministic (count desc, token) tiebreak; everything else → OOV
    * id 0) and emit the ORDERED id sequence per document — the
    * dictionary-encode step every training pipeline runs before packing.
    *
    * Scale shape: the dictionary is a global top-k (tiny) built once and
    * BROADCAST; the corpus side is one posexplode + broadcast-hash lookup +
    * one doc_id re-aggregation. Order is carried by `pos` through the
    * aggregate (array_sort on (pos, id) structs), so no window over the
    * token stream is needed. The id sequence is emitted comma-joined:
    * array columns don't round-trip the driver compare (q58 convention). */
  def vocabEncode(spark: SparkSession, dir: String,
                  vocabSize: Int = 20): DataFrame = {
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
    // top-k FIRST via distributed TakeOrdered (the q57 shape), THEN the
    // global-window ranking over the <=k survivors: a bare Window.orderBy
    // over the full distinct-token table would drag every token through one
    // task — the single-partition cumsum trap sequencePacking documents
    val vocab = tokens.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(vocabSize)
      .select(col("w"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("w"))).cast(LongType).as("id"))
    tokens.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(0L)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("id")))),
            x => x.getField("id").cast(StringType)), ",").as("ids_str"))
  }

  def vocabEncodeSql(vocabSize: Int = 20): String =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), pos AS (
       |  SELECT doc_id, unnest(range(len(ws))) AS pos, ws FROM base
       |), tok AS (
       |  SELECT doc_id, pos, ws[pos + 1] AS w FROM pos
       |), cnt AS (
       |  SELECT w, count(*) AS n FROM tok GROUP BY w
       |), vocab AS (
       |  SELECT w, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS id
       |  FROM cnt QUALIFY id <= $vocabSize
       |), enc AS (
       |  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
       |  FROM tok t LEFT JOIN vocab v USING (w)
       |)
       |SELECT doc_id, count(*) AS n_tokens,
       |       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_str
       |FROM enc GROUP BY doc_id""".stripMargin

  /** Bin capacity shared by [[sequencePacking]]'s default and the oracle
    * SQL — a caller passing a custom capacity must not compare against
    * [[sequencePackingSql]], which pins this value. */
  val PackingCapacity = 2048L

  /** q74 — sequence packing: assign documents (in doc_id order) to
    * fixed-capacity training bins by running token count; a doc lands in
    * the bin where its tokens START (contiguous fill, capacity 2048).
    *
    * The running sum is [[OffsetPrefix.cumSum]] over a constant group (the
    * q275 shape), not a global single-partition window (`Window.orderBy`
    * with no partition key drags the whole table through one task — the
    * classic scale trap for cumsum). `bin_id` is the oracle's own
    * `floor((cum - n_tokens) / capacity)`, so a null-token doc gets a
    * NULL bin and adds nothing to the sum. Identical values to the naive
    * global window (the DuckDB oracle), at any partition count. */
  def sequencePacking(spark: SparkSession, dir: String,
                      capacity: Long = PackingCapacity,
                      partitions: Int = 8): DataFrame = {
    // token counts come from the cached textBase projection (same
    // `size(split)` expression) rather than a fresh re-split of the text
    val toks = textBase(spark, dir)
      .select(col("doc_id"), col("n_words").as("n_tokens"), lit(1).as("g"))
    OffsetPrefix.cumSum(toks, "g", Seq("doc_id"), "n_tokens", partitions)
      .select(col("doc_id"), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / capacity).cast(LongType)
          .as("bin_id"))
  }

  val sequencePackingSql: String =
    s"""SELECT doc_id, n_tokens,
       |       CAST(floor((cum - n_tokens) / $PackingCapacity.0) AS BIGINT) AS bin_id
       |FROM (
       |  SELECT doc_id, n_tokens,
       |         sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (SELECT doc_id,
       |               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |        FROM documents))""".stripMargin

  /** q126 — length-bucketed batch assembly: documents bucketed by word
    * count (`bucketWidth`-wide ranges), then packed into fixed-size
    * batches of `batchSize` docs in (length, id) order within each bucket
    * — the standard padding-efficiency move for training batch assembly:
    * sequences in a batch pad to the batch max, so batching similar
    * lengths bounds pad waste by `bucketWidth` tokens per sequence.
    *
    * The per-bucket ordinal comes from [[OffsetPrefix.ordinal]] — buckets
    * are few (lengths/width), exactly the low-cardinality group shape where a
    * plain window would serialize each bucket into one task. Everything
    * is integer arithmetic; the oracle mirrors with a naive window. */
  def lengthBatches(spark: SparkSession, dir: String,
                    bucketWidth: Int = 32, batchSize: Int = 16): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1, "width/size must be >= 1")
    val toks = textBase(spark, dir)
      .select(col("doc_id"), col("n_words"))
      .withColumn("bucket", expr(s"n_words div $bucketWidth"))
    OffsetPrefix.ordinal(toks, "bucket", Seq("n_words", "doc_id"))
      .select(col("doc_id"), col("n_words"), col("bucket"),
        expr(s"(__ord - 1) div $batchSize").as("batch_id"))
  }

  def lengthBatchesSql(bucketWidth: Int = 32, batchSize: Int = 16): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, n_words, n_words // $bucketWidth AS bucket FROM toks
       |), r AS (
       |  SELECT doc_id, n_words, bucket,
       |         row_number() OVER (PARTITION BY bucket
       |                            ORDER BY n_words, doc_id) AS rn
       |  FROM b
       |)
       |SELECT doc_id, n_words, bucket, (rn - 1) // $batchSize AS batch_id
       |FROM r""".stripMargin

  /** q160 — PADDING-waste report over the q126 length-bucketed batches:
    * per batch, sequences pad to the batch max, so the pad cost is
    * `max_len·n_seqs − Σlen`, reported absolute and as exact-ppm waste.
    * This is the number that justifies (or indicts) a batching strategy —
    * the q126 bucketing exists to bound it by `bucketWidth` per sequence,
    * and this report is how a pipeline owner verifies that bound on real
    * data instead of trusting it. Pure integer arithmetic on the batch
    * miniature (batch count ≪ docs); zero-length batches report 0 waste
    * (guarded division — DuckDB raises on integer `// 0`, Spark nulls). */
  def paddingWaste(spark: SparkSession, dir: String,
                   bucketWidth: Int = 32, batchSize: Int = 16): DataFrame =
    lengthBatches(spark, dir, bucketWidth, batchSize)
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"), max(col("n_words")).as("max_len"),
        sum(col("n_words")).as("sum_len"))
      .select(col("bucket"), col("batch_id"), col("n_seqs"), col("max_len"),
        col("sum_len"),
        expr("max_len * n_seqs - sum_len").as("pad_tokens"),
        expr("""CASE WHEN max_len = 0 THEN 0
                ELSE (max_len * n_seqs - sum_len) * 1000000
                     DIV (max_len * n_seqs) END""").as("waste_ppm"))

  def paddingWasteSql(bucketWidth: Int = 32, batchSize: Int = 16): String = {
    val batches = lengthBatchesSql(bucketWidth, batchSize).replace("\n", "\n  ")
    s"""WITH batches AS (
       |  $batches
       |), agg AS (
       |  SELECT bucket, batch_id, count(*) AS n_seqs,
       |         CAST(max(n_words) AS BIGINT) AS max_len,
       |         CAST(sum(n_words) AS BIGINT) AS sum_len
       |  FROM batches GROUP BY bucket, batch_id)
       |SELECT bucket, batch_id, n_seqs, max_len, sum_len,
       |       CAST(max_len * n_seqs - sum_len AS BIGINT) AS pad_tokens,
       |       CAST(CASE WHEN max_len = 0 THEN 0
       |            ELSE (max_len * n_seqs - sum_len) * 1000000
       |                 // (max_len * n_seqs) END AS BIGINT) AS waste_ppm
       |FROM agg""".stripMargin
  }

  /** q56 — within-document repetition signals (the Gopher/C4-style quality
    * filters exact dedup cannot see): distinct-token ratio and top-token
    * mass per document. One shuffle on (doc_id, token) with map-side
    * partial counts; at 100 TB the token explode never leaves the map task
    * un-aggregated. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast(DoubleType) /
          col("n_words").cast(DoubleType), 6).as("repetition"),
        round(col("top_count").cast(DoubleType) /
          col("n_words").cast(DoubleType), 6).as("top_word_frac"))

  val repetitionStatsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), counts AS (
      |  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
      |)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
      |       round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |         AS repetition,
      |       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
      |         AS top_word_frac
      |FROM counts GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q109

  /** q109 — hashed linear quality classifier (the fastText-style scorer
    * corpus pipelines run to keep/drop documents at scan speed): each
    * document's unigram and bigram features hash to signed integer weights,
    * the document's score is the plain sum, and `keep` is the sign test.
    *
    * The "weight table" IS the hash — w(feat) = (first md5 byte) − 128 ∈
    * [−128, 127] — which keeps the classifier a pure narrow map with
    * nothing to broadcast and makes it bit-identical cross-engine (a real
    * trained weight vector would broadcast exactly like [[vocabEncode]]'s
    * dictionary and change nothing structurally). All compared values are
    * exact integers except `avg_e6`, which is floor() of one IEEE division
    * of exact integers — the [[Sampling]] determinism rule.
    *
    * Plan: a pure narrow map — per-document scores fold over the token
    * array with `aggregate` (sum of Longs, order-free ⇒ exact), so there is
    * ZERO exchange: no explode, no groupBy, no join. At 100 TB the
    * classifier runs at scan speed in the same stage as [[textStats]],
    * which is the whole reason these scorers are viable on full corpora. */
  def linearQualityScore(spark: SparkSession, dir: String): DataFrame = {
    def w(t: Column): Column =
      conv(substring(md5(t), 1, 2), 16, 10).cast(LongType) - 128L
    def scoreOf(feats: Column): Column =
      aggregate(feats, lit(0L), (acc, x) => acc + w(x))
    graft.operators.Dedup.withWords(Tables.documents(spark, dir))
      .select(col("doc_id"), col("ws"),
        graft.operators.Dedup.gramCol(col("ws"), 2).as("bi"))
      .select(col("doc_id"),
        (size(col("ws")) + size(col("bi"))).cast(LongType).as("n_feats"),
        (scoreOf(col("ws")) + scoreOf(col("bi"))).as("score"))
      .select(col("doc_id"), col("n_feats"), col("score"),
        floor(col("score").cast(DoubleType) * 1000000.0 /
          col("n_feats").cast(DoubleType)).cast(LongType).as("avg_e6"),
        (col("score") >= 0).as("keep"))
  }

  /** Session-cached [[linearQualityScore]] table. Three queries consume it
    * (q109's contract read-out, q133's curation mass, q134's canonical
    * pick); the registry gives them ONE materialization. At scale this is
    * the persisted quality-scores table a pipeline writes once and joins
    * everywhere — the score fold (2·features md5s per doc, interpreted
    * lambda) is exactly what you never want to run three times. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"quality:$dir")(
      linearQualityScore(spark, dir))

  val linearQualityScoreSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), feats AS (
      |  SELECT doc_id, unnest(ws) AS feat FROM words
      |  UNION ALL
      |  SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS feat
      |  FROM (SELECT doc_id, unnest(range(len(ws) - 1)) AS i, ws FROM words)
      |), s AS (
      |  SELECT doc_id, count(*) AS n_feats,
      |         CAST(sum(('0x' || substr(md5(feat), 1, 2))::BIGINT - 128)
      |              AS BIGINT) AS score
      |  FROM feats GROUP BY doc_id
      |)
      |SELECT doc_id, n_feats, score,
      |       CAST(floor(CAST(score AS DOUBLE) * 1000000.0
      |                  / CAST(n_feats AS DOUBLE)) AS BIGINT) AS avg_e6,
      |       score >= 0 AS keep
      |FROM s""".stripMargin

  /** q141 — per-source corpus diversity: token and word-trigram
    * type/token ratios per `source`. A corpus-health metric mixture
    * planners read before weighting sources (a low trigram TTR source is
    * template/boilerplate-heavy; a high one is diverse) — corpus-LEVEL,
    * where q107/q79 score individual documents.
    *
    * Scale shape: the naive `count(DISTINCT gram)` plan Expand-doubles the
    * exploded gram stream (q98's scaladoc measures that trap); instead each
    * stream aggregates `groupBy(source, gram).count` FIRST — one shuffle
    * whose map-side partials collapse every repeated gram — and the
    * distinct count + occurrence total are then both read from the
    * already-tiny distinct-value table (`count(*)` and `sum(cnt)`) with no
    * second pass over row volume. Tokens and trigrams are separate
    * explosions of the same materialized split projection
    * ([[Dedup.withWords]] discipline), each pruned to (source, value). */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ws = docs.select(col("source"), split(col("text"), " ").as("ws"))

    def ttr(valueStream: DataFrame, prefix: String): DataFrame =
      valueStream.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as(s"total_$prefix"),
          count(lit(1)).as(s"distinct_$prefix"),
          round(count(lit(1)).cast(DoubleType) / sum(col("cnt")), 6)
            .as(s"${prefix}_ttr"))

    val tokens = ttr(ws.select(col("source"), explode(col("ws")).as("v")),
      "tokens")
    val grams = ttr(ws.select(col("source"),
      explode(Dedup.gramCol(col("ws"), 3)).as("v")), "grams")
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(tokens, Seq("source"), "left")
      .join(grams, Seq("source"), "left")
  }

  val sourceDiversitySql: String =
    """WITH ws AS (
      |  SELECT source, string_split(text, ' ') AS ws FROM documents
      |), tok AS (
      |  SELECT source, unnest(ws) AS v FROM ws
      |), gr AS (
      |  SELECT source,
      |         unnest(list_transform(range(len(ws) - 2),
      |           i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS v
      |  FROM ws
      |), ta AS (
      |  SELECT source, CAST(sum(cnt) AS BIGINT) AS total_tokens,
      |         count(*) AS distinct_tokens,
      |         round(count(*) * 1.0 / sum(cnt), 6) AS tokens_ttr
      |  FROM (SELECT source, v, count(*) AS cnt FROM tok GROUP BY 1, 2)
      |  GROUP BY source
      |), ga AS (
      |  SELECT source, CAST(sum(cnt) AS BIGINT) AS total_grams,
      |         count(*) AS distinct_grams,
      |         round(count(*) * 1.0 / sum(cnt), 6) AS grams_ttr
      |  FROM (SELECT source, v, count(*) AS cnt FROM gr GROUP BY 1, 2)
      |  GROUP BY source
      |)
      |SELECT d.source, d.n_docs,
      |       ta.total_tokens, ta.distinct_tokens, ta.tokens_ttr,
      |       ga.total_grams, ga.distinct_grams, ga.grams_ttr
      |FROM (SELECT source, count(*) AS n_docs FROM documents GROUP BY source) d
      |LEFT JOIN ta ON d.source = ta.source
      |LEFT JOIN ga ON d.source = ga.source""".stripMargin

  /** q158 — CURRICULUM schedule: per source, documents ranked best-quality-
    * first (q109's score, doc_id tiebreak) and cut into training-phase
    * DECILES — `(ord−1)·10 DIV n` — with per-phase doc and token mass and
    * the phase's quality bounds. This is the "easy/clean first" curriculum
    * table a staged pre-training run consumes, and the ordered complement
    * of q133's top-p CUTOFF (which selects; this schedules everything).
    *
    * The per-source rank comes from [[OffsetPrefix.ordinal]] — sources are
    * the canonical low-cardinality group shape where `row_number().over
    * (partitionBy(source))` would serialize each source into ONE task at
    * any cluster size; the offset-prefix primitive keeps it distributed
    * (PlanAudit pins the checkpoint barrier and forbids a live range
    * exchange, same as q126/q133). Integer arithmetic end to end. */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
    val scored = docs.join(
      qualityScores(spark, dir).select(col("doc_id"), col("avg_e6")),
      "doc_id")
      .withColumn("neg_q", -col("avg_e6"))
    val totals = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"))
    OffsetPrefix.ordinal(scored, "source", Seq("neg_q", "doc_id"))
      .join(broadcast(totals), "source")
      .withColumn("decile", expr("(__ord - 1) * 10 DIV n_src"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
        min(col("avg_e6")).as("min_q"), max(col("avg_e6")).as("max_q"))
  }

  val curriculumScheduleSql: String = {
    val quality = linearQualityScoreSql.replace("\n", "\n  ")
    s"""WITH q AS (
       |  $quality
       |), d AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), j AS (
       |  SELECT d.source, d.n_tokens, q.avg_e6,
       |         row_number() OVER (PARTITION BY d.source
       |                            ORDER BY q.avg_e6 DESC, d.doc_id) AS ord,
       |         count(*) OVER (PARTITION BY d.source) AS n_src
       |  FROM d JOIN q ON d.doc_id = q.doc_id)
       |SELECT source, CAST((ord - 1) * 10 // n_src AS BIGINT) AS decile,
       |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |       min(avg_e6) AS min_q, max(avg_e6) AS max_q
       |FROM j GROUP BY source, decile""".stripMargin
  }

  /** q147 — Zipf frequency-SPECTRUM profile per source: token types and
    * occurrence mass bucketed by count OCTAVE (`⌊log₂ c⌋`, computed exactly
    * as `length(bin(c)) − 1` — no floating log anywhere), with each
    * octave's corpus share and the cumulative share in exact ppm. This is
    * the head-heaviness diagnostic behind Zipf-slope eyeballing: a natural
    * corpus shows geometrically decaying type counts per octave; a
    * synthetic or boilerplate-heavy source shows mass spikes in high
    * octaves. The all-integer octave transform keeps it hash-exact
    * cross-engine where a log-log regression would ride transcendental
    * rounding (the q93 integer-ratio convention).
    *
    * Scale: one (source, token) aggregate with map-side combine (vocabulary-
    * sized, not corpus-sized), one octave re-aggregate (≤64 rows per
    * source), a broadcast per-source total, and a window over octave rows
    * only — nothing corpus-sized past the first aggregate. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val oct = counts
      .select(col("source"),
        (length(bin(col("c"))) - 1).cast(LongType).as("octave"), col("c"))
      .groupBy(col("source"), col("octave"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("occurrences"))
    val tot = oct.groupBy(col("source"))
      .agg(sum(col("occurrences")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("octave"))
    oct.join(broadcast(tot), "source")
      .withColumn("cum_occ", sum(col("occurrences")).over(w))
      .select(col("source"), col("octave"), col("n_tokens"),
        col("occurrences"),
        expr("occurrences * 1000000 DIV total").as("share_ppm"),
        expr("cum_occ * 1000000 DIV total").as("cum_ppm"))
  }

  val freqSpectrumSql: String =
    """WITH c AS (
      |  SELECT source, v, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS v
      |        FROM documents)
      |  GROUP BY source, v
      |), o AS (
      |  SELECT source, CAST(length(bin(c)) - 1 AS BIGINT) AS octave,
      |         count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS occurrences
      |  FROM c GROUP BY source, octave
      |), t AS (
      |  SELECT source, CAST(sum(occurrences) AS BIGINT) AS total
      |  FROM o GROUP BY source)
      |SELECT o.source, o.octave, o.n_tokens, o.occurrences,
      |       CAST(o.occurrences * 1000000 // t.total AS BIGINT) AS share_ppm,
      |       CAST(sum(o.occurrences) OVER (PARTITION BY o.source
      |              ORDER BY o.octave ROWS BETWEEN UNBOUNDED PRECEDING
      |              AND CURRENT ROW) * 1000000 // t.total AS BIGINT)
      |         AS cum_ppm
      |FROM o JOIN t USING (source)""".stripMargin

  /** q175 — per-document UNIGRAM SURPRISAL under the corpus's own unigram
    * distribution: the mean INVERSE token probability, in e6 fixed point —
    * `(Σ_tok N·10⁶ div cnt(tok)) div n_tokens`. This is the
    * perplexity-filter proxy an LLM corpus pipeline scores documents with
    * (rare-token-heavy docs surface high; boilerplate scores low), kept on
    * the LINEAR inverse-probability scale for the same reason q92's idf is
    * linear: `log` is not correctly rounded identically across engines, so
    * a log-based score could flip a last bit and break the hash gate,
    * while the integer chain is identical by construction and preserves
    * the ordering within a document length.
    *
    * Scale shape: token counts are one vocabulary-sized aggregate,
    * BROADCAST back onto the exploded token stream (vocab ≪ corpus at any
    * scale); the only data-sized exchange is the per-doc aggregation. */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_corpus"))
    toks.join(broadcast(counts), Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("n_corpus * 1000000 DIV cnt")).as("sum_inv_e6"))
      .select(col("doc_id"), col("n_tokens"),
        expr("sum_inv_e6 DIV n_tokens").as("surprisal_e6"))
  }

  val unigramSurprisalSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents
      |), cnt AS (
      |  SELECT token, count(*) AS c FROM toks GROUP BY token
      |), tot AS (SELECT count(*) AS n_corpus FROM toks)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(n_corpus * 1000000 // c) // count(*) AS BIGINT)
      |         AS surprisal_e6
      |FROM toks JOIN cnt USING (token) CROSS JOIN tot
      |GROUP BY doc_id""".stripMargin

  /** q176 — per-LANGUAGE vocabulary profile: token volume, vocabulary
    * size, type-token ratio, and how much of the volume the 10 most
    * frequent tokens absorb (the Zipf-head share — a skew/health indicator
    * for corpus mixing: a ppm share far above siblings flags boilerplate
    * or template floods). All-integer (ppm) outputs.
    *
    * Scale shape: everything after the (lang, token) count is
    * vocabulary-sized; the top-10 window orders each language's vocab
    * slice, never raw tokens — the aggregate-sized-window discipline. */
  def langVocabProfile(spark: SparkSession, dir: String,
                       topK: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("token"))
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(words(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("rk", row_number().over(w))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("rk") <= topK, col("n")).otherwise(0L)).as("top10_n"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        expr("vocab * 1000000 DIV n_tokens").as("ttr_ppm"),
        expr("top10_n * 1000000 DIV n_tokens").as("top10_share_ppm"))
  }

  val langVocabProfileSql: String =
    """WITH c AS (
      |  SELECT lang, token, count(*) AS n
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  GROUP BY lang, token
      |), r AS (
      |  SELECT lang, token, n,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY n DESC, token) AS rk
      |  FROM c)
      |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS vocab,
      |       CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS ttr_ppm,
      |       CAST(sum(CASE WHEN rk <= 10 THEN n ELSE 0 END) * 1000000
      |              // sum(n) AS BIGINT) AS top10_share_ppm
      |FROM r GROUP BY lang""".stripMargin

  /** q177 — per-document BIGRAM surprisal: the bigram-LM twin of [[q175
    * unigramSurprisal]]. P(w2|w1) = c(w1w2)/h(w1) with h(w1) = Σ_w2
    * c(w1w2) (the bigram-first history count, self-consistent with the
    * bigram table); the score is the mean inverse conditional probability
    * in e6 fixed point — again linear instead of log so the integer chain
    * hashes identically on both engines. High scores = improbable token
    * transitions (shuffled/corrupted text, the n-gram-LM quality gate).
    * Documents with fewer than two tokens carry no bigram and are
    * excluded.
    *
    * Scale shape: the bigram count table is vocab²-bounded but in practice
    * Zipf-small; the stream joins it ON (w1,w2) in one shuffle join, the
    * history table is vocab-sized and BROADCAST. The bigram stream itself
    * is built from a materialized words array (the HOF-reuse discipline —
    * an inline split would re-tokenize per element_at). */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(ws) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(ws) - 2),
        i => struct(element_at(ws, i + 1).as("w1"),
          element_at(ws, i + 2).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val h1 = c12.groupBy(col("w1")).agg(sum(col("c")).as("h"))
    bigrams
      .join(c12, Seq("w1", "w2"))
      .join(broadcast(h1), Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("h * 1000000 DIV c")).as("sum_inv_e6"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_inv_e6 DIV n_bigrams").as("bigram_surprisal_e6"))
  }

  val bigramSurprisalSql: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2
      |), bg AS (
      |  SELECT doc_id, w[i + 1] AS w1, w[i + 2] AS w2
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM ws)
      |), c12 AS (
      |  SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
      |), h1 AS (
      |  SELECT w1, CAST(sum(c) AS BIGINT) AS h FROM c12 GROUP BY w1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |       CAST(sum(h * 1000000 // c) // count(*) AS BIGINT)
      |         AS bigram_surprisal_e6
      |FROM bg JOIN c12 USING (w1, w2) JOIN h1 USING (w1)
      |GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- Unicode normalization

  /** q212 — Unicode NFC normalization audit per source: the corpus-prep
    * stage that makes "é" (composed) and "e"+U+0301 (decomposed) the same
    * byte sequence before any exact-match step (dedup fingerprints,
    * vocabulary, PII scans) runs. Normalization itself is the native
    * codegen'd [[graft.functions.StringExprs.NfcNormalize]] expression —
    * a narrow map fused into the scan; the audit rolls up how many docs
    * changed, how many code points composition removed, and how many
    * composed "é" the normalizer produced.
    *
    * The testdata text is ASCII, so (the q77/q168 planted-PII discipline)
    * deterministic decomposed sequences are planted keyed on doc_id —
    * every 3rd doc gets "cafe"+U+0301 forms, every 4th "A"+U+030A /
    * "o"+U+0308 forms — and the oracle replays the planting with chr()
    * and DuckDB's own `nfc_normalize`, so the JDK and DuckDB Unicode
    * implementations cross-check each other code point for code point. */
  def unicodeNfcAudit(spark: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit(" cafe\u0301 releve\u0301")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit(" A\u030Angstro\u0308m")).otherwise(lit("")))
    val norm = graft.functions.StringExprs.nfc(aug)
    Tables.documents(spark, dir)
      .select(col("source"), aug.as("aug"), norm.as("norm"))
      .select(col("source"),
        when(col("aug") =!= col("norm"), 1L).otherwise(0L).as("chg"),
        (length(col("aug")) - length(col("norm"))).cast(LongType).as("rm"),
        (length(col("norm")) -
          length(regexp_replace(col("norm"), lit("\u00e9"), lit(""))))
          .cast(LongType).as("ne"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chg")).as("docs_changed"),
        sum(col("rm")).as("chars_composed"),
        sum(col("ne")).as("n_eacute"))
  }

  val unicodeNfcAuditSql: String =
    """WITH aug AS (
      |  SELECT source,
      |         text ||
      |         CASE WHEN doc_id % 3 = 0
      |              THEN ' cafe' || chr(769) || ' releve' || chr(769)
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 4 = 0
      |              THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
      |              ELSE '' END AS aug
      |  FROM documents
      |), n AS (
      |  SELECT source, aug, nfc_normalize(aug) AS norm FROM aug
      |)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN aug <> norm THEN 1 ELSE 0 END) AS BIGINT)
      |         AS docs_changed,
      |       CAST(sum(length(aug) - length(norm)) AS BIGINT)
      |         AS chars_composed,
      |       CAST(sum(length(norm)
      |                - length(replace(norm, chr(233), ''))) AS BIGINT)
      |         AS n_eacute
      |FROM n GROUP BY source""".stripMargin

  /** q235 — Flesch-style readability per document: words are `\S+` runs,
    * sentences are `[.!?]+` runs, syllables the classic vowel-group
    * heuristic (`[aeiouyAEIOUY]+` runs) — all three countable by the same
    * regex engine semantics in Spark (java.util.regex) and DuckDB (RE2),
    * which agree on these character-class patterns. The score
    * `206.835 − 1.015·(w/s) − 84.6·(y/w)` is a fixed double formula over
    * exact integer counts, written with the identical operation sequence in
    * both engines and shipped floor-quantized at 1e-4 so no rounding-rule
    * divergence can surface; the reading band derives from the exact
    * double, giving the corpus-curation consumer (filter "too hard" docs
    * out of a child-directed mix, say) a stable categorical.
    *
    * Plan: one narrow projection over the document scan — no shuffle, no
    * UDF; the three `regexp_extract_all` counts are codegen'd per row, so
    * at 100 TB this runs at scan speed like the q40/q42 siblings. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val w = greatest(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))),
      lit(1)).cast(LongType)
    val s = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
      lit(1)).cast(LongType)
    val y = size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"),
      lit(0))).cast(LongType)
    Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("n_words"), s.as("n_sents"), y.as("n_syll"))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) *
          (col("n_words").cast(DoubleType) / col("n_sents").cast(DoubleType)) -
          lit(84.6) *
            (col("n_syll").cast(DoubleType) / col("n_words").cast(DoubleType)))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        floor(col("flesch") * lit(10000.0)).cast(LongType).as("flesch_e4"),
        when(col("flesch") >= 60.0, "easy")
          .when(col("flesch") >= 30.0, "medium")
          .otherwise("hard").as("band"))
  }

  val readabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |         greatest(len(regexp_extract_all(text, '\S+')), 1) AS w,
      |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
      |         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS y
      |  FROM documents
      |), f AS (
      |  SELECT doc_id, w, s, y,
      |         206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
      |                 - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
      |           AS flesch
      |  FROM c
      |)
      |SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sents,
      |       CAST(y AS BIGINT) AS n_syll,
      |       CAST(floor(flesch * 10000.0) AS BIGINT) AS flesch_e4,
      |       CASE WHEN flesch >= 60.0 THEN 'easy'
      |            WHEN flesch >= 30.0 THEN 'medium'
      |            ELSE 'hard' END AS band
      |FROM f""".stripMargin

  // ------------------------------------------------- vocabulary growth

  /** q255 — vocabulary growth curve (Heaps'-law read-out): cumulative
    * distinct vocabulary and token count after each decile of the corpus,
    * in ingestion (doc_id) order. The curve is what tokenizer-vocab and
    * dedup planning actually consume ("how fast does NEW vocabulary still
    * arrive at 80% of the crawl?") — a flattening curve says the corpus
    * is saturating, a steep one says keep crawling.
    *
    * The distributed trick: NO running scan. Each word's FIRST document
    * (min doc_id — one hash aggregate) fully determines when it enters
    * the vocabulary, so cumulative vocab at checkpoint c is just
    * `#{words: first_doc ≤ c}` — a broadcast join of the 10-row
    * checkpoint table against the first-doc distribution, turning a
    * prefix-scan problem into two aggregates (the crossing-count
    * discipline). Cumulative tokens come the same way from per-doc token
    * counts. Checkpoints are doc_id deciles computed from max(doc_id)
    * (ids are dense by construction; a sparse-id corpus would swap in the
    * q181 equi-depth machinery unchanged). */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val firstDoc = toks.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    val docTokens = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
    val cps = Tables.documents(spark, dir).agg(max(col("doc_id")).as("mx"))
      .select(explode(sequence(lit(1), lit(10))).as("decile"), col("mx"))
      .select(col("decile"),
        expr("(mx + 1) * decile DIV 10 - 1").cast(LongType).as("cp"))
    // the 10-row checkpoint table BROADCASTS into the big-side
    // distributions (never the reverse — firstDoc is vocab-sized and
    // docTokens corpus-sized at design scale)
    val vocabAt = firstDoc.join(broadcast(cps), col("fd") <= col("cp"))
      .groupBy(col("decile"), col("cp"))
      .agg(count(lit(1)).as("cum_vocab"))
    val toksAt = docTokens.join(broadcast(cps), col("doc_id") <= col("cp"))
      .groupBy(col("decile")).agg(sum(col("n_toks")).as("cum_tokens"))
    vocabAt.join(broadcast(toksAt), Seq("decile"))
      .select(col("decile").cast(LongType).as("decile"), col("cp"),
        col("cum_tokens"), col("cum_vocab"))
  }

  val vocabGrowthSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), fd AS (
      |  SELECT w, min(doc_id) AS fd FROM toks GROUP BY w
      |), dt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
      |  FROM toks GROUP BY doc_id
      |), cps AS (
      |  SELECT CAST(d AS BIGINT) AS decile,
      |         CAST(((SELECT max(doc_id) FROM documents) + 1) * d // 10 - 1
      |              AS BIGINT) AS cp
      |  FROM (SELECT unnest(range(1, 11)) AS d)
      |), v AS (
      |  SELECT decile, cp, CAST(count(*) AS BIGINT) AS cum_vocab
      |  FROM cps JOIN fd ON fd.fd <= cps.cp GROUP BY decile, cp
      |), t AS (
      |  SELECT decile, CAST(sum(n_toks) AS BIGINT) AS cum_tokens
      |  FROM cps JOIN dt ON dt.doc_id <= cps.cp GROUP BY decile)
      |SELECT decile, cp, cum_tokens, cum_vocab
      |FROM v JOIN t USING (decile)""".stripMargin

  // ------------------------------------------------------- augmentation

  /** q257 — deterministic word-dropout augmentation: the corpus REWRITE
    * that manufactures training variants (dropout regularization for
    * text; the cheap half of EDA-style augmentation) without a single
    * random number. Position i of doc d drops iff the first two hex
    * chars of md5("d:i") sort below "1a" — 26/256 ≈ 10.2%, the same
    * content-addressed coin as every sampler here, so a task retry, a
    * re-run, or a different partitioning regenerates the IDENTICAL
    * augmented corpus (the property that keeps augmented shards
    * dedup-auditable against their originals).
    *
    * Scale shape: a pure NARROW map — the drop decision and the rebuild
    * both happen inside one `filter` HOF over the materialized words
    * array (index lambda), zero exchanges, scan-speed at any SF. The
    * audit columns (n_words, n_dropped) ride along so the oracle gates
    * the decision pattern, not just the surviving text. */
  def wordDropout(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    Tables.documents(spark, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(ws).cast(LongType).as("n_words"),
        filter(ws, (_, i) =>
          substring(md5(concat(col("doc_id").cast(StringType), lit(":"),
            i.cast(StringType))), 1, 2) >= "1a").as("kept"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - size(col("kept"))).cast(LongType).as("n_dropped"),
        array_join(col("kept"), " ").as("aug_text"))
  }

  val wordDropoutSql: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), tok AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, w[i + 1] AS word,
      |         i AS pos,
      |         substr(md5(CAST(doc_id AS VARCHAR) || ':'
      |                    || CAST(i AS VARCHAR)), 1, 2) >= '1a' AS keep
      |  FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM ws)
      |)
      |SELECT doc_id, n_words,
      |       CAST(n_words - sum(CASE WHEN keep THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_dropped,
      |       coalesce(string_agg(CASE WHEN keep THEN word END, ' '
      |                           ORDER BY pos), '') AS aug_text
      |FROM tok GROUP BY doc_id, n_words""".stripMargin

  // -------------------------------------------------------- Good-Turing

  /** q256 — Good-Turing frequency-of-frequencies profile: for each word
    * count r ≤ 10, how many vocabulary types occur exactly r times, the
    * GT re-estimated count `r* = (r+1)·n_{r+1}/n_r` in e6, and — the
    * number everyone actually wants — the UNSEEN-mass estimate
    * `p₀ = n₁/N` in exact ppm (what probability the corpus assigns to the
    * next never-seen word; the Kneser-Ney partner statistic, q247). The
    * freq-of-freqs table is also the dedup/quality tell: a hapax share
    * far off Zipf expectation means OCR noise or boilerplate flooding.
    *
    * Scale shape: two chained hash aggregates — word→count (vocab-sized),
    * count→types (≤ max-count rows) — plus one broadcast scalar for N and
    * a self-join of the miniature n_r table shifted by one for r+1.
    * Everything integer; one corpus scan. */
  def goodTuring(spark: SparkSession, dir: String, maxR: Int = 10): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    val freqOfFreq = counts.groupBy(col("r"))
      .agg(count(lit(1)).as("n_r"))
    val tot = counts.agg(sum(col("r")).as("n_tokens"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("n1"))
    freqOfFreq.filter(col("r") <= maxR)
      .join(broadcast(freqOfFreq
        .select((col("r") - 1).as("r"), col("n_r").as("n_r1"))),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        expr("(r + 1) * coalesce(n_r1, 0) * 1000000 DIV n_r")
          .as("rstar_e6"),
        expr("n1 * 1000000 DIV n_tokens").as("p0_ppm"))
  }

  def goodTuringSql(maxR: Int = 10): String =
    s"""WITH counts AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS r
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w
       |), ff AS (
       |  SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY r
       |), tot AS (
       |  SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
       |  FROM counts)
       |SELECT a.r, a.n_r,
       |       CAST((a.r + 1) * coalesce(b.n_r, 0) * 1000000 // a.n_r
       |            AS BIGINT) AS rstar_e6,
       |       CAST(n1 * 1000000 // n_tokens AS BIGINT) AS p0_ppm
       |FROM ff a LEFT JOIN ff b ON b.r = a.r + 1
       |CROSS JOIN tot
       |WHERE a.r <= $maxR""".stripMargin

  // ------------------------------------------------ Kneser-Ney smoothing

  /** q247 — Kneser-Ney smoothed bigram probabilities (top 25 bigrams by
    * raw count): the smoothing that makes corpus n-gram statistics usable
    * as a language model — the backbone of classic perplexity-based
    * quality filtering (and still the cheapest LM-ish doc scorer at
    * corpus scale). Completes the LM family: q175/q177 score documents by
    * RAW n-gram surprise; KN produces the calibrated conditional
    * `P(w2|w1)` that absolute counts get wrong for rare continuations.
    *
    * `P_kn(w2|w1) = max(c₁₂−d,0)/c₁ + d·N⁺(w1,·)/c₁ · N⁺(·,w2)/D` with
    * the standard discount d = 0.75 = 3/4, which clears to all-integer by
    * multiplying through by 4 (the BM25 rational-constant trick); the
    * intermediate products run in DECIMAL(38,0)/HUGEINT because at corpus
    * scale they pass int64 (term1 once a bigram type exceeds ~2.3e9
    * tokens, term2 once n1fw·n1bw ≳ 3e9, the denominator at ~4e22) while
    * the final kn_e9 quotient is always ≤ ~1e9 and lands back in BIGINT:
    * `term1_e9 = (4c₁₂−3)·10⁹ DIV 4c₁` (observed bigrams have c₁₂ ≥ 1 so
    * the discounted mass is never negative) and
    * `term2_e9 = 3·N⁺fw·N⁺bw·10⁹ DIV (4·c₁·D)`; kn_e9 = term1 + term2 —
    * two truncating divisions both engines define identically.
    *
    * Scale shape: every statistic is an n-gram-type-keyed aggregate —
    * c₁₂ (bigram types), c₁/N⁺fw (per-first-word, VOCAB-sized), N⁺bw
    * (per-second-word, vocab-sized), D (scalar). The vocab-sized tables
    * BROADCAST into the bigram-type stream (vocab ≪ corpus at any SF);
    * nothing quadratic, nothing windows. The top-25 is a global
    * `ORDER BY LIMIT` over bigram TYPES (not tokens) — map-side top-k. */
  def knBigram(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val ws = col("ws")
    val bigrams = Tables.documents(spark, dir)
      .select(words(col("text")).as("ws"))
      .filter(size(ws) >= 2)
      .select(explode(transform(sequence(lit(0), size(ws) - 2),
        i => struct(element_at(ws, i + 1).as("w1"),
          element_at(ws, i + 2).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val types = c12.agg(count(lit(1)).as("d_types"))
    c12.join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        // Both numerators run in DECIMAL(38,0): at design scale the raw
        // BIGINT products wrap — term1's (4c₁₂−3)·10⁹ passes int64 once a
        // bigram type exceeds ~2.3e9 tokens, and term2's 3·N⁺fw·N⁺bw·10⁹
        // once n1fw·n1bw ≳ 3e9 (e.g. a 55k×55k continuation table); the
        // denominator 4·c1·d_types likewise (~4e22 at 1e12 tokens ×
        // 1e10 types). DECIMAL(38,0) holds all of them with ≥12 digits of
        // headroom, and IntegralDivide lands back in BIGINT (kn_e9 ≤ 1e9).
        (expr("""(4 * CAST(c12 AS DECIMAL(38,0)) - 3) * 1000000000
                 DIV (4 * CAST(c1 AS DECIMAL(38,0)))""") +
          expr("""3 * CAST(n1fw AS DECIMAL(38,0)) * n1bw * 1000000000
                  DIV (4 * CAST(c1 AS DECIMAL(38,0)) * d_types)"""))
          .as("kn_e9"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def knBigramSql(k: Int = 25): String =
    s"""WITH ws AS (
       |  SELECT string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |), bg AS (
       |  SELECT w[i + 1] AS w1, w[i + 2] AS w2
       |  FROM (SELECT w, unnest(range(len(w) - 1)) AS i FROM ws)
       |), c12 AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM bg GROUP BY w1, w2
       |), lft AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |         CAST(count(*) AS BIGINT) AS n1fw
       |  FROM c12 GROUP BY w1
       |), rgt AS (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c12 GROUP BY w2
       |), d AS (SELECT CAST(count(*) AS BIGINT) AS d_types FROM c12)
       |SELECT w1, w2, c12,
       |       CAST((4 * CAST(c12 AS HUGEINT) - 3) * 1000000000 // (4 * CAST(c1 AS HUGEINT))
       |            + 3 * CAST(n1fw AS HUGEINT) * n1bw * 1000000000 // (4 * CAST(c1 AS HUGEINT) * d_types)
       |            AS BIGINT) AS kn_e9
       |FROM c12 JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN d
       |ORDER BY c12 DESC, w1, w2 LIMIT $k""".stripMargin

  /** q268 — cross-source QUANTILE NORMALIZATION of quality scores: map each
    * document's within-source score rank onto the pooled corpus score at the
    * same quantile. A single global quality cut over raw scores silently
    * applies a different effective bar per source (web boilerplate scores
    * low everywhere; transcript prose scores high everywhere); normalizing
    * by rank makes "top 30% of its own source" comparable across sources —
    * the calibration step before [[Sampling.qualityTopP]]-style global cuts
    * when sources must not be crowded out wholesale.
    *
    * Mapping is the right-continuous empirical quantile, all integers:
    * pooled position p = ⌈r·N/n_s⌉ = (r·N + n_s − 1) DIV n_s (r = 1 maps to
    * ⌈N/n_s⌉, r = n_s maps to N exactly); the product runs in
    * DECIMAL(38,0)/HUGEINT (r·N overflows int64 past ~3·10⁹ docs). The
    * normalized score is then the pooled score AT that position — a join on
    * the position key, never an array index.
    *
    * Scale shape: scores are the session-cached q109 artifact; BOTH
    * ordinals ride [[OffsetPrefix.ordinal]] — `source` has ~20 distinct
    * values, so a `Window.partitionBy(source)` rank would serialize
    * corpus/20 rows into one task per group (the q62/q75
    * low-cardinality-window trap);
    * the range-partition + broadcast-offset form spreads each source
    * across all partitions instead. `n_s` is a broadcast
    * `groupBy(source).count()` miniature, and the final position join is
    * key-equi. */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    // registry-cached: the scored frame feeds FOUR independent subtrees
    // (the ordinal rank lane, the per-source count miniature, the
    // global count, the pooled ordinal) and Spark shares no un-cached
    // lineage across them — without the cache the documents join would
    // run once per consumer
    val scored = graft.CacheRegistry.cached(spark, s"qnormscored:$dir")(
      qualityScores(spark, dir).select(col("doc_id"), col("avg_e6"))
        .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("source")), Seq("doc_id")))
    // per-source sizes are a |source|-row miniature — broadcast, never a
    // source-partitioned count window (that would pay the same serialized
    // exchange the rank lane avoids)
    val srcCounts = broadcast(
      scored.groupBy(col("source")).agg(count(lit(1)).as("n_s")))
    val ranked = OffsetPrefix.ordinal(scored, "source",
        Seq("avg_e6", "doc_id"))
      .withColumnRenamed("__ord", "rk")
      .join(srcCounts, Seq("source"))
    val nAll = broadcast(scored.agg(count(lit(1)).as("n")))
    val pooled = OffsetPrefix.ordinal(scored.withColumn("g", lit(1)), "g",
        Seq("avg_e6", "doc_id"))
      .select(col("__ord").as("pos"), col("avg_e6").as("norm_e6"))
    ranked.crossJoin(nAll)
      .withColumn("pos",
        expr("(cast(rk as decimal(38,0)) * n + n_s - 1) div n_s"))
      .join(pooled, Seq("pos"))
      .select(col("doc_id"), col("source"), col("rk"),
        col("avg_e6").as("raw_e6"), col("norm_e6"))
  }

  /** [[quantileNormalize]]'s oracle: q109's score chain + the identical
    * integer rank mapping in DuckDB. */
  val quantileNormalizeSql: String =
    s"""WITH q AS (${linearQualityScoreSql}
       |), j AS (
       |  SELECT q.doc_id, d.source, q.avg_e6
       |  FROM q JOIN documents d USING (doc_id)
       |), ranked AS (
       |  SELECT doc_id, source, avg_e6,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY avg_e6, doc_id) AS rk,
       |         count(*) OVER (PARTITION BY source) AS n_s,
       |         count(*) OVER () AS n
       |  FROM j
       |), pooled AS (
       |  SELECT row_number() OVER (ORDER BY avg_e6, doc_id) AS pos,
       |         avg_e6 AS norm_e6
       |  FROM j
       |)
       |SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk,
       |       r.avg_e6 AS raw_e6, p.norm_e6
       |FROM ranked r JOIN pooled p
       |  ON (CAST(r.rk AS HUGEINT) * r.n + r.n_s - 1) // r.n_s = p.pos""".stripMargin
}
