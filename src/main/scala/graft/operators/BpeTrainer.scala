package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE merge-pair learning — the tokenizer-training step of an
  * LLM data pipeline, in its scale-correct two-level shape:
  *
  *  - ONE corpus pass builds the weighted word vocabulary (`groupBy(word)`
  *    with map-side partial counts). This is the only stage that touches
  *    corpus-sized data — exactly how production BPE trainers
  *    (SentencePiece, HF tokenizers) are fed: pair statistics are computed
  *    over the vocabulary WITH frequencies, never over raw text again.
  *  - Each merge round then runs on the VOCABULARY (symbols-per-word ×
  *    |vocab| rows): adjacent-pair counts weighted by word frequency, the
  *    argmax pair (count desc, pair asc — deterministic), and a literal
  *    string-replace merge of that pair into every word. At 100 TB the
  *    vocab is millions of rows — still distributed, but 4–6 orders
  *    smaller than the corpus; the per-round argmax is a 1-row collect
  *    (the same bounded-miniature license as the k-means fits).
  *
  * Merge semantics are the SINGLE-PASS string-replace variant: one
  * left-to-right non-overlapping `replace` of `" x y "` with `" xy "` per
  * round. For odd runs of a self-pair (`a a a a a` under merge `(a,a)`)
  * this yields `aa a aa` where canonical greedy BPE yields `aa aa a` — a
  * documented deviation that cannot fire on space-tokenized natural text
  * without immediate self-repeats, and both engines implement the variant
  * IDENTICALLY (Java `String.replace` and DuckDB `replace` were probed to
  * agree byte-for-byte on exactly these pathological inputs), so the
  * oracle is hash-exact.
  */
object BpeTrainer {

  /** q205 — learn `iters` merge rounds; output one row per round:
    * (iter, pair, merged, c) where `c` is the frequency-weighted count of
    * the winning adjacent pair at selection time. */
  def bpeMerges(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    // the ONE corpus-sized pass, amortized across rounds (and calls) by the
    // registry cache; everything after runs on vocabulary-sized data
    val wordCounts = graft.CacheRegistry.cached(spark, s"bpe_wordcounts:$dir") {
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    }
    var syms = wordCounts.select(
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"),
      col("cnt"))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= iters && !exhausted) {
      val ws = split(trim(col("s")), " ")
      val top = syms
        .filter(size(ws) >= 2)
        .select(explode(transform(sequence(lit(1), size(ws) - 1), j =>
          concat(element_at(ws, j), lit(" "), element_at(ws, j + 1))))
          .as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        out += ((i, pair, merged, c))
        // lineage cut per round (the bfsHops discipline): without it round
        // i replays all i−1 prior replaces from the source on every argmax
        // action — measured 3.7 s → ~1 s at sf0.1 for 8 rounds
        syms = syms.select(
          call_function("replace", col("s"),
            lit(s" $pair "), lit(s" $merged ")).as("s"),
          col("cnt"))
          .localCheckpoint(true)
        i += 1
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result().map(Row.fromTuple), 1),
      StructType(Seq(
        StructField("iter", IntegerType, nullable = false),
        StructField("pair", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("c", LongType, nullable = false))))
  }

  /** q214 — ENCODE with the learned merges (the apply half of the
    * tokenizer loop; q205 is the train half): every document's words go
    * through the spaced-symbol form and the captured merge list in
    * training order, and the per-source roll-up reports word/char/token
    * totals plus tokens-per-character in exact ppm — the fertility number
    * a tokenizer change is judged by. The merge list is a ≤`iters`-row
    * driver miniature (the k-means-fit license), session-cached so Bench
    * resamples don't re-train; the encode itself is corpus-sized but a
    * pure narrow map (explode → fold of `iters` literal replaces → one
    * source-keyed aggregate). The oracle replays the encode from the
    * CAPTURED merge literals — training itself is independently gated by
    * q205, so this gate isolates the application semantics. */
  def bpeEncode(spark: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    val merges = graft.CacheRegistry.memo(spark, s"bpe-merges:$iters:$dir")(
      bpeMerges(spark, dir, iters).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    var s: org.apache.spark.sql.Column =
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
    merges.foreach { case (pair, merged) =>
      s = call_function("replace", s, lit(s" $pair "), lit(s" $merged "))
    }
    words
      .select(col("source"), length(col("word")).cast(LongType).as("chars"),
        size(split(trim(s), " ")).cast(LongType).as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("chars")).as("n_chars"),
        sum(col("toks")).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("(n_tokens * 1000000) div n_chars").as("tokens_per_char_ppm"))
  }

  /** The shared training replay: word counts, spaced symbols, and per-round
    * (weighted pair argmax, literal replace) CTE pairs `p1,w1 … pN,wN`.
    * Both oracles build on this, so neither depends on captured run-time
    * literals — a divergence anywhere in the iteration (tie order, replace
    * semantics, weighting) goes hash-red in BOTH gates. */
  private def trainingCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT ws[i] || ' ' || ws[i+1] AS pair, cnt
         |    FROM (SELECT string_split(trim(s), ' ') AS ws, cnt FROM w${i - 1})
         |         , unnest(range(1, len(ws))) AS t(i)
         |    WHERE len(ws) >= 2)
         |  GROUP BY pair ORDER BY c DESC, pair LIMIT 1
         |), w$i AS (
         |  SELECT replace(s, ' ' || p.pair || ' ',
         |                 ' ' || replace(p.pair, ' ', '') || ' ') AS s, cnt
         |  FROM w${i - 1}, p$i p
         |)""".stripMargin
    }.mkString(", ")
    s"""wc AS (
       |  SELECT word, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word
       |), w0 AS (
       |  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, cnt
       |  FROM wc
       |), $rounds""".stripMargin
  }

  /** q214's oracle — fully static (round-9 graduation from captured merge
    * literals): the merge pairs are re-derived by the SAME chained training
    * CTEs the q205 oracle uses, and the encode folds them in via scalar
    * subqueries (each `p_i` is exactly one row). No run-time capture —
    * DuckDB independently trains AND encodes from the raw parquet. */
  def bpeEncodeStaticSql(iters: Int = 8): String = {
    val chain = (1 to iters).foldLeft(
      "' ' || regexp_replace(word, '(.)', '\\1 ', 'g')") {
      case (acc, i) =>
        s"replace($acc, ' ' || (SELECT pair FROM p$i) || ' ', " +
          s"' ' || (SELECT replace(pair, ' ', '') FROM p$i) || ' ')"
    }
    s"""WITH ${trainingCtes(iters)}, words AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS word
       |  FROM documents
       |), enc AS (
       |  SELECT source, length(word) AS chars,
       |         len(string_split(trim($chain), ' ')) AS toks
       |  FROM words
       |)
       |SELECT source, count(*) AS n_words,
       |       CAST(sum(chars) AS BIGINT) AS n_chars,
       |       CAST(sum(toks) AS BIGINT) AS n_tokens,
       |       CAST(sum(toks) * 1000000 // sum(chars) AS BIGINT)
       |         AS tokens_per_char_ppm
       |FROM enc GROUP BY source""".stripMargin
  }

  /** The q205 oracle replays every round as a chained CTE — word counts,
    * spaced symbols, per-round weighted pair argmax and literal replace. */
  def bpeMergesSql(iters: Int = 8): String = {
    val union = (1 to iters).map(i =>
      s"SELECT CAST($i AS INT) AS iter, pair, " +
        s"replace(pair, ' ', '') AS merged, c FROM p$i").mkString(" UNION ALL ")
    s"""WITH ${trainingCtes(iters)}
       |$union""".stripMargin
  }
}
