package graft

import graft.operators.{CorpusFilters, Events, JsonSource, Merge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the corpus-hygiene (q76–q79) and source/maintenance
  * (q80–q82) operators. The exact values are pinned by the DuckDB oracles;
  * these specs pin the *semantic* properties the oracle comparison can't
  * express (monotonicity, determinism, conservation laws). */
class CorpusFiltersSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("contamination score: sub-k-word docs ride the n_grams=0 branch") {
    // the driver fixture has no <4-word documents, so the short-doc branch
    // is exercised against a synthetic documents table (doc_id 3 has md5
    // nibble 'f' at none of 1..20 — all five ids below are training docs)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-short-docs")
    val docs = Seq(
      (1L, "one two three", "en", "web", 13L), // 3 words < k=4
      (2L, "", "en", "web", 0L),               // empty text
      (4L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (5L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (6L, "solo", "en", "web", 4L))           // 1 word
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(
      new java.io.File(tmp.toFile, "documents.parquet").toString)
    val out = graft.operators.CorpusFilters
      .contaminationScore(spark, tmp.toString)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L, 6L)) // complete coverage
    Seq(1L, 2L, 6L).foreach { id =>
      assert(out(id) == ((0L, 0L, 0L, 0L)), s"doc $id: ${out(id)}")
    }
    assert(out(4L)._1 == 3 && out(5L)._1 == 3) // 6 words -> 3 grams
  }

  test("decontamination flags only training docs, monotone in k") {
    val k4 = CorpusFilters.decontaminate(spark, dir, k = 4)
    // no benchmark doc (md5 nibble 'f') ever appears in the output
    val benchIds = Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
      .select("doc_id")
    assert(k4.join(benchIds, "doc_id").isEmpty)
    // a LONGER gram is strictly harder to share: contaminated(k=5) ⊆ (k=4)
    val k5 = CorpusFilters.decontaminate(spark, dir, k = 5)
    assert(k5.select("doc_id").exceptAll(k4.select("doc_id")).isEmpty)
  }

  test("contamination score: complete coverage, q76-consistent, bounded ppm") {
    val score = CorpusFilters.contaminationScore(spark, dir).cache()
    // EVERY training doc gets a row — 0-overlap docs AND sub-k-word docs
    // (round 6: short docs ride the n_grams=0 branch; the fraction is what
    // release policies threshold on, so absence would hide them from it)
    val train = Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "f")
      .select("doc_id")
    assert(score.count() == train.count())
    assert(score.select("doc_id").exceptAll(train).isEmpty &&
      train.exceptAll(score.select("doc_id")).isEmpty)
    // short docs carry the zero convention end to end
    assert(score.filter(col("n_grams") === 0)
      .filter(col("n_shared") =!= 0 || col("contamination_ppm") =!= 0 ||
        col("is_contaminated") =!= 0).isEmpty)
    // the positive-overlap slice IS q76: same docs, same shared counts
    val q76 = CorpusFilters.decontaminate(spark, dir)
      .select(col("doc_id"), col("n_shared"))
    val pos = score.filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_shared"))
    assert(pos.exceptAll(q76).isEmpty && q76.exceptAll(pos).isEmpty)
    // ppm ∈ [0, 1e6]; shared never exceeds total; flag matches threshold
    assert(score.filter(col("n_shared") > col("n_grams") ||
      col("contamination_ppm") < 0 || col("contamination_ppm") > 1000000 ||
      (col("is_contaminated") === 1) =!=
        (col("contamination_ppm") >= 100000L)).isEmpty)
    score.unpersist()
  }

  test("release pipeline equals the set algebra of its stages") {
    // the fused q128 plan must release EXACTLY the docs that independently
    // pass every stage: quality ∩ dedup-keepers ∩ ¬contaminated ∩ sample
    val released = CorpusFilters.releasePipeline(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qual = CorpusFilters.qualityGates(spark, dir)
      .filter(col("pass_all"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "f")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keepers = graft.operators.Dedup.exactDedup(spark, dir)
      .select("keep_doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = CorpusFilters.decontaminate(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampled = Tables.documents(spark, dir)
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / 4294967296.0 < 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = qual.keySet
      .intersect(keepers).diff(contaminated).intersect(sampled)
    assert(released.keySet == expected)
    assert(released.nonEmpty)
    // and the released n_words is the quality stage's n_words
    released.foreach { case (id, nw) => assert(qual(id) == nw) }
  }

  test("bloom-prefiltered decontamination is bit-identical to exact") {
    val exact = CorpusFilters.decontaminate(spark, dir)
    val bloom = CorpusFilters.decontaminateBloom(spark, dir)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
    // even at an absurd FP rate the exact confirm join holds the line
    val sloppy = CorpusFilters.decontaminateBloom(spark, dir, fpp = 0.5)
    assert(sloppy.exceptAll(exact).isEmpty && exact.exceptAll(sloppy).isEmpty)
  }

  test("boilerplate removal: token conservation, untouched docs keep md5") {
    val out = CorpusFilters.boilerplateRemove(spark, dir).collect()
    assert(out.length ==
      Tables.documents(spark, dir).count().toInt)
    // conservation: kept + removed == original token count, both non-negative
    out.foreach { r =>
      val (n, kept, rm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept + rm == n && kept >= 0 && rm >= 0)
    }
    // something was actually removed at the default threshold (the corpus
    // genuinely repeats 4-grams across docs), but not everything
    val totalRm = out.map(_.getLong(3)).sum
    assert(totalRm > 0 && totalRm < out.map(_.getLong(1)).sum)
    // a doc with zero removals reconstructs EXACTLY: clean_md5 == md5(text)
    val untouched = CorpusFilters.boilerplateRemove(spark, dir)
      .filter(col("n_removed") === 0)
      .join(Tables.documents(spark, dir), "doc_id")
      .filter(col("clean_md5") =!= md5(col("text").cast("binary")))
    assert(untouched.isEmpty)
    // monotone in the df threshold: a stricter lexicon removes no more
    val strict = CorpusFilters.boilerplateRemove(spark, dir, minDf = 4L)
      .select(col("doc_id"), col("n_removed").as("rm_strict"))
    val joined = CorpusFilters.boilerplateRemove(spark, dir)
      .select(col("doc_id"), col("n_removed"))
      .join(strict, "doc_id").collect()
    joined.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("null text: boilerplate removal and the span scrub return the " +
    "DuckDB oracles' row, with clean_md5 = md5('')") {
    // what q107/q238's oracles give a null-text document (string_split
    // of NULL is NULL): n_words / n_tokens and n_removed NULL, n_kept 0,
    // clean_md5 md5(''), cleaned_text ''
    import spark.implicits._
    val scrub = graft.operators.Dedup.spanScrubOn(
      Seq((1L, "a b c d e f"), (2L, null: String)).toDF("doc_id", "text"))
      .filter(col("doc_id") === 2L).collect()
    assert(scrub.length == 1 && scrub(0).isNullAt(1) && scrub(0).isNullAt(2))
    assert(scrub(0).getString(3) == "")
    val tmp = java.nio.file.Files.createTempDirectory("graft_null_text")
    try {
      val docs = Tables.documents(spark, dir)
      val nullId = docs.agg(min(col("doc_id"))).head().getLong(0)
      docs.withColumn("text", when(col("doc_id") === nullId,
          lit(null).cast("string")).otherwise(col("text")))
        .write.parquet(s"$tmp/documents.parquet")
      val row = CorpusFilters.boilerplateRemove(spark, tmp.toString)
        .filter(col("doc_id") === nullId).collect()
      assert(row.length == 1)
      assert(row(0).isNullAt(1) && row(0).isNullAt(3), row(0).toString)
      assert(!row(0).isNullAt(2) && row(0).getLong(2) == 0L, row(0).toString)
      assert(row(0).getString(4) == "d41d8cd98f00b204e9800998ecf8427e")
    } finally {
      graft.operators.Staging.invalidate(tmp.toString)
      graft.operators.Staging.deleteRecursively(tmp.toFile)
    }
  }

  test("quality classifier: feature counting law and sign rule") {
    val docs = Tables.documents(spark, dir)
    val out = graft.operators.TextAnalysis.linearQualityScore(spark, dir)
    // unigrams (n) + bigrams (n-1): n_feats == 2*n_words - 1 for n >= 2
    val law = out.join(
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words")), "doc_id")
      .filter(col("n_words") >= 2)
      .filter(col("n_feats") =!= col("n_words") * 2 - 1)
    assert(law.isEmpty)
    // keep is exactly the sign test
    assert(out.filter(col("keep") =!= (col("score") >= 0)).isEmpty)
    // weights genuinely straddle zero (scores are not one-sided)
    val scores = out.select("score").collect().map(_.getLong(0))
    assert(scores.exists(_ < 0) && scores.exists(_ > 0))
  }

  test("HLL sketch merge estimates distinct users within 5% of exact") {
    val est = graft.operators.Sketches.hllUserSketches(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, dir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (t, n) =>
      assert(math.abs(est(t) - n) <= math.max(1L, (0.05 * n).toLong),
        s"type $t: est ${est(t)} vs exact $n")
    }
  }

  test("cube: gid marks grouping sets and subtotals reconcile") {
    val cube = graft.operators.Relational.cubeRevenue(spark, dir).cache()
    // exactly 4 grouping sets: detail, by-segment, by-year, grand total
    assert(cube.select("gid").distinct().count() == 4)
    val grand = cube.filter(col("gid") === 3)
    assert(grand.count() == 1 &&
      grand.head().getString(0) == "(all)" && grand.head().getLong(1) == -1L)
    // detail rows sum to the grand total (exact cents → exact doubles)
    val detailSum = cube.filter(col("gid") === 0)
      .agg(sum("n_orders")).head().getLong(0)
    assert(detailSum == grand.head().getAs[Long]("n_orders"))
    cube.unpersist()
  }

  test("PII redaction removes every planted match and only planted docs") {
    val out = CorpusFilters.piiRedact(spark, dir).cache()
    // redacted text never re-matches any pattern
    assert(out.filter(col("redacted").rlike("@[a-z]")).isEmpty)
    assert(out.filter(col("redacted").rlike("""555-[0-9]{4}""")).isEmpty)
    assert(out.filter(
      col("redacted").rlike("""\b[0-9]{1,3}\.[0-9]{1,3}\.""")).isEmpty)
    // counts match the planting rule exactly
    val bad = out.filter(
      (col("doc_id") % 5 === 0) =!= (col("n_email") === 1) ||
        (col("doc_id") % 7 === 0) =!= (col("n_phone") === 1) ||
        (col("doc_id") % 11 === 0) =!= (col("n_ip") === 1))
    assert(bad.isEmpty)
    out.unpersist()
  }

  test("quality gates: composite == conjunction of per-rule flags") {
    val g = CorpusFilters.qualityGates(spark, dir)
    val broken = g.filter(col("pass_all") =!=
      (col("pass_len") && col("pass_wlen") && col("pass_stop") &&
        col("pass_dom") && col("pass_ttr")))
    assert(broken.isEmpty)
    // every document is scored exactly once
    assert(g.count() == 500 && g.select("doc_id").distinct().count() == 500)
  }

  test("intra-doc repetition: conservation n_distinct + n_dup == n_grams") {
    val r = CorpusFilters.intraDocRepetition(spark, dir)
    // every position is either a first occurrence (counted in n_distinct)
    // or a repeat (counted in n_dup)
    val broken = r.filter(col("n_distinct") + col("n_dup") =!= col("n_grams"))
    assert(broken.isEmpty)
    assert(r.filter(col("dup_ratio") < 0 || col("dup_ratio") >= 1).isEmpty)
  }

  test("gap-fill emits a dense hour×type grid with conserved total") {
    val filled = Events.gapFillHourly(spark, dir).cache()
    val types = filled.select("event_type").distinct().count()
    val hours = filled.select("hour").distinct().count()
    assert(filled.count() == types * hours) // dense grid, no holes
    // zero-filling adds rows, never events
    val total = filled.agg(sum("n")).head().getLong(0)
    assert(total == Tables.events(spark, dir).count())
    assert(filled.filter(col("n") === 0).count() > 0) // gaps actually exist
    filled.unpersist()
  }

  test("json ingest tolerates corrupt lines and keeps exact sums") {
    val out = JsonSource.jsonIngest(spark, dir).cache()
    val byType = out.collect().map(r => r.getString(0) -> r).toMap
    assert(byType("CORRUPT").getLong(1) == 2)
    assert(byType("click").getLong(1) == 5) // ids 1,3,5,8,12
    assert(byType("click").getLong(2) == 825) // 1.25+0.75+0+4.00+2.25 in cents
    assert(byType("buy").getLong(3) == 11) // meta.k: 7+1+3
    assert(byType("view").getLong(4) == 3) // tags a,b,c
    out.unpersist()
  }

  test("domain cap keeps at most N per source, deterministically") {
    val capped = graft.operators.Sampling.domainCap(spark, dir, cap = 7).cache()
    val over = capped.groupBy("source").count().filter(col("count") > 7)
    assert(over.isEmpty)
    assert(capped.filter(col("rk") < 1 || col("rk") > 7).isEmpty)
    // sources with >= 7 docs are capped EXACTLY at 7 (no under-fill)
    val bigSources = Tables.documents(spark, dir)
      .groupBy("source").count().filter(col("count") >= 7).select("source")
    val exact = capped.groupBy("source").count()
      .join(bigSources, "source").filter(col("count") =!= 7)
    assert(exact.isEmpty)
    // deterministic: rerun yields the identical kept set
    val rerun = graft.operators.Sampling.domainCap(spark, dir, cap = 7)
    assert(capped.exceptAll(rerun).isEmpty && rerun.exceptAll(capped).isEmpty)
    capped.unpersist()
  }

  test("vocab encode: id sequence is total, ordered, and within range") {
    val enc = graft.operators.TextAnalysis.vocabEncode(spark, dir, vocabSize = 20)
      .cache()
    // every token got exactly one id (sequence length == token count)
    val broken = enc.filter(
      size(split(col("ids_str"), ",")) =!= col("n_tokens"))
    assert(broken.isEmpty)
    // ids stay in [0, vocabSize]
    val outOfRange = enc.select(explode(split(col("ids_str"), ",")).as("id"))
      .filter(col("id").cast("long") < 0 || col("id").cast("long") > 20)
    assert(outOfRange.isEmpty)
    // OOV accounting: n_oov equals the zeros in the sequence
    val zeros = enc.select(col("doc_id"), col("n_oov"),
      size(filter(split(col("ids_str"), ","), x => x === "0")).as("z"))
    assert(zeros.filter(col("z") =!= col("n_oov")).isEmpty)
    enc.unpersist()
  }

  test("merge upsert: actions partition the result, balances move exactly") {
    val m = Merge.upsertCustomers(spark, dir).cache()
    val base = Tables.customer(spark, dir)
    val nBase = base.count()
    val nIns = m.filter(col("action") === "insert").count()
    assert(m.count() == nBase + nIns) // SCD1: no deletes, no duplication
    // every inserted key is original key + 10M and carries mktsegment NEW
    assert(m.filter(col("action") === "insert")
      .filter(col("custkey") < 10000000L || col("mktsegment") =!= "NEW")
      .isEmpty)
    // updated rows differ from base by exactly +50000 cents
    val joined = m.filter(col("action") === "update")
      .join(base.select(col("c_custkey").as("custkey"),
        round(col("c_acctbal") * 100).cast("long").as("orig_c")), "custkey")
    assert(joined.filter(col("bal_c") - col("orig_c") =!= 50000L).isEmpty)
    m.unpersist()
  }

  test("snapshot diff: null-safe change detection on a synthetic feed") {
    import spark.implicits._
    val prev = Seq((1L, Option(10L)), (2L, Option(20L)), (3L, None),
      (4L, Option(40L)), (5L, None)).toDF("k", "v")
    val next = Seq((1L, Option(10L)), (2L, None), (3L, Option(30L)),
      (5L, None), (6L, Option(60L))).toDF("k", "v")
    val d = Merge.snapshotDiff(prev, next, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // 1: unchanged (dropped), 5: NULL==NULL unchanged (dropped)
    assert(d == Map(2L -> "update", // value → NULL is an update
      3L -> "update", // NULL → value is an update
      4L -> "delete", 6L -> "insert"))
  }

  test("snapshot diff (q103): changelog applies back to the next snapshot") {
    val diff = Merge.snapshotDiffCustomers(spark, dir).cache()
    // inserts are exactly the +20M synthetic keys; deletes only base keys
    assert(diff.filter(col("change_type") === "insert")
      .filter(col("custkey") < 20000000L).isEmpty)
    assert(diff.filter(col("change_type") === "delete")
      .filter(col("custkey") % 97 =!= 0).isEmpty)
    // updates move the balance by exactly +500.00
    assert(diff.filter(col("change_type") === "update")
      .filter(col("new_bal_c") - col("old_bal_c") =!= 50000L).isEmpty)
    // changelog is minimal: no row where old and new agree
    assert(diff.filter(col("old_bal_c") <=> col("new_bal_c"))
      .filter(col("change_type") === "update").isEmpty)
    // |inserts| and |deletes| match the modular populations they encode
    val base = Tables.customer(spark, dir)
    assert(diff.filter(col("change_type") === "delete").count() ==
      base.filter(col("c_custkey") % 97 === 0).count())
    assert(diff.filter(col("change_type") === "insert").count() ==
      base.filter(col("c_custkey") % 89 === 0).count())
    diff.unpersist()
  }

  test("scd2: the whole history build is ONE hash exchange") {
    val plan = Merge.scd2History(spark, dir).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected exactly one shuffle, got $exchanges:\n${plan.take(1500)}")
  }

  test("scd2 incremental merge equals the full rebuild") {
    val inc = Merge.scd2IncrementalMerge(spark, dir)
    val full = Merge.scd2History(spark, dir)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    assert(inc.count() == full.count() && inc.count() > 0)
  }

  test("scd2: versions are dense, intervals chain, exactly one current row") {
    val h = Merge.scd2History(spark, dir).cache()
    // exactly one open (is_current) version per key, and it is the max version
    val perKey = h.groupBy("custkey").agg(
      sum(col("is_current")).as("n_open"),
      max(col("version")).as("max_v"),
      count(lit(1)).as("n_v"))
    assert(perKey.filter(col("n_open") =!= 1L || col("max_v") =!= col("n_v"))
      .isEmpty) // dense 1..n versioning, single open interval
    // validity intervals chain exactly: eff_to of version v = eff_from of v+1
    val next = h.select(col("custkey"), (col("version") - 1L).as("version"),
      col("eff_from_ms").as("next_from"))
    val chained = h.join(next, Seq("custkey", "version"))
    assert(chained.filter(col("eff_to_ms") =!= col("next_from")).isEmpty)
    // change suppression: consecutive versions never carry the same value
    val prev = h.select(col("custkey"), (col("version") + 1L).as("version"),
      col("price_c").as("prev_c"))
    assert(h.join(prev, Seq("custkey", "version"))
      .filter(col("price_c") === col("prev_c")).isEmpty)
    h.unpersist()
  }

  test("q171 incremental stats: the aggregate-of-aggregates merge equals " +
    "the full rebuild, including batch-only/base-only sources") {
    val got = Merge.incrementalStats(spark, dir)
    val rebuild = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_sum"),
        min(col("n_chars")).as("chars_min"), max(col("n_chars")).as("chars_max"))
    assert(got.exceptAll(rebuild).isEmpty && rebuild.exceptAll(got).isEmpty)
    // the merge's null lanes are real code paths: feed it a split where a
    // source exists on one side only and the law must still hold — the
    // equality above would pass vacuously if the %7 split covered both
    // sides for every source, so pin the split is non-degenerate instead
    val base = Tables.documents(spark, dir).filter(col("doc_id") % 7 =!= 0)
    val batch = Tables.documents(spark, dir).filter(col("doc_id") % 7 === 0)
    assert(base.count() > 0 && batch.count() > 0)
  }

  test("q172 debounce: survivors are the time-order firsts and suppression " +
    "conserves the event count") {
    import org.apache.spark.sql.types.TimestampType
    val total = Tables.events(spark, dir).count()
    val rows = Events.debounce(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getString(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(rows.map(_._2._2).sum == total)
    rows.foreach { case (_, (_, n, sup)) => assert(sup == n - 1 && n >= 1) }
    // sf0.001 is too sparse for 5-min repeats; the suppression branch is
    // exercised at the oracle scale (sf0.01 — 9 suppressed at r7 close)
    val supAtOracleScale = Events.debounce(spark, GraftTestSession.Sf001)
      .agg(sum(col("n_suppressed"))).head().getLong(0)
    assert(supAtOracleScale > 0, "no in-window repeats even at sf0.01")
    // spot-check survivors against a driver-side fold
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts").cast(TimestampType)).as("ms"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(e => (e._1, e._2, e._3 / 300000 * 300000))
      .view.mapValues(g => g.minBy(e => (e._3, e._4))._4).toMap
    rows.foreach { case (k, (first, _, _)) =>
      assert(expected(k) == first, s"group $k survivor")
    }
  }

  test("q167 forget audit: accounting balances and the cascade really " +
    "covers all three subject-keyed tables") {
    val rows = CorpusFilters.forgetAudit(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("customer", "orders", "events"))
    rows.foreach { case (t, (total, gone, after, subjects)) =>
      assert(total == gone + after, s"$t balance")
      assert(gone >= subjects, s"$t at least one row per forgotten subject")
    }
    // the forget set is non-empty and the deletes agree with an anti-join
    val (_, gone, after, _) = rows("events")
    assert(gone > 0)
    assert(after == Tables.events(spark, dir)
      .filter(col("user_id") % 97 =!= 0).count())
  }

  test("q168 pii audit: the per-source rollup recomputes from the q77 " +
    "row-level detectors") {
    val docSource = Tables.documents(spark, dir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rowLevel = CorpusFilters.piiRedact(spark, dir).collect()
      .map(r => (docSource(r.getLong(0)), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val got = CorpusFilters.piiAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet == rowLevel.map(_._1).toSet)
    rowLevel.groupBy(_._1).foreach { case (src, docs) =>
      val (nDocs, withPii, ne, np, ni, ppm) = got(src)
      assert(nDocs == docs.length)
      assert(withPii == docs.count(d => d._2 + d._3 + d._4 > 0))
      assert(ne == docs.map(_._2).sum && np == docs.map(_._3).sum &&
        ni == docs.map(_._4).sum)
      assert(ppm == withPii * 1000000L / nDocs)
    }
    assert(got.values.exists(_._2 > 0), "fixture plants PII — some must show")
  }

  test("q236 l-diversity: class roll-ups replay from a driver-side " +
    "QI regrouping; invariants hold") {
    val rows = CorpusFilters.lDiversity(spark, dir, l = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.nonEmpty)
    val cust = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long"), col("c_acctbal"),
        col("c_mktsegment")).collect()
      .map(r => (r.getLong(0),
        (math.round(r.getDouble(1) * 100) + 100000000L) / 100000L,
        r.getString(2)))
    val byNation = cust.groupBy(_._1)
    byNation.foreach { case (nation, cs) =>
      val classes = cs.groupBy(_._2).map { case (_, members) =>
        val segs = members.groupBy(_._3).map(_._2.size)
        (segs.size.toLong, members.size.toLong, segs.max.toLong)
      }
      val (nc, below, exposed, worst) = rows(nation)
      assert(nc == classes.size)
      assert(below == classes.count(_._1 < 3))
      assert(exposed == classes.filter(_._1 < 3).map(_._2).sum)
      assert(worst == classes.map(c => c._3 * 1000000L / c._2).max)
    }
    // each nation's exposure can never exceed its population
    rows.foreach { case (n, (_, _, exposed, worst)) =>
      assert(exposed <= byNation(n).size)
      assert(worst >= 1000000L / 5 && worst <= 1000000L)
    }
  }

  test("canary scan: exact 40-char slice probes, complete probe coverage, " +
    "zero-hit probes null first_hit, non-multiple bench docs emit no probe") {
    import spark.implicits._
    // md5-nibble-'f' doc_ids: 44, 49, 65, 80, 100 ... — probes are the %5
    // multiples (65, 80, 100); 44 is benchmark but NOT a probe.
    val c65 = "ca65-" * 8   // exactly 40 chars
    val c80 = "cb80-" * 8
    val c100 = "cg00-" * 8
    val tmp = java.nio.file.Files.createTempDirectory("graft-canary")
    val docs = Seq(
      (65L, c65 + " trailing context words"),
      (80L, c80 + " trailing context words"),
      (100L, c100 + " trailing context words"),
      (44L, "bench-but-not-a-probe filler filler filler filler"),
      (1L, "lead-in words " + c65 + " tail"),
      (2L, c65 + " immediately at the start"),
      (3L, "xx " + c100 + " yy"),
      (6L, "no canaries here just filler filler filler filler"))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(
      new java.io.File(tmp.toFile, "documents.parquet").toString)
    val got = CorpusFilters.canaryScan(spark, tmp.toString).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got.keySet == Set(65L, 80L, 100L)) // 44 is bench, not a probe
    assert(got(65L) == ((2L, Some(1L))))      // docs 1 and 2; first = 1
    assert(got(80L) == ((0L, None)))          // zero-hit probe still reported
    assert(got(100L) == ((1L, Some(3L))))
  }
}
