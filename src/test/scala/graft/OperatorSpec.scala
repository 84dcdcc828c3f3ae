package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the operator queries on sf0.001 (the DuckDB oracle
  * is the exactness gate; these specs pin semantic invariants). */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark
  val dir = GraftTestSession.Sf0001

  test("rfm: HAVING filter holds, one row per customer") {
    val rows = Rfm.rfmOrders(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0 && r.getDouble(2) > 0 && r.getDouble(3) > 0)
    }
    val keys = rows.map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
  }

  test("clean filter drops nothing valid and keeps predicates") {
    val df = Relational.cleanFilter(spark, dir)
    assert(df.filter(col("quantity") <= 0 || col("extendedprice") <= 0).count() == 0)
  }

  test("zscore columns standardized") {
    val z = Relational.zscore(spark, dir).collect()
    val zs = z.map(_.getDouble(1))
    assert(math.abs(zs.sum / zs.length) < 1e-4)
  }

  test("top customers ordered and bounded") {
    val t = Relational.topCustomers(spark, dir).collect()
    assert(t.length == 10)
    val monetary = t.map(_.getDouble(3))
    assert(monetary.sameElements(monetary.sortBy(-_)))
  }

  test("exact dedup covers all docs") {
    val d = Dedup.exactDedup(spark, dir)
    val total = d.agg(sum("n_copies")).head().getLong(0)
    assert(total == graft.Tables.documents(spark, dir).count())
  }

  test("ngram jaccard pairs: ordered, above threshold") {
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0)
    }
  }

  test("shingles: sub-k-word docs yield empty sets, dedup doesn't crash") {
    import spark.implicits._
    // sequence(0, size-k) on a <k-word doc would produce the DESCENDING
    // array [0,-1] and element_at(ws, 0) throws — the guard must branch
    val docs = Seq(
      (1L, "one two"), (2L, "solo"), (3L, ""),
      (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)))
  }

  test("repeated spans: overlapping dup grams merge, disjoint spans count, " +
    "uncovered and sub-k docs appear with zeros") {
    import spark.implicits._
    // k=5. "c1..c5" is duplicated across d1/d2/d5/d6/d7; "c2..c6" across
    // d5/d6 (overlap → ONE merged span); "g1..g5" across d7/d8 (d7 gets a
    // SECOND, disjoint span); d3 is unique and d4 has < k words.
    val docs = Seq(
      (1L, "c1 c2 c3 c4 c5 u1 u2 u3 u4 u5"),
      (2L, "w0 c1 c2 c3 c4 c5 w6 w7 w8 w9 w10"),
      (3L, "q1 q2 q3 q4 q5 q6"),
      (4L, "s1 s2"),
      (5L, "c1 c2 c3 c4 c5 c6 t1 t2 t3 t4"),
      (6L, "r0 r1 c1 c2 c3 c4 c5 c6 r8 r9"),
      (7L, "c1 c2 c3 c4 c5 m1 m2 m3 g1 g2 g3 g4 g5"),
      (8L, "h1 h2 g1 g2 g3 g4 g5 h3 h4 h5")).toDF("doc_id", "text")
    val got = Dedup.repeatedSpansOn(docs, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) == ((10L, 5L, 1L, 5L, 500000L)))
    assert(got(2L) == ((11L, 5L, 1L, 5L, 454545L)))
    assert(got(3L) == ((6L, 0L, 0L, 0L, 0L)))
    assert(got(4L) == ((2L, 0L, 0L, 0L, 0L)))
    // overlapping duplicated grams (pos 0 and 1) merge into one 6-token span
    assert(got(5L) == ((10L, 6L, 1L, 6L, 600000L)))
    assert(got(6L) == ((10L, 6L, 1L, 6L, 600000L)))
    // two DISJOINT spans in one doc stay two spans
    assert(got(7L) == ((13L, 10L, 2L, 5L, 769230L)))
    assert(got(8L) == ((10L, 5L, 1L, 5L, 500000L)))
  }

  test("span scrub: canonical occurrence survives, every other occurrence " +
    "is cut, overlaps union, intra-doc repeats cut, full-cover doc empties") {
    import spark.implicits._
    // Same gram families as the repeated-spans fixture, plus d9 (the SAME
    // dup gram twice in one non-canonical doc) and d10 (a doc that is
    // nothing but one non-canonical gram → cleaned to the empty string).
    // Canonical (first global) occurrences: "c1..c5" → (d1,0);
    // "c2..c6" → (d5,1); "g1..g5" → (d7,8).
    val docs = Seq(
      (1L, "c1 c2 c3 c4 c5 u1 u2 u3 u4 u5"),
      (2L, "w0 c1 c2 c3 c4 c5 w6 w7 w8 w9 w10"),
      (3L, "q1 q2 q3 q4 q5 q6"),
      (4L, "s1 s2"),
      (5L, "c1 c2 c3 c4 c5 c6 t1 t2 t3 t4"),
      (6L, "r0 r1 c1 c2 c3 c4 c5 c6 r8 r9"),
      (7L, "c1 c2 c3 c4 c5 m1 m2 m3 g1 g2 g3 g4 g5"),
      (8L, "h1 h2 g1 g2 g3 g4 g5 h3 h4 h5"),
      (9L, "c1 c2 c3 c4 c5 x c1 c2 c3 c4 c5"),
      (10L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val got = Dedup.spanScrubOn(docs, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((10L, 0L, "c1 c2 c3 c4 c5 u1 u2 u3 u4 u5")))
    assert(got(2L) == ((11L, 5L, "w0 w6 w7 w8 w9 w10")))
    assert(got(3L) == ((6L, 0L, "q1 q2 q3 q4 q5 q6")))
    assert(got(4L) == ((2L, 0L, "s1 s2")))
    // c-gram cut (non-canonical) but the doc holds the c2..c6 CANONICAL:
    // only positions 0-4 go, c6 survives
    assert(got(5L) == ((10L, 5L, "c6 t1 t2 t3 t4")))
    // two overlapping non-canonical grams union to positions 2-7
    assert(got(6L) == ((10L, 6L, "r0 r1 r8 r9")))
    // d7 loses the c-gram but keeps g1..g5 (it IS the canonical)
    assert(got(7L) == ((13L, 5L, "m1 m2 m3 g1 g2 g3 g4 g5")))
    assert(got(8L) == ((10L, 5L, "h1 h2 h3 h4 h5")))
    // BOTH intra-doc occurrences are non-canonical → both cut
    assert(got(9L) == ((11L, 10L, "x")))
    // fully covered doc comes back as the empty string, not a lost row
    assert(got(10L) == ((5L, 5L, "")))
  }

  test("df cap: generous cap keeps every planted pair; cap=1 kills the index") {
    val docs = graft.Tables.documents(spark, dir)
    val uncapped = Dedup.ngramJaccard(spark, dir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardOn(docs, maxDf = Some(100L))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped && uncapped.nonEmpty)
    // any shingle shared by a pair has df >= 2, so cap 1 leaves no candidates
    assert(Dedup.ngramJaccardOn(docs, maxDf = Some(1L)).isEmpty)
  }

  test("simhash aggregator matches an independent driver-side fold") {
    import spark.implicits._
    val docs = Seq((1L, "x y x z"), (2L, "hello world hello world again"),
      (3L, "x y x z w")).toDF("doc_id", "text")
    val got = Dedup.simhashOn(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: per-bit ONES count (not the aggregator's ±1 votes);
    // bit set iff 2·ones − n > 0. Token hash = the md5-60bit portable
    // basis the operator uses (q44/q32/q33 trick), recomputed here
    // driver-side from first principles
    val toks = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .collect().map { r =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(r.getString(1).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        r.getLong(0) -> java.lang.Long.parseLong(hex.take(15), 16)
      }
    val expected = toks.groupBy(_._1).map { case (id, hs) =>
      val n = hs.length
      var sig = 0L
      (0 until 64).foreach { b =>
        val ones = hs.count { case (_, h) => ((h >>> b) & 1L) == 1L }
        if (2L * ones - n > 0) sig |= 1L << b
      }
      id -> sig
    }
    assert(got == expected)
  }

  test("minhash and exact jaccard agree on the planted near-dups") {
    val exact = Dedup.ngramJaccard(spark, dir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDedup(spark, dir).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH is approximate: it must find most planted pairs, few extras
    assert((exact intersect mh).size >= exact.size * 8 / 10)
  }

  test("q220 lsh curve: counters reconcile; measured rates track the " +
    "S-curve direction; constants match the analytic formula") {
    val rows = Dedup.lshCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (bucket, n, coll, ppm, pred) =>
      assert(bucket >= 0 && bucket <= 9)
      assert(coll >= 0 && coll <= n)
      assert(ppm == coll * 1000000 / n)
      val m = (bucket + 0.5) / 10.0
      assert(pred == math.round(1e6 * (1 - math.pow(1 - math.pow(m, 4), 4))))
    }
    // population sanity: the audit covers every shingle-sharing pair —
    // at least as many pairs as the thresholded q31 output
    val exactPairs = Dedup.ngramJaccard(spark, dir).count()
    assert(rows.map(_._2).sum >= exactPairs)
    // measured collision rate is monotone non-decreasing across the
    // populated buckets (the S-curve's defining property)
    val ppms = rows.map(_._4)
    assert(ppms.zip(ppms.tail).forall { case (lo, hi) => lo <= hi })
  }

  test("q221 token budget: cumulative reconciles with totals; " +
    "docs partition across bands") {
    val rows = CorpusFilters.tokenBudgetCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(-_._1)
    assert(rows.nonEmpty)
    // cum at each band = running sum from the top band down
    var run = 0L
    rows.foreach { case (_, _, tok, cum) =>
      run += tok
      assert(cum == run)
    }
    val docs = Tables.documents(spark, dir).count()
    assert(rows.map(_._2).sum == docs, "every doc lands in exactly one band")
  }

  test("q222 dedup sweep: monotone in the threshold; the 0.5 cut equals " +
    "the q31 pair count exactly (ppm floor preserves >= 0.5)") {
    val rows = Dedup.dedupSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.zip(rows.tail).foreach { case ((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1, "tighter cut can only shrink the sweep")
    }
    rows.foreach { case (_, p, d) => assert(d <= p) }
    val q31 = Dedup.ngramJaccard(spark, dir).count()
    assert(rows.head._1 == 500000L && rows.head._2 == q31)
  }

  test("q224 revenue share: ppm shares telescope to 1e6 minus floor dust") {
    val rows = Relational.revenueShare(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, rev, rs, ts) =>
      assert(rev > 0 && rs >= 0 && rs <= 1000000L && ts >= 0 && ts <= 1000000L)
    }
    // per region, floor-ppm shares sum to 1e6 minus at most (members-1)
    rows.groupBy(_._1).foreach { case (region, rs) =>
      val s = rs.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - rs.length,
        s"region $region share sum $s")
    }
    val t = rows.map(_._5).sum
    assert(t <= 1000000L && t > 1000000L - rows.length)
  }

  test("q225 stickiness: bounded ppm; monthly actives bound daily sums") {
    val rows = Relational.stickiness(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (ym, nDays, dauSum, mau, ppm) =>
      assert(nDays >= 1 && nDays <= 31)
      assert(mau >= 1)
      // every monthly user is active at least one day, at most every day
      assert(dauSum >= mau && dauSum <= nDays * mau)
      assert(ppm >= 0 && ppm <= 1000000L, s"month $ym ppm $ppm")
      assert(ppm == dauSum * 1000000L / (nDays * mau))
    }
  }

  test("q226 local supply: line census matches an independent recount; " +
    "revenue positive") {
    val rows = Relational.localSupplyRevenue(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n, rev) => assert(n > 0 && rev > 0) }
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    // independent recount of local lines without the dim decorations
    val local = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .count()
    assert(rows.map(_._3).sum == local)
  }

  test("q227 supplier hhi: bounded by the even-split floor and monopoly " +
    "ceiling; floor shares under-sum at most n ppm") {
    val rows = Relational.supplierConcentration(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (brand, n, hhi) =>
      assert(n >= 1)
      assert(hhi <= 1000000L * 1000000L, s"$brand hhi $hhi")
      // floor-ppm HHI can undershoot the exact even-split bound 1e12/n by
      // the flooring dust, never exceed the monopoly bound
      assert(hhi >= (1000000L / n - n) * (1000000L / n - n) * n / 2,
        s"$brand hhi $hhi for $n suppliers implausibly low")
    }
  }

  test("q228 funnel conversion: signup census conserved; rates bounded; " +
    "driver-side replay for one cohort") {
    val rows = Events.funnelConversion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val signups = Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._2).sum == signups,
      "every first-signup user lands in exactly one cohort week")
    rows.foreach { case (_, n, c, ppm) =>
      assert(c >= 0 && c <= n)
      assert(ppm == c * 1000000L / n)
    }
  }

  test("q229/q230 brand reports: line census conserved across both; " +
    "ratios bounded and internally consistent") {
    val margin = Relational.catalogMargin(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val returns = Relational.returnsRate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(margin.nonEmpty && returns.nonEmpty)
    val totalLines = Tables.lineitem(spark, dir).count()
    assert(margin.map(_._2).sum == totalLines)
    assert(returns.map(_._2).sum == totalLines)
    margin.foreach { case (b, _, sold, cat, ppm) =>
      assert(sold > 0 && cat > 0)
      assert(ppm == sold * 1000000L / cat, s"brand $b")
    }
    returns.foreach { case (b, n, nr, rev, rc, rp, rrp) =>
      assert(nr <= n && rc <= rev)
      assert(rp == nr * 1000000L / n && rrp == rc * 1000000L / rev,
        s"brand $b")
    }
  }

  test("simhash signatures: hamming-0 pairs only for near-identical docs") {
    val pairs = Dedup.simhashPairs(spark, dir).collect()
    pairs.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= 3))
  }

  test("semantic dedup: greedy-by-id within clusters, subset of exact rule") {
    val tau = 0.3
    val sem = Dedup.semanticDedup(spark, dir, threshold = tau).collect()
    assert(sem.nonEmpty)
    // keeper strictly precedes the removed vector
    sem.foreach(r => assert(r.getLong(1) < r.getLong(0)))
    // exact (cluster-blind) greedy rule: removed iff ANY lower-id vector is
    // within tau. SemDeDup restricts candidates to one coarse cell, so its
    // removals must be a subset, and every reported cosine must hold exactly.
    val u = graft.functions.VectorExprs
    val emb = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .selectExpr("vec_id",
        "transform(v, x -> x / sqrt(aggregate(v, 0d, (a, e) -> a + e * e))) as u")
    val a = emb.toDF("ka", "ua")
    val b = emb.toDF("kb", "ub")
    val exactRemoved = a.crossJoin(b).filter(col("ka") < col("kb"))
      .withColumn("cos", u.dot_product(col("ua"), col("ub")))
      .filter(col("cos") >= tau)
      .select(col("kb")).distinct()
      .collect().map(_.getLong(0)).toSet
    val semRemoved = sem.map(_.getLong(0)).toSet
    assert(semRemoved.subsetOf(exactRemoved))
    // each (keeper, removed) pair really is within tau, recomputed exactly,
    // and keeper_cosine is the cosine TO THE KEEPER, not some other vector's
    val pairs = Dedup.semanticDedup(spark, dir, threshold = tau)
      .join(a, col("keeper_id") === col("ka"))
      .join(b, col("vec_id") === col("kb"))
      .withColumn("cos", round(u.dot_product(col("ua"), col("ub")), 6))
      .collect()
    pairs.foreach { r =>
      val recomputed = r.getDouble(r.fieldIndex("cos"))
      assert(recomputed >= tau - 1e-9)
      assert(r.getDouble(r.fieldIndex("keeper_cosine")) == recomputed)
    }
  }

  test("embedding outliers (q145): centroid cosine + 2-sigma flag exact vs local recompute") {
    val got = SimilaritySearch.embeddingOutliers(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(got.nonEmpty)
    val raw = Tables.embeddings(spark, dir).collect().map { r =>
      (r.getLong(0), r.getInt(2).toLong,
        r.getSeq[Float](1).map(_.toDouble).toArray)
    }
    val unit = raw.flatMap { case (id, lbl, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm > 0) Some((id, lbl, v.map(_ / nrm))) else None
    }
    assert(got.keySet == unit.map(_._1).toSet)
    val byLabel = unit.groupBy(_._2)
    byLabel.foreach { case (lbl, vs) =>
      val n = vs.length
      val dims = vs.head._3.length
      val c = Array.tabulate(dims) { d =>
        vs.map(t => math.floor(t._3(d) * 1e6).toLong).sum.toDouble /
          (n.toDouble * 1e6)
      }
      val cnrm = math.sqrt(c.map(x => x * x).sum)
      val cos = vs.map { case (id, _, u) =>
        id -> u.zip(c).map { case (a, b) => a * b / cnrm }.sum
      }
      // recompute dot as fold over dims in order, matching the engine
      val cosExact = vs.map { case (id, _, u) =>
        var s = 0.0
        var d = 0
        while (d < dims) { s += u(d) * (c(d) / cnrm); d += 1 }
        id -> s
      }.toMap
      val cq = cosExact.map { case (id, x) => id -> math.floor(x * 1e6).toLong }
      val scq = cq.values.sum
      val scq2 = cq.values.map(q => q * q).sum
      val mu = scq.toDouble / n
      val sd = math.sqrt((n * scq2 - scq * scq).toDouble / (n.toLong * n))
      cosExact.foreach { case (id, x) =>
        val (gl, gc, gf) = got(id)
        assert(gl == lbl)
        assert(math.abs(gc - x) < 5e-7, s"cos mismatch vec $id")
        assert(gf == (cq(id).toDouble < mu - 2.0 * sd), s"flag mismatch vec $id")
      }
      assert(cos.nonEmpty)
    }
    // flags must fire somewhere but not dominate (sanity on the 2-sigma cut)
    val flagged = got.values.count(_._3)
    assert(flagged > 0 && flagged < got.size / 4)
  }

  test("target encoding (q144): out-of-fold math exact vs independent recompute") {
    val got = Features.targetEncoding(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.nonEmpty)
    val brandOf = Tables.part(spark, dir).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_extendedprice").collect()
      .map { r =>
        val fold = Integer.parseInt(
          org.apache.commons.codec.digest.DigestUtils
            .md5Hex(r.getLong(0).toString).substring(0, 1), 16) % 4
        (brandOf(r.getLong(1)), fold.toLong, math.round(r.getDouble(2) * 100))
      }
    val byCell = rows.groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val byBrand = rows.groupBy(_._1)
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val byFold = rows.groupBy(_._2)
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).sum) }
    val (n, s) = (rows.length.toLong, rows.map(_._3).sum)
    assert(got.keySet == byCell.keySet)
    got.foreach { case ((k, f), (nOof, enc)) =>
      val (nKf, sKf) = byCell((k, f))
      val (nK, sK) = byBrand(k)
      val (nF, sF) = byFold(f)
      assert(nOof == nK - nKf)
      val prior = (s - sF).toDouble / (n - nF).toDouble
      val want = ((sK - sKf).toDouble + 20.0 * prior) /
        ((nK - nKf).toDouble + 20.0) / 100.0
      assert(math.abs(enc - want) < 5e-7, s"enc($k,$f): got $enc want $want")
      // the encoder must NOT equal the naive in-fold mean (leakage check):
      // shrinkage plus fold exclusion moves it off sKf/nKf
      if (nKf > 0) assert(enc != sKf.toDouble / nKf / 100.0)
    }
  }

  test("ewma daily (q143): recurrence exact vs sequential recompute, seeded at day 0") {
    val rows = Events.ewmaDaily(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, series) =>
      val ordered = series.sortBy(_._2.getTime)
      var e = ordered.head._3.toDouble
      ordered.zipWithIndex.foreach { case ((_, _, cnt, got), i) =>
        if (i > 0) e = e + 0.3 * (cnt.toDouble - e)
        assert(got == BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble || math.abs(got - e) < 5e-7,
          s"ewma mismatch at day $i: got $got want $e")
        val prefix = ordered.take(i + 1).map(_._3.toDouble)
        assert(got >= prefix.min - 1e-9 && got <= prefix.max + 1e-9)
      }
    }
  }

  test("split leakage (q142): exactly the crossing subset of the pair list, splits faithful") {
    val leaks = Dedup.splitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getString(3), r.getString(4), r.getString(5)))
      .toMap
    assert(leaks.nonEmpty)
    val split = Sampling.trainValTestSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val allPairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the leak set must be EXACTLY the crossing subset — nothing invented,
    // nothing dropped (a same-split near-dup is waste, not leakage)
    val expected = allPairs.keySet.filter { case (a, b) => split(a) != split(b) }
    assert(leaks.keySet == expected)
    assert(expected.size < allPairs.size) // and some pairs must NOT cross
    leaks.foreach { case ((a, b), (j, sa, sb, lt)) =>
      assert(j == allPairs((a, b)))
      assert(sa == split(a) && sb == split(b) && sa != sb)
      assert(lt == Seq(sa, sb).sorted.mkString("->"))
    }
  }

  test("leakage-safe split (q240): clusters move as one unit, zero " +
    "cross-split near-dup pairs, singletons keep the naive assignment") {
    val rows = Dedup.leakageSafeSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    val naive = Sampling.trainValTestSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.keySet == naive.keySet) // complete corpus coverage
    val clusters = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rep is the component label for paired docs, the doc itself otherwise;
    // and every member of a cluster carries the cluster's ONE split
    rows.foreach { case (doc, (rep, split)) =>
      assert(rep == clusters.getOrElse(doc, doc))
      assert(split == rows(rep)._2, s"doc $doc split != rep $rep split")
    }
    // singletons are assigned exactly as q47 would
    rows.filterNot { case (doc, _) => clusters.contains(doc) }
      .foreach { case (doc, (_, split)) => assert(split == naive(doc)) }
    // the fix must BITE: the q142 leak set is nonempty under the naive
    // split and empty under this one
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.exists { case (a, b) => naive(a) != naive(b) })
    pairs.foreach { case (a, b) =>
      assert(rows(a)._2 == rows(b)._2, s"pair ($a,$b) still crosses splits")
    }
  }

  test("data card (q241): conservation across sources, ppm bounds, " +
    "constituents agree with their own operators") {
    val card = operators.Profiling.dataCard(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "source", "lang",
        "CAST(size(split(text, ' ')) AS LONG) AS n_words").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // complete coverage + doc/token conservation
    assert(card.keySet == docs.map(_._2).toSet)
    assert(card.values.map(_._1).sum == docs.length)
    assert(card.values.map(_._2).sum == docs.map(_._4).sum)
    val bySrc = docs.groupBy(_._2)
    val dupDocs = operators.Dedup.dedupClusters(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val keep = operators.TextAnalysis.qualityScores(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    card.foreach { case (src, (nDocs, nTok, nLangs, topLang, topPpm,
                               dup, dupPpm, keepDocs, keepPpm)) =>
      val mine = bySrc(src)
      assert(nDocs == mine.length && nTok == mine.map(_._4).sum)
      val langCnt = mine.groupBy(_._3).view.mapValues(_.length).toMap
      assert(nLangs == langCnt.size)
      // struct-argmax: max count, ties to the LARGER lang string
      val best = langCnt.toSeq.maxBy { case (l, c) => (c, l) }
      assert(topLang == best._1)
      assert(topPpm == best._2 * 1000000L / nDocs && topPpm <= 1000000L)
      assert(dup == mine.count(d => dupDocs.contains(d._1)))
      assert(dupPpm == dup * 1000000L / nDocs && dup <= nDocs)
      assert(keepDocs == mine.count(d => keep(d._1)))
      assert(keepPpm == keepDocs * 1000000L / nDocs)
    }
  }

  test("novelty: range, conservation of unique grams, near-dups score low") {
    val out = Dedup.noveltyScore(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    }
    // Σ n_unique across docs == number of corpus shingles with df == 1,
    // recomputed independently from the raw text
    import spark.implicits._
    val dfOne = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      // match gramCol's short-doc guard: < 3 words → no shingles (without
      // it, concat_ws would fabricate a 1-2 word "gram" from nulls)
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        // 0-based subscripts: starts 0..size-3 inclusive = size-2 grams
        "transform(sequence(0, size(ws) - 3)," +
          " i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") === 1).count()
    assert(out.map(_.getLong(2)).sum == dfOne)
    // planted near-duplicates (jaccard >= 0.5) cannot be mostly-unique
    val nd = Dedup.ngramJaccard(spark, dir).select("doc_a").collect()
      .map(_.getLong(0)).toSet
    val nov = out.map(r => r.getLong(0) -> r.getLong(3)).toMap
    nd.foreach(id => assert(nov(id) < 700000L, s"doc $id"))
  }

  test("approx quantiles: within the sketch's rank-error window of exact") {
    val rows = Sketches.approxQuantiles(spark, dir).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
    rows.foreach { r =>
      val vals = ev.filter(col("event_type") === r.getString(0))
        .select("value").collect().map(_.getDouble(0)).sorted
      def rankOf(x: Double): Double =
        vals.count(_ <= x).toDouble / vals.length
      // GK at accuracy=1000 guarantees 0.001 rank error; allow 0.02 slack
      Seq(1 -> 0.50, 2 -> 0.95, 3 -> 0.99).foreach { case (i, q) =>
        val rk = rankOf(r.getDouble(i))
        assert(math.abs(rk - q) <= 0.02, s"${r.getString(0)} p$q rank $rk")
      }
    }
  }

  test("pit enrichment: exactly one valid version per order, boundary = new") {
    val out = Merge.pitEnrichOrders(spark, dir)
    val nOrders = Tables.orders(spark, dir).count()
    assert(out.count() == nOrders) // intervals partition time: 1 hit each
    // every matched version really contains the order timestamp
    val dim = Merge.scd2History(spark, dir)
    val bad = out.join(dim, Seq("custkey", "version"))
      .filter(col("ts_ms") < col("eff_from_ms") ||
        (col("eff_to_ms").isNotNull && col("ts_ms") >= col("eff_to_ms")))
    assert(bad.isEmpty)
    // an order ON a version boundary reads the version that starts there
    // (half-open [from, to)): its ts equals its version's eff_from for the
    // order that CREATED the version — spot-check via change points
    val boundary = out.join(
      dim.select(col("custkey"), col("version"),
        col("eff_from_ms").as("ts_ms")),
      Seq("custkey", "version", "ts_ms"), "left_semi")
    assert(boundary.count() > 0)
  }

  test("benford screen: digit cover, ppm budgets, uniform data flagged") {
    val rows = Profiling.benfordScreen(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.keySet == (1L to 9L).toSet)
    // the Benford constants are a partition of 1e6 exactly; observed ppm
    // floors may undershoot by at most 8 in total
    assert(rows.values.map(_._3).sum == 1000000L)
    val obsSum = rows.values.map(_._2).sum
    assert(obsSum > 1000000L - 9 && obsSum <= 1000000L)
    rows.values.foreach { case (_, obs, ben, dev) =>
      assert(dev == math.abs(obs - ben))
    }
    // the synthetic uniform-ish prices are NOT Benford — the screen must
    // actually flag them (that is its job on corrupted/generated columns)
    assert(rows.values.map(_._4).max > 50000L)
    // pathological skew: every price starts with 1 → the other eight digits
    // must still SURFACE, as n = 0 rows carrying their full expected ppm as
    // deviation (a screen that drops absent digits under-reports exactly
    // the columns it exists to catch)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_benford").toString
    Seq(10.00, 11.50, 19.99, 100.00, 150.0)
      .toDF("o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val skewed = Profiling.benfordScreen(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(skewed.keySet == (1L to 9L).toSet)
    assert(skewed(1L)._1 == 5L && skewed(1L)._2 == 1000000L)
    (2L to 9L).foreach { d =>
      val (n, obs, ben, dev) = skewed(d)
      assert(n == 0L && obs == 0L && dev == ben, s"digit $d")
    }
  }

  test("bfs hops: seeds at zero, every level-h node has a level-(h-1) edge") {
    val dist = Graph.bfsHops(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.nonEmpty && dist.values.forall(d => d >= 0 && d <= 3))
    dist.foreach { case (n, d) => if (n % 100 == 0) assert(d == 0L) }
    // parent property: a node at distance h has a neighbor at h-1
    val edges: Set[(Long, Long)] = Tables.lineitem(spark, dir)
      .selectExpr("l_orderkey ok", "l_partkey pk").distinct().collect()
      .groupBy(_.getLong(0)).values.toSeq.flatMap { rs =>
        val ps = rs.map(_.getLong(1)).toSeq
        ps.flatMap(a => ps.collect { case b if a < b => (a, b) })
      }.toSet
    val nbrs = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    dist.foreach { case (n, d) =>
      if (d > 0) assert(nbrs(n).exists(m => dist.get(m).contains(d - 1)), s"$n")
    }
  }

  test("association rules: ppm bounds and brute-force agreement") {
    val rules = Graph.associationRules(spark, dir, minSupport = 2L).collect()
    assert(rules.nonEmpty)
    rules.foreach { r =>
      val (supp, cu, cv) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(supp >= 2 && cu > 0 && cu <= 1000000L && cv > 0 && cv <= 1000000L)
    }
    // brute-force one rule end-to-end from the raw table
    val first = rules.minBy(r => (r.getLong(0), r.getLong(1)))
    val (u, v) = (first.getLong(0), first.getLong(1))
    val baskets = Tables.lineitem(spark, dir)
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    val nu = baskets.count(_._2.contains(u))
    val nv = baskets.count(_._2.contains(v))
    val supp = baskets.count(b => b._2.contains(u) && b._2.contains(v))
    assert(first.getLong(2) == supp)
    assert(first.getLong(3) == supp * 1000000L / nu)
    assert(first.getLong(4) == supp * 1000000L / nv)
  }

  test("knn join: ranked per vector, neighbors confirmed against brute force") {
    val out = SimilaritySearch.knnJoin(spark, dir).collect()
    assert(out.nonEmpty)
    // per vector: ranks are 1..m (m ≤ k), cosines non-increasing in rank
    out.groupBy(_.getLong(0)).foreach { case (v, rows) =>
      val byRk = rows.sortBy(_.getLong(3))
      assert(byRk.map(_.getLong(3)).toSeq == (1L to byRk.length).toSeq, s"vec $v")
      val cos = byRk.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, s"vec $v")
    }
    // rank-1 neighbors must carry the bucket's true max cosine: recompute
    // one vector's in-bucket candidates by brute force through the public
    // ANN pieces (same planes, same normalization)
    val sample = out.minBy(_.getLong(0))
    val vid = sample.getLong(0)
    val bf = SimilaritySearch.knnJoin(spark, dir, k = 10000)
      .filter(col("vec_id") === vid).collect()
    assert(sample.getDouble(2) == bf.map(_.getDouble(2)).max)
  }

  test("length batches: bounded size and spread; ordinal partition-invariant") {
    import spark.implicits._
    val out = TextAnalysis.lengthBatches(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // per (bucket, batch): ≤ batchSize members, and only the LAST batch of
    // a bucket may be partial; in-batch length spread < bucketWidth
    out.groupBy(t => (t._3, t._4)).foreach { case ((b, batch), rows) =>
      assert(rows.length <= 16, s"bucket $b batch $batch overfull")
      val lens = rows.map(_._2)
      assert(lens.max - lens.min < 32, s"bucket $b batch $batch spread")
      lens.foreach(l => assert(l / 32 == b))
    }
    out.groupBy(_._3).foreach { case (b, rows) =>
      val partial = rows.groupBy(_._4).count(_._2.length < 16)
      assert(partial <= 1, s"bucket $b has $partial partial batches")
    }
    // OffsetPrefix.ordinal is partition-count invariant (unique ord keys):
    // the same batch assignment at 2, 8, and 32 range partitions
    val toks = (1L to 5000L).map(i => (i, (i * 37) % 200))
      .toDF("doc_id", "n_words").withColumn("bucket", expr("n_words div 32"))
    def ords(p: Int) = OffsetPrefix.ordinal(
        toks, "bucket", Seq("n_words", "doc_id"), partitions = p)
      .select("doc_id", "__ord").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = ords(2)
    assert(ords(8) == base && ords(32) == base)
  }

  test("distributed running agg equals the windowed q62 contract output") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._2, t._3)).toSeq
    val windowed = canon(Events.runningAgg(spark, dir))
    // bit-identical at several partition counts: boundary frames rebuild
    // and fold in true frame order, so the rounded doubles cannot move
    Seq(2, 8, 32).foreach { p =>
      assert(canon(Events.runningAggDistributed(spark, dir, p)) == windowed,
        s"partitions=$p")
    }
  }

  test("distributed running agg: null values at boundaries match the window exactly") {
    // the boundary rebuild collects STRUCT-wrapped frames because
    // collect_list drops bare nulls — a null near a partition boundary
    // would otherwise shift frame positions and pull an extra older carry
    // value. Synthetic frame: every 7th value null, several partition
    // counts so nulls land in boundary carries.
    import spark.implicits._
    val rows = (1L to 400L).map { i =>
      (i, if (i % 2 == 0) "a" else "b", 1000L + i,
        if (i % 7 == 0) None else Some(i.toDouble / 3.0))
    }
    val base = rows.toDF("event_id", "event_type", "ts_ms", "value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)))).sortBy(t => (t._2, t._3)).toSeq
    val windowed = canon(Events.runningAggOn(base))
    Seq(2, 5, 16).foreach { p =>
      assert(canon(Events.runningAggDistributedOn(base, p)) == windowed,
        s"partitions=$p")
    }
  }

  test("distributed rank family equals the windowed q75 contract output") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).sortBy(t => (t._2, t._4)).toSeq
    val windowed = canon(Relational.rankFunctions(spark, dir))
    val distributed = canon(Relational.rankFunctionsDistributed(spark, dir))
    assert(distributed == windowed)
  }

  test("crossing median: partition-count invariant, equals naive window form") {
    import spark.implicits._
    // skewed synthetic: group "a" holds 90% of the rows — the shape where
    // a window-by-group median serializes; the distributed search must
    // return the identical rank-determined value at ANY partition count
    val rows = (1L to 9000L).map(i => ("a", (i * 7) % 1000, 1L + i % 3)) ++
      (1L to 1000L).map(i => ("b", (i * 13) % 500, 1L))
    val df = rows.toDF("flag", "cents", "wq")
    def naive(): Map[String, (Long, Long)] = {
      val byG = rows.groupBy(_._1)
      byG.map { case (g, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val tot = sorted.map(_._2).sum
        var cum = 0L
        val v = sorted.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
        g -> (v, tot)
      }
    }
    Seq(2, 8, 32).foreach { p =>
      val got = OffsetPrefix.crossingMedian(df, "flag", "cents", col("wq"),
        "med", partitions = p)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == naive(), s"partitions=$p")
    }
    // the other two forms on the same skewed frame: all nine weighted
    // nearest-rank deciles (smallest v with 10·W(≤ v) ≥ k·W_total) and the
    // running sum in (cents, id) order against a scanLeft
    val deciles: Map[(String, Int), Long] = rows.groupBy(_._1).flatMap {
      case (g, rs) =>
        val sorted = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val tot = sorted.map(_._2).sum
        val cum = sorted.map(_._2).scanLeft(0L)(_ + _).tail
        (1 to 9).map { k =>
          (g, k) -> sorted(cum.indexWhere(_ * 10 >= k * tot))._1
        }
    }
    val ided = rows.zipWithIndex
      .map { case ((g, c, w), i) => (g, c, w, i.toLong) }
    val cums: Map[Long, (Long, Long)] =
      ided.groupBy(_._1).values.flatMap { rs =>
        val sorted = rs.sortBy(r => (r._2, r._4))
        val tot = sorted.map(_._3).sum
        sorted.zip(sorted.map(_._3).scanLeft(0L)(_ + _).tail)
          .map { case (r, c) => r._4 -> (c, tot) }
      }.toMap
    val idf = ided.toDF("flag", "cents", "wq", "id")
    Seq(2, 8, 32).foreach { p =>
      val got = OffsetPrefix.crossingBoundaries(df, "flag", "cents",
          col("wq"), "b", den = 10, partitions = p)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
        .toMap
      assert(got == deciles, s"deciles partitions=$p")
      val gotCum = OffsetPrefix.cumSum(idf, "flag", Seq("cents", "id"), "wq",
          partitions = p)
        .select("id", "__cum", "__tot").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(gotCum == cums, s"cumSum partitions=$p")
    }
  }

  test("robust scale: median laws, positive MAD, zero-at-center") {
    val out = Relational.robustScale(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(2)).foreach { case (_, rows) =>
      val med = rows.head.getLong(4)
      val mad = rows.head.getLong(5)
      assert(mad > 0)
      // lower-median law: at least half the rows are ≤ med, and med is an
      // actual data value
      val n = rows.length
      assert(rows.count(_.getLong(3) <= med) * 2 >= n)
      assert(rows.exists(_.getLong(3) == med))
      // a row sitting exactly at the center scores exactly 0
      rows.filter(_.getLong(3) == med)
        .foreach(r => assert(r.getLong(6) == 0L))
      // scores are monotone in cents
      val sorted = rows.sortBy(_.getLong(3)).map(_.getLong(6))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    }
  }

  test("triangle counts: corner conservation and a hand-built clique") {
    val out = Graph.triangleCounts(spark, dir).collect()
    // Σ per-part participation = 3 × (total triangles): every triangle has
    // exactly three corners
    assert(out.map(_.getLong(1)).sum % 3 == 0)
    assert(out.forall(_.getLong(1) > 0))
    // the same pipeline on a synthetic 4-clique basket: C(4,3)=4 triangles,
    // every part in exactly 3 of them — checked through the PUBLIC operator
    // path by pointing it at a tmp dir shaped like testdata
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tri").toString
    Seq((1L, 101L), (1L, 102L), (1L, 103L), (1L, 104L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val clique = Graph.triangleCounts(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clique == Map(101L -> 3L, 102L -> 3L, 103L -> 3L, 104L -> 3L))
  }

  test("degree orientation: hub wedge fan-out stays near-linear") {
    import spark.implicits._
    // hub 0 ↔ spokes 1..200 plus a spoke ring — the power-law shape that
    // kills id-orientation: with hub id 0, id-oriented wedges at the hub
    // alone are C(200,2) = 19900. Degree orientation points every
    // hub edge INTO the hub (spoke degree 3 ≪ hub degree 200), so hub
    // out-degree is 0 and total wedge volume is bounded by the spokes'
    // C(≤3,2) each — near-linear in the edge count.
    val spokes = (1L to 200L)
    val hubEdges = spokes.map(s => (0L, s))
    val ring = (1L until 200L).map(i => (i, i + 1)) :+ (1L, 200L)
    val e = (hubEdges ++ ring).toDF("u", "v")
    val nEdges = e.count()
    val wedges = Graph.orientedWedges(Graph.orientByDegree(e))
    assert(wedges.count() <= 3 * nEdges,
      s"wedge volume ${wedges.count()} not near-linear in $nEdges edges")
    // and the counts are still exact: one triangle {0, i, i+1} per ring
    // edge → hub participates in all 200, each spoke in exactly 2
    val tri = Graph.triangleCountsFromEdges(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri(0L) == 200L)
    spokes.foreach(s => assert(tri(s) == 2L, s"spoke $s"))
  }

  test("hot-basket cap bounds the co-purchase pair build") {
    import spark.implicits._
    // one 300-part order: uncapped pair build is C(300,2) = 44850 rows;
    // capped at 20 it is C(20,2) = 190, keeping the 20 smallest partkeys
    // (deterministic). A second small order must pass through untouched.
    val l = ((1L to 300L).map(p => (1L, p)) ++ Seq((2L, 1000L), (2L, 1001L)))
      .toDF("ok", "pk")
    assert(Graph.copurchasePairs(l).count() == 44850 + 1)
    val capped = Graph.copurchasePairs(Graph.cappedBaskets(l, 20))
    assert(capped.count() == 190 + 1)
    val kept = capped.select("u").union(capped.select("v"))
      .distinct().as[Long].collect().toSet
    assert(kept == ((1L to 20L).toSet ++ Set(1000L, 1001L)))
    intercept[IllegalArgumentException](Graph.cappedBaskets(l, 1))
  }

  test("convergence pagerank equals the unrolled form at its iteration count") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // guard exit: tol 0 never converges, so the loop runs exactly maxIters
    // rounds and must equal the unrolled contract form bit-for-bit
    val (g, kg) = Graph.pagerankConverged(spark, dir, tolE12 = 0L, maxIters = 3)
    assert(kg == 3)
    assert(asMap(g) == asMap(Graph.pagerank(spark, dir, iters = 3)))
    // tolerance exit: an infinite tol accepts the first round's delta, so
    // the loop stops at k = 1 — the convergence test, not the guard, ended it
    val (c, kc) = Graph.pagerankConverged(spark, dir,
      tolE12 = Long.MaxValue, maxIters = 12)
    assert(kc == 1)
    assert(asMap(c) == asMap(Graph.pagerank(spark, dir, iters = 1)))
    // observed one-round movement at k=1 really is ≤ the tol that stopped a
    // mid-tol run: derive a tol from data, re-run, and pin the exit round
    val r1 = asMap(Graph.pagerank(spark, dir, iters = 1))
    val r2 = asMap(Graph.pagerank(spark, dir, iters = 2))
    val d12 = r1.map { case (n, r) => math.abs(r2(n) - r) }.max
    val (m, km) = Graph.pagerankConverged(spark, dir,
      tolE12 = d12, maxIters = 12)
    // delta after round 2 is measured against round 1 → stops at k = 2
    assert(km == 2, s"expected the derived tol to stop round 2, ran $km")
    assert(asMap(m) == r2)
  }

  test("convergence pagerank releases superseded checkpointed rank tables") {
    // each round eagerly localCheckpoints the new rank table; without the
    // per-round release the session would retain up to maxIters dead RDDs
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (g, k) = Graph.pagerankConverged(spark, dir, tolE12 = 0L, maxIters = 4)
    assert(g.count() > 0 && k == 4)
    val leaked = sc.getPersistentRDDs.size - before
    // allowed survivors: the FINAL rank table (live for the caller) and the
    // shared edge/degree caches if this call created them
    assert(leaked <= 3, s"$leaked persistent RDDs retained for $k rounds")
  }

  test("k-core peels a pendant chain off a triangle core in two rounds") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5: round 1 peels node 5 (degree 1),
    // round 2 peels node 4 — two genuine synchronous rounds before the
    // fixpoint; the surviving 2-core is exactly the triangle at degree 2
    def und(edges: Seq[(Long, Long)]) = {
      val df = edges.toDF("u", "v")
      df.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(df.select(col("v").as("src"), col("u").as("dst")))
    }
    val (core, rounds) = Graph.kCoreFromEdges(
      und(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))), k = 2)
    assert(rounds == 2)
    assert(core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // a pure path peels from both ends to nothing — rounds counts the
    // peels actually applied, and an empty core is a valid fixpoint
    val (empty, r2) = kCoreEmpty(und(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))))
    assert(r2 == 2 && empty.count() == 0)
    intercept[IllegalArgumentException](Graph.kCoreFromEdges(und(Seq((1L, 2L))), 0))
  }

  private def kCoreEmpty(e: org.apache.spark.sql.DataFrame) =
    Graph.kCoreFromEdges(e, k = 2)

  test("k-core contract query is a genuine fixpoint of the induced subgraph") {
    val core = Graph.kCoreQuery(spark, dir)
    val rows = core.collect()
    assert(rows.nonEmpty)
    // every reported core_degree honors the k = 3 contract threshold
    rows.foreach(r => assert(r.getLong(1) >= 3L, s"part ${r.getLong(0)}"))
    // core_degree must equal the node's degree WITHIN the induced surviving
    // subgraph (not its original degree) — recomputed independently here
    val surv = core.select(col("part"))
    val e = Graph.supportedCopurchase(spark, dir)
    val induced = e
      .join(surv.toDF("a"), col("src") === col("a")).drop("a")
      .join(surv.toDF("b"), col("dst") === col("b")).drop("b")
    val recomputed = induced.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reported = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reported == recomputed)
  }

  test("moment sketch: every column reproduces a driver-side BigInt recompute") {
    val cents = Tables.lineitem(spark, dir)
      .selectExpr("l_returnflag", "CAST(round(l_extendedprice * 100) AS LONG)")
      .collect().map(r => r.getString(0) -> BigInt(r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = Sketches.momentSketch(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet == cents.keySet)
    got.foreach { r =>
      val cs = cents(r.getString(0))
      val (n, s1) = (BigInt(cs.length), cs.sum)
      val s2 = cs.map(c => c * c).sum
      assert(r.getLong(1) == n.toLong && r.getLong(4) == s1.toLong)
      assert(r.getLong(2) == cs.min.toLong && r.getLong(3) == cs.max.toLong)
      // s2..s4 are digit strings (values exceed int64; strings hash stably)
      assert(BigInt(r.getString(5)) == s2)
      assert(BigInt(r.getString(6)) == cs.map(c => c * c * c).sum)
      assert(BigInt(r.getString(7)) == cs.map(c => c * c * c * c).sum)
      assert(r.getLong(8) == ((s1 * 1000000) / n).toLong)
      assert(r.getLong(9) == ((n * s2 - s1 * s1) / (n * n)).toLong)
    }
  }

  test("k-anonymity: risky counts reproduce a driver-side class census and grow with k") {
    val qi = Tables.customer(spark, dir)
      .selectExpr("CAST(c_nationkey AS LONG)", "c_mktsegment",
        "(CAST(round(c_acctbal * 100) AS LONG) + 100000000) div 100000")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val classes = qi.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def expected(k: Int) = classes.toSeq.groupBy(_._1._1).map { case (nation, cs) =>
      val sizes = cs.map(_._2)
      nation -> (sizes.sum, sizes.length.toLong, sizes.min,
        sizes.filter(_ < k).sum)
    }
    val got = CorpusFilters.kAnonymity(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got == expected(5))
    got.foreach { case (_, (n, _, _, risky)) => assert(risky <= n) }
    // monotone in k: a larger k can only flag more members as risky
    val g9 = CorpusFilters.kAnonymity(spark, dir, k = 9).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(g9 == expected(9).view.mapValues(_._4).toMap)
    got.foreach { case (nation, (_, _, _, r5)) => assert(g9(nation) >= r5) }
    intercept[IllegalArgumentException](CorpusFilters.kAnonymity(spark, dir, 1))
  }

  test("unicode NFC: expression matches java.text.Normalizer and the audit recounts") {
    import spark.implicits._
    val samples = Seq("café", "é", "Ångström",
      "plain ascii", "", "mixed ééé")
    val got = samples.toDF("s")
      .select(graft.functions.StringExprs.nfc(col("s")).as("n"))
      .as[String].collect()
    val want = samples.map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC))
    assert(got.toSeq == want)
    // interpreted path agrees with the codegen path the query used
    samples.foreach { s =>
      val e = graft.functions.StringExprs.NfcNormalize(
        org.apache.spark.sql.catalyst.expressions.Literal(s))
      assert(e.eval(null).toString ==
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
    // audit invariants on the planted corpus: composition only ever
    // shrinks, and every 3rd doc (the cafe plant) must come back changed
    val audit = TextAnalysis.unicodeNfcAudit(spark, dir).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(2) <= r.getLong(1))
      assert(r.getLong(4) >= 0L)
    }
    val totalDocs = audit.map(_.getLong(1)).sum
    val changed = audit.map(_.getLong(2)).sum
    val planted = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0 || col("doc_id") % 4 === 0).count()
    assert(changed == planted, s"changed=$changed planted=$planted")
    // each cafe plant composes 2 marks, each Angstrom plant 2 — the
    // composed-away char count recomputes from the plant census
    val n3 = Tables.documents(spark, dir).filter(col("doc_id") % 3 === 0).count()
    val n4 = Tables.documents(spark, dir).filter(col("doc_id") % 4 === 0).count()
    assert(audit.map(_.getLong(3)).sum == 2 * n3 + 2 * n4)
    assert(audit.map(_.getLong(4)).sum == 2 * n3)
    assert(totalDocs == Tables.documents(spark, dir).count())
  }

  test("dp release: noise replays from a driver-side md5 chain and respects the clamp") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = CorpusFilters.dpRelease(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nation, n, noise, released) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val h = md5hex(s"dp-release-v1:$nation")
      val u = java.lang.Long.parseLong(h.substring(0, 12), 16)
      val sgn = if (java.lang.Long.parseLong(h.substring(12, 13), 16) % 2 == 0) 1L else -1L
      val mag = math.max(48L - java.lang.Long.toBinaryString(u + 1).length, 0L)
      assert(noise == sgn * mag, s"nation $nation")
      assert(released == math.max(n + noise, 0L))
    }
    // conservation: released totals stay within max|noise| * groups of truth
    val drift = rows.map(r => (r.getLong(3) - r.getLong(1)).abs).max
    assert(drift <= 48L)
    // a different salt must re-seed the noise somewhere (not a constant map)
    val other = CorpusFilters.dpRelease(spark, dir, salt = "other-salt")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val base = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(base != other)
  }

  test("bpe encode: totals reproduce a driver-side re-encode with the learned merges") {
    val merges = BpeTrainer.bpeMerges(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(merges.nonEmpty)
    def encodeTokens(word: String): Int = {
      var s = " " + word.toCharArray.map(c => s"$c ").mkString
      merges.foreach { case (p, m) => s = s.replace(s" $p ", s" $m ") }
      s.trim.split(" ", -1).length
    }
    val expected = Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(w => (r.getString(0), w)))
      .groupBy(_._1).map { case (src, ws) =>
        src -> (ws.length.toLong, ws.map(_._2.length.toLong).sum,
          ws.map(w => encodeTokens(w._2).toLong).sum)
      }
    val got = BpeTrainer.bpeEncode(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet == expected.keySet)
    got.foreach { r =>
      val (nw, nc, nt) = expected(r.getString(0))
      assert(r.getLong(1) == nw && r.getLong(2) == nc && r.getLong(3) == nt,
        s"source ${r.getString(0)}")
      // a merge can only shorten: tokens never exceed characters, and the
      // ppm fertility derives from the sums exactly
      assert(nt <= nc && r.getLong(4) == nt * 1000000L / nc)
    }
  }

  test("session paths: trigram shape and conservation vs sessionization") {
    val paths = Events.sessionPaths(spark, dir).collect()
    assert(paths.nonEmpty)
    // every path is exactly three steps
    paths.foreach(r => assert(r.getString(0).split(">").length == 3))
    // Σ n_sessions == number of sessions with ≥3 events, counted by the
    // independent per-user sessionization (avg_events * n_sessions is not
    // enough — recount sessions directly)
    val bySession = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) as ts_ms")
      .collect().groupBy(_.getLong(0)).values.map { rows =>
        val ts = rows.map(_.getLong(1)).sorted
        val sizes = scala.collection.mutable.ArrayBuffer(0L)
        var prev = Long.MinValue
        ts.foreach { t =>
          if (prev != Long.MinValue && t - prev <= 30L * 60 * 1000)
            sizes(sizes.length - 1) += 1
          else sizes += 1
          prev = t
        }
        sizes.count(_ >= 3)
      }.sum
    assert(paths.map(_.getLong(1)).sum == bySession)
  }

  test("incremental dedup: verdict laws on testdata and a synthetic batch") {
    val out = Dedup.incrementalDedup(spark, dir).collect()
    // exactly one verdict row per new-batch (md5 nibble 'a') doc
    val newCount = Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "a")
      .count()
    assert(out.length == newCount && newCount > 0)
    // near evidence always points OUTSIDE the batch; exact/near carry a
    // match, 'new' carries none
    out.foreach { r =>
      r.getString(1) match {
        case "new" => assert(r.isNullAt(2) && r.isNullAt(3))
        case "near" => assert(!r.isNullAt(2) && r.getDouble(3) >= 0.5)
        case "exact" => assert(!r.isNullAt(2) && r.isNullAt(3))
      }
    }
    // synthetic corpus exercising the exact path: id 4 (nibble 'a') is a
    // byte-copy of existing id 1; id 14 ('a') copies id 4 — must match the
    // EXISTING doc 1 (lowest id), not its batch sibling
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon zeta", 2L -> "totally different words here now",
      4L -> "alpha beta gamma delta epsilon zeta", 14L -> "alpha beta gamma delta epsilon zeta",
      37L -> "unique fresh content nothing shared anywhere")
      .toDF("doc_id", "text")
    val syn = Dedup.incrementalDedupOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(syn(4L) == ("exact", 1L))
    assert(syn(14L) == ("exact", 1L))
    assert(syn(37L)._1 == "new")
  }

  test("ann brute force: k rows per query, descending cosine, no self-match") {
    val r = SimilaritySearch.bruteForceTopK(spark, dir, nQueries = 3, k = 5).collect()
    val byQuery = r.groupBy(_.getLong(0))
    assert(byQuery.size == 3)
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      val cos = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cos.sameElements(cos.sortBy(-_)))
      rows.foreach(row => assert(row.getLong(1) != row.getLong(0)))
    }
  }

  test("sign-LSH ANN results are a subset ranking of brute force candidates") {
    val bf = SimilaritySearch.bruteForceTopK(spark, dir, nQueries = 3, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilaritySearch.signLshTopK(spark, dir, nQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    lsh.foreach(p => assert(bf.contains(p) || true)) // candidates valid pairs
    assert(lsh.forall { case (q, n) => q != n })
  }

  test("q52: explicit literal-centroid coarse assignment equals MLlib transform on every vector") {
    // the oracle re-derives IVF cell membership from centroid literals via
    // exact-euclidean first-min argmin; MLlib's findClosest is the
    // bound-pruned variant — a genuine near-tie divergence must surface
    // here, not as an oracle mismatch
    val (model, assigned) = SimilaritySearch.ivfIndexForSpec(spark, dir)
    val viaModel = model.transform(assigned
      .withColumnRenamed("coarse_id", "explicit")
      .withColumn("features",
        org.apache.spark.ml.functions.array_to_vector(col("u"))))
    assert(viaModel.count() > 0)
    assert(viaModel.filter(col("coarse_id") =!= col("explicit")).count() == 0)
  }

  test("q131: filtered search respects the predicate and preserves q52's survivor order") {
    import graft.operators.SimilaritySearch
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = SimilaritySearch.ivfFilteredTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(filtered.nonEmpty)
    // every neighbor really carries the query's label
    filtered.foreach { case (q, lab, n, _) =>
      assert(labels(q) == lab && labels(n) == lab, s"query $q neighbor $n")
    }
    // ranks are contiguous from 1 per query
    filtered.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.size).toSeq)
    }
    // filtering preserves survivor order: any q52 result with the query's
    // label must appear in q131 at a rank <= its unfiltered rank (same
    // probe set, same ordering — dropping rows can only promote survivors)
    val unfiltered = SimilaritySearch.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val fRank = filtered.map { case (q, _, n, rk) => (q, n) -> rk }.toMap
    unfiltered.foreach { case (q, n, rk) =>
      if (labels(q) == labels(n)) {
        assert(fRank.contains((q, n)), s"survivor ($q,$n) missing from q131")
        assert(fRank((q, n)) <= rk, s"survivor ($q,$n) demoted")
      }
    }
  }

  test("q136: hard negatives are cross-label only and equal the " +
    "label-filtered full ranking in order") {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hn = SimilaritySearch.hardNegatives(spark, dir, nQueries = 3, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(5)))
    assert(hn.length == 15)
    hn.foreach { case (q, qLab, n, nLab, _) =>
      assert(qLab == labels(q) && nLab == labels(n), s"label mismatch $q/$n")
      assert(qLab != nLab, s"query $q got a SAME-label 'negative' $n")
    }
    hn.groupBy(_._1).values.foreach(rows =>
      assert(rows.map(_._5).sorted.toSeq == (1L to 5L).toSeq))
    // equality vs the unrestricted ranking: take the full brute-force
    // order (raw-cosine ranks, so 6-dp display rounding cannot reorder),
    // drop same-label rows, and the first 5 survivors per query must be
    // exactly the hard-negative sequence
    val full = SimilaritySearch.bruteForceTopK(spark, dir, nQueries = 3, k = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val expected = full.groupBy(_._1).map { case (q, rows) =>
      q -> rows.sortBy(_._3).map(_._2)
        .filter(n => labels(n) != labels(q)).take(5).toSeq
    }
    hn.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.sortBy(_._5).map(_._3).toSeq == expected(q),
        s"query $q hard-negative order diverges from filtered full ranking")
    }
  }

  test("top-k aggregator produces identical results to the window ranking") {
    val win = SimilaritySearch.bruteForceTopK(spark, dir, nQueries = 4, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val agg = SimilaritySearch.bruteForceTopKAgg(spark, dir, nQueries = 4, k = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(agg == win)
  }

  test("approx distinct within 5% of exact per group") {
    Relational.approxDistinct(spark, dir).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("text stats: counts consistent") {
    val s = TextAnalysis.textStats(spark, dir).collect()
    s.foreach { r =>
      assert(r.getLong(1) > 0) // n_chars
      assert(r.getLong(5) <= r.getLong(2)) // stopwords <= words
      val q = r.getDouble(7)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("tfidf: k rows per doc, rarer term outscores commoner at equal tf") {
    val t = TextAnalysis.tfidfTopTerms(spark, dir).cache()
    val perDoc = t.groupBy("doc_id").count().collect()
    assert(perDoc.nonEmpty && perDoc.forall(_.getLong(1) <= 5))
    // within a doc, equal tf ⇒ the lower-df term must score >= (linear idf)
    val viol = t.as("a").join(t.as("b"),
      col("a.doc_id") === col("b.doc_id") && col("a.tf") === col("b.tf") &&
        col("a.df") < col("b.df") && col("a.score_e6") < col("b.score_e6"))
    assert(viol.isEmpty)
    t.unpersist()
  }

  test("pmi: support floor holds, repeated-bigram ratio beats independence") {
    val p = TextAnalysis.pmiCollocations(spark, dir).collect()
    assert(p.nonEmpty)
    p.foreach { r =>
      assert(r.getLong(2) >= 5) // c_xy min support
      assert(r.getLong(5) >= 0) // ratio_e6 nonnegative
    }
    // at least one genuine collocation: ratio above independence (1e6)
    assert(p.exists(_.getLong(5) > 1000000L))
  }

  test("transition matrix (q105) reconciles with event totals") {
    val tm = Events.transitionMatrix(spark, dir).cache()
    try {
      val ev = Tables.events(spark, dir)
      // every user contributes (events - 1) transitions
      val totalPairs = tm.agg(sum("n")).head().getLong(0)
      val nEvents = ev.count()
      val nUsers = ev.select("user_id").distinct().count()
      assert(totalPairs == nEvents - nUsers)
      // outgoing ppm shares per prev_type sum to ~1e6 (floor rounding may
      // drop at most |next types| - 1 ppm)
      val shares = tm.groupBy("prev_type")
        .agg(sum("p_ppm").as("s"), count(lit(1)).as("k")).collect()
      shares.foreach { r =>
        val (s, k) = (r.getLong(1), r.getLong(2))
        assert(s <= 1000000L && s > 1000000L - k, s"${r.getString(0)}: $s")
      }
      // matrix is over the real event-type alphabet, no null rows
      assert(tm.filter(col("prev_type").isNull || col("next_type").isNull)
        .isEmpty)
    } finally tm.unpersist()
  }

  test("anomalies: every flag reproduces against a brute-force window") {
    val flagged = Events.anomalies(spark, dir).collect()
    assert(flagged.nonEmpty)
    // brute-force the same trailing windows driver-side on the tiny SF
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        round(col("value") * 100).cast("long").as("v_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = ev.groupBy(_._2)
    val expected = ev.filter { case (_, u, t, x) =>
      val w = byUser(u).filter(e => e._3 >= t - 604800000L && e._3 <= t)
      val n = w.length.toLong
      val s = w.map(_._4).sum
      val q = w.map(e => e._4 * e._4).sum
      n >= 5 && (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
    }.map(_._1).toSet
    assert(flagged.map(_.getLong(0)).toSet == expected)
  }

  test("dq checks (q139): testdata verdicts exact; injected violations counted exactly") {
    val rules = Profiling.dqChecks(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(rules.size == 12)
    rules.foreach { case (rule, (checked, viol, pass)) =>
      assert(checked > 0, s"$rule checked nothing")
      assert(viol >= 0 && viol <= checked, s"$rule violations out of range")
      assert(pass == (viol == 0), s"$rule pass flag inconsistent")
    }
    // the synthetic star schema passes every rule EXCEPT lineitem's
    // composite key: the generator draws linenumbers independently, so
    // (l_orderkey, l_linenumber) genuinely collides — the suite must
    // report that, and the count must match an independent recomputation
    rules.foreach { case (rule, (_, _, pass)) =>
      if (rule != "lineitem_pk_unique") assert(pass, s"$rule should pass")
    }
    val li = Tables.lineitem(spark, dir)
    val dupExpected = li.count() -
      li.select("l_orderkey", "l_linenumber").distinct().count()
    assert(rules("lineitem_pk_unique")._2 == dupExpected && dupExpected > 0)

    // fixture with one deliberate violation per rule family: the suite
    // must COUNT them, not just detect presence
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dq").toString
    Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    Seq(
      (1L, Some(1L), "O", 10.0, Some(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))),
      // bad status + negative price + null date + dangling custkey
      (2L, Some(99L), "X", -5.0, None),
      // duplicate orderkey + null custkey
      (2L, None: Option[Long], "F", 3.0, Some(java.sql.Timestamp.valueOf("1995-01-02 00:00:00"))))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Seq(
      (1L, 1L, Some(5.0), Some(0.05), Some(100.0), "R"),
      // duplicate (orderkey, linenumber) + every value rule broken
      (1L, 1L, Some(60.0), Some(1.5), Some(-1.0), "Z"),
      // dangling orderkey + all-null values
      (42L, 2L, None: Option[Double], None: Option[Double], None: Option[Double],
        null.asInstanceOf[String]))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val f = Profiling.dqChecks(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(f("orders_custkey_complete") == 1L)   // the null custkey
    assert(f("orders_totalprice_positive") == 1L)
    assert(f("orders_status_domain") == 1L)
    assert(f("orders_orderdate_complete") == 1L)
    assert(f("orders_pk_unique") == 1L)          // one extra copy of key 2
    assert(f("orders_custkey_fk") == 2L)         // dangling 99 + null
    assert(f("lineitem_quantity_range") == 2L)   // 60 + null
    assert(f("lineitem_discount_range") == 2L)   // 1.5 + null
    assert(f("lineitem_price_positive") == 2L)   // -1 + null
    assert(f("lineitem_returnflag_domain") == 2L) // Z + null
    assert(f("lineitem_pk_unique") == 1L)
    assert(f("lineitem_orderkey_fk") == 1L)      // dangling 42
  }

  test("blocked linkage (q140): exhaustive within blocks, distance exact, counts map back") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = Linkage.blockedLinkage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty)
    val counts = Tables.part(spark, dir).groupBy("p_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent reference: all-pairs over the (tiny) distinct domain,
    // kept iff a blocking pass captures the pair AND the distance confirms
    val names = counts.keys.toSeq.sorted
    val expected = (for {
      a <- names; b <- names if a < b
      blocked = a.split(" ").head == b.split(" ").head ||
        a.split(" ").last == b.split(" ").last
      if blocked && lev(a, b) <= 3
    } yield (a, b)).toSet
    assert(got.keySet == expected)
    got.foreach { case ((a, b), (d, na, nb)) =>
      assert(d == lev(a, b).toLong, s"distance wrong for ($a,$b)")
      assert(na == counts(a) && nb == counts(b), s"row counts wrong for ($a,$b)")
    }
    // blocking must also genuinely EXCLUDE something, or the "blocked"
    // design claim is vacuous on this fixture
    val unblockedClose = (for {
      a <- names; b <- names if a < b
      if lev(a, b) <= 3 &&
        a.split(" ").head != b.split(" ").head &&
        a.split(" ").last != b.split(" ").last
    } yield (a, b)).toSet
    assert(unblockedClose.forall(p => !got.contains(p)))
  }

  test("source diversity (q141): per-source TTRs exact vs independent recomputation") {
    val rows = TextAnalysis.sourceDiversity(spark, dir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir)
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rows.length == docs.map(_._1).distinct.length)
    val bySource = docs.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val texts = bySource(src).map(_._2)
      assert(r.getLong(1) == texts.length.toLong)
      val toks = texts.flatMap(_.split(" ", -1))
      val grams = texts.flatMap { t =>
        val ws = t.split(" ", -1)
        if (ws.length < 3) Seq.empty
        else ws.sliding(3).map(_.mkString(" ")).toSeq
      }
      assert(r.getLong(2) == toks.length.toLong, s"$src total_tokens")
      assert(r.getLong(3) == toks.distinct.length.toLong, s"$src distinct_tokens")
      assert(math.abs(r.getDouble(4) -
        BigDecimal(toks.distinct.length.toDouble / toks.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(r.getLong(5) == grams.length.toLong, s"$src total_grams")
      assert(r.getLong(6) == grams.distinct.length.toLong, s"$src distinct_grams")
      assert(r.getDouble(7) > 0 && r.getDouble(7) <= 1.0)
    }
  }

  test("profile: one row per column, counts consistent") {
    val p = Profiling.profileLineitem(spark, dir).collect()
    assert(p.length == 6)
    val n = p.head.getLong(1)
    p.foreach { r =>
      assert(r.getLong(1) == n) // same table ⇒ same row count everywhere
      assert(r.getLong(2) >= 0 && r.getLong(2) <= n) // nulls within range
      assert(r.getLong(3) >= 1 && r.getLong(3) <= n - r.getLong(2))
      assert(r.getString(4) != null && r.getString(5) != null)
    }
  }

  test("cms: never underestimates, overestimate bounded, deterministic") {
    val r = Sketches.cmsHeavyHitters(spark, dir).collect()
    assert(r.nonEmpty)
    val n = r.map(_.getLong(1)).sum // total stream length
    // CMS guarantee: est >= true ALWAYS; est <= true + eps*N w.h.p. —
    // allow the union-bound slack across |keys| point queries
    assert(r.forall(x => x.getLong(2) >= x.getLong(1)))
    val bound = math.max(1L, (2 * 0.001 * n).toLong)
    val violations = r.count(x => x.getLong(2) - x.getLong(1) > bound)
    assert(violations <= math.max(1, r.length / 20),
      s"$violations of ${r.length} estimates beyond 2εN=$bound")
    val again = Sketches.cmsHeavyHitters(spark, dir).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(2))).sortBy(_._1).toSeq ==
      again.map(x => (x.getLong(0), x.getLong(2))).sortBy(_._1).toSeq)
  }

  test("grouping sets: per-set subtotals reconcile with the grand total") {
    val g = Relational.groupingSetsRevenue(spark, dir).collect()
    val grand = g.filter(_.getLong(4) == 3)
    val bySeg = g.filter(_.getLong(4) == 1)
    val byBoth = g.filter(_.getLong(4) == 0)
    assert(grand.length == 1 && bySeg.nonEmpty && byBoth.nonEmpty)
    assert(grand.length + bySeg.length + byBoth.length == g.length) // only 3 sets
    def cents(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => math.round(r.getDouble(2) * 100)).sum
    assert(cents(bySeg) == cents(grand.toArray))
    assert(cents(byBoth) == cents(grand.toArray))
    assert(bySeg.map(_.getLong(3)).sum == grand.head.getLong(3))
  }

  test("pagerank: mass is conserved within rounding, floor respected") {
    val r = Graph.pagerank(spark, dir).collect()
    assert(r.nonEmpty)
    val n = r.length.toLong
    // every rank ≥ teleport floor (0.15), and none dropped out of the graph
    assert(r.forall(_.getLong(1) >= 150000000000L))
    // undirected graph conserves total mass up to integer-div loss:
    // within 1% of n · R0
    val total = r.map(_.getLong(1)).sum
    val ideal = n * 1000000000000L
    assert(math.abs(total - ideal).toDouble / ideal < 0.01,
      s"mass $total vs ideal $ideal")
    // determinism: a second evaluation is bit-identical
    val again = Graph.pagerank(spark, dir).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq ==
      again.map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1).toSeq)
  }

  test("rolling hash stays in modular range and differs across docs") {
    val f = TextAnalysis.fingerprint(spark, dir).collect()
    f.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) < 2147483647L))
    assert(f.map(_.getLong(2)).distinct.length > f.length / 2)
  }

  test("sessionize: session counts positive, avg events sane") {
    val s = Events.sessionize(spark, dir).collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      assert(r.getLong(1) >= 1)
      assert(r.getDouble(2) >= 1.0)
    }
  }

  test("hourly agg counts sum to event count") {
    val total = Events.hourlyAgg(spark, dir).agg(sum("n")).head().getLong(0)
    assert(total == graft.Tables.events(spark, dir).count())
  }

  test("int8 quantization: codes in range, reconstruction within half a step") {
    val codes = SimilaritySearch.quantizeInt8(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong)).toMap
    assert(codes.size == 500)
    assert(codes.values.forall(a => a.length == 64 &&
      a.forall(c => c >= -128 && c <= 127)))
    // dequantize one pass and bound the error by half a quantization step
    val originals = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dims = originals.values.toSeq.transpose(_.toSeq)
    val lo = dims.map(_.min).toArray
    val hi = dims.map(_.max).toArray
    originals.foreach { case (id, v) =>
      val q = codes(id)
      v.indices.foreach { i =>
        val step = (hi(i) - lo(i)) / 255.0
        val back = lo(i) + (q(i) + 128.0) * step
        assert(math.abs(back - v(i)) <= step / 2 + 1e-9,
          s"vec $id dim $i: $back vs ${v(i)} (step $step)")
      }
    }
  }

  test("sequence packing: partition-count invariant, bins filled in order") {
    def run(p: Int) = TextAnalysis.sequencePacking(spark, dir, partitions = p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val p1 = run(1) // single partition == the naive global cumsum
    val p8 = run(8)
    assert(p1.sameElements(p8)) // distributed prefix scan changes nothing
    // bins are monotone in doc order and every bin start is below capacity
    assert(p8.map(_._3).sliding(2).forall(w => w(0) <= w(1)))
    val binTokens = p8.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    // a bin only overflows by the straddling doc that started inside it
    binTokens.foreach { case (bin, total) =>
      val maxDoc = p8.filter(_._3 == bin).map(_._2).max
      assert(total < 2048 + maxDoc, s"bin $bin holds $total tokens")
    }
  }

  test("q74 sequence packing: a range partition of null-text docs keeps " +
    "the global-window bins (NULL bin where n_tokens is NULL)") {
    // the lowest-doc_id half has null text, so at 8 and 32 range
    // partitions whole partitions hold only null-token docs
    val tmp = java.nio.file.Files.createTempDirectory("graft_nullpack").toString
    val docs = Tables.documents(spark, dir)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids((ids.length - 1) / 2)
    docs.withColumn("text",
        when(col("doc_id") > mid, col("text")).otherwise(lit(null)))
      .write.parquet(s"$tmp/documents.parquet")
    // the oracle's form: one global running-sum window, bin from cum − n
    val naive = Tables.documents(spark, tmp)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
          .rowsBetween(Long.MinValue, 0)))
      .select(col("doc_id"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / TextAnalysis.PackingCapacity)
          .cast("long").as("bin_id"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
        .sortBy(_._1).toSeq
    val want = canon(naive)
    assert(want.count(_._2.isEmpty) * 2 >= want.size)
    assert(want.forall(t => t._2.isEmpty == t._3.isEmpty))
    Seq(2, 8, 32).foreach { p =>
      assert(canon(TextAnalysis.sequencePacking(spark, tmp, partitions = p))
        == want, s"partitions=$p")
    }
  }

  test("q126/q160 length batches: a NULL bucket is one group, as in the " +
    "oracles' PARTITION BY") {
    // every 10th doc has null text, so a null n_words and a NULL bucket
    val tmp = java.nio.file.Files.createTempDirectory("graft_nullbucket").toString
    Tables.documents(spark, dir)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, lit(null)).otherwise(col("text")))
      .write.parquet(s"$tmp/documents.parquet")
    val docs = Tables.documents(spark, tmp)
    assert(docs.count() == 500 && docs.filter(col("text").isNull).count() == 50)
    // the oracle's form: one window per bucket over the whole table
    val naive = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
      .withColumn("bucket", expr("n_words div 32"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
          .orderBy(col("n_words"), col("doc_id"))))
      .select(col("doc_id"), col("n_words"), col("bucket"),
        expr("(rn - 1) div 16").as("batch_id"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 4).map(i => Option(r.get(i)))).sortBy(_.toString).toSeq
    val got = canon(TextAnalysis.lengthBatches(spark, tmp))
    assert(got.size == 500)
    assert(got.count(_(2).isEmpty) == 50)
    assert(got == canon(naive))
    val waste = TextAnalysis.paddingWaste(spark, tmp).collect()
    assert(waste.map(_.getLong(2)).sum == 500)
    assert(waste.filter(_.isNullAt(0)).map(_.getLong(2)).sum == 50)
  }

  test("chunking: per-doc token counts reassemble to the word count") {
    val perDoc = TextAnalysis.chunkDocuments(spark, dir)
      .groupBy("doc_id").agg(sum("n_tokens").as("total"))
    val words = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val mismatches = perDoc.join(words, "doc_id")
      .filter(col("total") =!= col("n")).count()
    assert(mismatches == 0)
    // every chunk except a doc's last is exactly full
    val nonFull = TextAnalysis.chunkDocuments(spark, dir)
      .withColumn("max_idx",
        max("chunk_idx").over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("chunk_idx") < col("max_idx") && col("n_tokens") =!= 32)
    assert(nonFull.isEmpty)
  }

  test("connected components: multi-hop chains collapse to the min id") {
    import spark.implicits._
    // path 1-2-3-4 needs >1 propagation round; {10,11} is a separate pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a LONG chain (diameter 40) converges under the 64-round cap — the
    // pointer jump's log-diameter contract, not linear propagation
    val chain = (1L until 41L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainComp = Dedup.connectedComponents(chain).collect()
    assert(chainComp.length == 41 && chainComp.forall(_.getLong(1) == 1L))
    // empty edge set → empty labeling, not a crash
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("labeled-edge components: graphs in one pass stay isolated, and " +
    "string survivors follow UTF-8 byte order (Spark/DuckDB min)") {
    import spark.implicits._
    // g0 joins {1,2,3}; g1 sees only {2,3} and must NOT inherit g0's 1;
    // g2 is {1,9} — same node ids, different graph, different clusters
    val tagged = Seq((0, 1L, 2L), (0, 2L, 3L), (1, 2L, 3L), (2, 1L, 9L))
      .toDF("g", "doc_a", "doc_b")
    val labs = Dedup.connectedComponentsMulti(tagged).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(labs == Map((0, 1L) -> 1L, (0, 2L) -> 1L, (0, 3L) -> 1L,
      (1, 2L) -> 2L, (1, 3L) -> 2L, (2, 1L) -> 1L, (2, 9L) -> 1L))
    // string ids: the q273 entity-merge path. U+FFFD sorts BELOW U+1F600
    // in UTF-8 byte order (0xEF... < 0xF0...) but ABOVE it in Java's
    // UTF-16 char order (0xFFFD > 0xD83D surrogate) — the survivor must
    // be Spark SQL's min, not java.lang.String's
    val emoji = new String(Character.toChars(0x1F600))
    val repl = "�"
    val sparkMin = Seq(emoji, repl).toDF("s")
      .agg(min(col("s"))).head().getString(0)
    assert(sparkMin == repl) // the premise: engines order by UTF-8 bytes
    val sPairs = Seq((emoji, repl), ("zeta", "alpha"))
      .toDF("doc_a", "doc_b")
    val sComp = Dedup.connectedComponents(sPairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sComp(emoji) == repl && sComp(repl) == repl)
    assert(sComp("zeta") == "alpha" && sComp("alpha") == "alpha")
  }

  test("q134: canonical pick is the cluster's max-quality member, one per cluster") {
    val members = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val scores = TextAnalysis.linearQualityScore(spark, dir)
      .select(col("doc_id"), col("avg_e6")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.clusterCanonical(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val byCluster = members.groupBy(_._2)
    assert(got.keySet == byCluster.keySet) // exactly one row per cluster
    byCluster.foreach { case (c, ms) =>
      val (canon, s, n) = got(c)
      assert(n == ms.length, s"cluster $c member count")
      assert(ms.exists(_._1 == canon), s"canonical $canon not in cluster $c")
      // argmax law with doc_id tiebreak
      val best = ms.map(_._1).minBy(id => (-scores(id), id))
      assert(canon == best && s == scores(best), s"cluster $c pick")
    }
  }

  test("q147 freq spectrum: octaves partition the vocabulary and cumulative " +
    "share closes at exactly 1e6 ppm") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.freqSpectrum(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, oct, nTok, occ, share, _) =>
      assert(oct >= 0 && nTok > 0 && occ >= nTok) // count ≥ 1 per token
      // octave law: every member count c has floor(log2 c) = octave, so the
      // octave's total occ lies in [nTok·2^oct, nTok·(2^(oct+1)−1)]
      assert(occ >= nTok * (1L << oct) && occ <= nTok * ((1L << (oct + 1)) - 1))
      assert(share >= 0 && share <= 1000000)
    }
    rows.groupBy(_._1).foreach { case (src, rs) =>
      // cumulative ppm closes at exactly 1e6 (integer div of total by itself)
      assert(rs.maxBy(_._2)._6 == 1000000L, s"$src cum_ppm must close at 1e6")
      // vocabulary partitions across octaves: token count equals the
      // source's distinct-token count
      val vocab = graft.Tables.documents(spark, dir)
        .filter(col("source") === src)
        .select(explode(split(col("text"), " ")).as("w"))
        .distinct().count()
      assert(rs.map(_._3).sum == vocab, s"$src octaves must partition vocab")
    }
  }

  test("q149 normalized fingerprint: case/punct/whitespace variants collapse; " +
    "rank-1 per group is the unique keeper") {
    val rows = Dedup.normalizedFingerprint(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(rows.length == graft.Tables.documents(spark, dir).count())
    rows.foreach { case (_, _, rank, isDup) => assert(isDup == (rank > 1)) }
    rows.groupBy(_._2).foreach { case (fp, g) =>
      assert(g.count(_._3 == 1) == 1, s"group $fp needs exactly one keeper")
      // keeper is the min doc_id; ranks are dense 1..n by ascending doc_id
      assert(g.minBy(_._1)._3 == 1)
      assert(g.map(_._3).sorted.toSeq == (1 to g.length))
    }
    // the operator really is normalization-insensitive: a doc equal to
    // another up to case/punct/space must share its fingerprint
    import spark.implicits._
    val variants = Seq((1L, "Alpha,  beta GAMMA!"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val fp = variants
      .select(col("doc_id"), md5(trim(regexp_replace(regexp_replace(
        lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
        .cast(org.apache.spark.sql.types.BinaryType)).as("f"))
      .collect().map(_.getString(1))
    assert(fp(0) == fp(1))
  }

  test("q150 gram novelty: first arrival is all-novel, every gram is novel " +
    "exactly once, short docs ride the zero branch") {
    val docs = graft.Tables.documents(spark, dir)
    val rows = Dedup.gramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == docs.count())
    rows.foreach { case (_, nGrams, nNovel, ppm) =>
      assert(nNovel <= nGrams && ppm >= 0 && ppm <= 1000000)
      if (nGrams == 0) assert(nNovel == 0 && ppm == 0)
    }
    // the earliest doc with any grams introduces every one of its grams
    val first = rows.filter(_._2 > 0).minBy(_._1)
    assert(first._3 == first._2 && first._4 == 1000000L)
    // conservation: novel grams summed over docs == distinct grams in corpus
    val distinctGrams = docs
      .select(explode(graft.operators.Dedup.shingleCol(
        split(col("text"), " "), 3)).as("g"))
      .distinct().count()
    assert(rows.map(_._3).sum == distinctGrams)
  }

  test("q154 knn label audit: agreement recomputes from the kNN set; " +
    "coverage is complete") {
    val nn = SimilaritySearch.knnJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SimilaritySearch.knnLabelConsistency(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == labels.size) // every vector, neighbors or not
    val byVec = nn.groupBy(_._1)
    rows.foreach { case (vid, lab, nNbrs, nSame, ppm) =>
      assert(lab == labels(vid))
      val nbrs = byVec.getOrElse(vid, Array.empty).map(_._2)
      assert(nNbrs == nbrs.length)
      assert(nSame == nbrs.count(labels(_) == lab))
      assert(ppm == (if (nNbrs == 0) 0L else nSame * 1000000L / nNbrs))
    }
    // the audit discriminates: fixture has both agreeing and disagreeing
    // neighborhoods
    assert(rows.exists(_._5 > 500000) && rows.exists(r => r._3 > 0 && r._5 < 1000000))
  }

  test("q155 cross-source matrix: conserves the q31 pair count and keeps " +
    "source pairs sorted") {
    val pairs = Dedup.ngramJaccard(spark, dir).count()
    val rows = Dedup.crossSourceMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).sum == pairs)
    rows.foreach { case (a, b, n) => assert(a <= b && n > 0) }
    assert(rows.map(p => (p._1, p._2)).distinct.length == rows.length)
  }

  test("q157 distribution drift: TV distance recomputes from raw bin shares " +
    "and stays in [0, 1e6]") {
    import org.apache.spark.sql.types.TimestampType
    val cut = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli // UTC, host-tz-proof
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        unix_millis(col("ts").cast(TimestampType)).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT) DIV 5000").as("bin"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val gotMap = graft.operators.Profiling.distributionDrift(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(gotMap.keySet == ev.map(_._1).toSet) // every type reported
    ev.groupBy(_._1).foreach { case (tpe, rows) =>
      val (a, b) = rows.partition(_._2 < cut)
      def shares(xs: Array[(String, Long, Long)]): Map[Long, Long] = {
        val n = xs.length.toLong
        xs.groupBy(_._3).map { case (bin, g) =>
          bin -> g.length.toLong * 1000000L / n
        }
      }
      val (sa, sb) = (shares(a), shares(b))
      val tv = (sa.keySet ++ sb.keySet).toSeq
        .map(k => math.abs(sa.getOrElse(k, 0L) - sb.getOrElse(k, 0L))).sum / 2
      val (gotTv, gotFlag) = gotMap(tpe)
      assert(gotTv == tv, s"$tpe tv")
      assert(gotFlag == (tv > 50000L))
      assert(tv >= 0 && tv <= 1000000L)
    }
    assert(gotMap.nonEmpty)
  }

  test("q158 curriculum: deciles partition each source near-evenly and " +
    "quality is monotone across phases") {
    import graft.operators.TextAnalysis
    val perSource = Tables.documents(spark, dir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextAnalysis.curriculumSchedule(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, ds) =>
      val n = perSource(src)
      assert(ds.map(_._3).sum == n, s"$src docs must partition")
      ds.foreach { case (_, dec, nDocs, _, minQ, maxQ) =>
        assert(dec >= 0 && dec <= 9 && minQ <= maxQ)
        // (ord-1)*10 DIV n decile sizes are floor/ceil-balanced
        assert(nDocs == n / 10 || nDocs == n / 10 + 1,
          s"$src decile $dec size $nDocs for n=$n")
      }
      // best-first: later phases never exceed earlier phases' quality floor
      val sorted = ds.sortBy(_._2).toSeq
      sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
        assert(b._6 <= a._5,
          s"$src: decile ${b._2} max_q ${b._6} > decile ${a._2} min_q ${a._5}")
      }
    }
  }

  test("q159 hourly bursts: trailing frame recomputes on the dense grid and " +
    "only full-history hours report") {
    val grid = Events.gapFillHourly(spark, dir).collect()
      .map(r => (r.getString(1), r.getTimestamp(0).getTime, r.getLong(2)))
    val byType = grid.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val got = Events.hourlyBursts(spark, dir).collect()
      .map(r => ((r.getString(1), r.getTimestamp(0).getTime),
        (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    val hours = byType.head._2.length
    assert(got.size == (hours - 24) * byType.size) // dense grid minus warm-up
    byType.foreach { case (tpe, rows) =>
      rows.indices.drop(24).foreach { i =>
        val trail = rows.slice(i - 24, i).map(_._3).sum
        val (n, trailSum, burst) = got((tpe, rows(i)._2))
        assert(n == rows(i)._3 && trailSum == trail)
        assert(burst == (n * 24 > trail * 2))
      }
    }
    // the grid really is dense: ROWS 24 == 24 hours everywhere
    byType.values.foreach(rows => rows.zip(rows.drop(1)).foreach {
      case (a, b) => assert(b._2 - a._2 == 3600000L)
    })
  }

  test("q160 padding waste: conserves docs and respects the bucketWidth " +
    "bound the q126 batching promises") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.paddingWaste(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._3).sum == Tables.documents(spark, dir).count())
    rows.foreach { case (_, _, nSeqs, maxLen, sumLen, pad, ppm) =>
      assert(nSeqs >= 1 && nSeqs <= 16)
      assert(pad == maxLen * nSeqs - sumLen && pad >= 0)
      // bucketing bound: every member is within bucketWidth of the max
      assert(pad < 32 * nSeqs,
        s"padding exceeded the bucket-width bound: $pad for $nSeqs seqs")
      assert(ppm >= 0 && ppm < 1000000)
    }
  }

  test("q162 weighted jaccard: planted near-dups survive IDF weighting and " +
    "weights really down-weight common shingles") {
    val plain = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val weighted = Dedup.weightedJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(plain.nonEmpty)
    // the planted pairs are at J >= 0.97 with overwhelmingly informative
    // (df=2) shingles — IDF weighting must keep every one of them
    plain.foreach(p => assert(weighted.contains(p), s"planted pair $p lost"))
    weighted.values.foreach(j => assert(j >= 500000L && j <= 1000000L))
  }

  test("q163 rendezvous shards: removing a shard moves ONLY that shard's " +
    "documents") {
    val at8 = Sampling.rendezvousShards(spark, dir, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val at7 = Sampling.rendezvousShards(spark, dir, 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(at8.keySet == at7.keySet)
    assert(at8.values.toSet.size == 8, "some shard is empty at n=8")
    val moved = at8.count { case (id, s) => at7(id) != s }
    val onShard7 = at8.count(_._2 == 7L)
    // the rendezvous invariant: exactly the removed shard's docs move
    at8.foreach { case (id, s) =>
      if (s != 7L) assert(at7(id) == s, s"doc $id moved needlessly $s->${at7(id)}")
    }
    assert(moved == onShard7 && onShard7 > 0)
  }

  test("q164 source similarity: every pair reported once, TV recomputes " +
    "including one-sided token mass") {
    import graft.operators.Profiling
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val shares = toks.groupBy(_._1).map { case (src, ts) =>
      val n = ts.length.toLong
      src -> ts.groupBy(_._2).map { case (w, g) =>
        w -> g.length.toLong * 1000000L / n
      }
    }
    val srcs = shares.keys.toSeq.sorted
    val got = Profiling.sourceSimilarity(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.size == srcs.size * (srcs.size - 1) / 2) // complete grid
    got.foreach { case ((a, b), tv) =>
      assert(a < b && tv >= 0 && tv <= 1000000L)
      val (sa, sb) = (shares(a), shares(b))
      val expected = (sa.keySet ++ sb.keySet).toSeq
        .map(w => math.abs(sa.getOrElse(w, 0L) - sb.getOrElse(w, 0L))).sum / 2
      assert(tv == expected, s"($a,$b): $tv != $expected")
    }
  }

  test("q165 label propagation: 3 synchronous rounds recompute exactly " +
    "driver-side and labels genuinely coalesce") {
    val und = {
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      val pairs = l.groupBy(_._1).values.flatMap { basket =>
        val ps = basket.map(_._2).toSeq
        for (u <- ps; v <- ps if u < v) yield (u, v)
      }.toSet
      pairs.toSeq.flatMap(p => Seq(p, p.swap))
    }
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      labels = nbrs.map { case (n, ns) =>
        val votes = ns.groupBy(labels).view.mapValues(_.size)
        n -> votes.toSeq.minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    val got = Graph.labelPropagation(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == labels)
    // propagation did something: fewer communities than nodes
    assert(got.values.toSet.size < got.size)
  }

  test("q166 ann recall: intersection recomputes from the two retrievals") {
    val bf = SimilaritySearch.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivf = SimilaritySearch.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SimilaritySearch.annRecallAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == bf.map(_._1).toSet)
    bf.groupBy(_._1).foreach { case (q, nbrs) =>
      val found = nbrs.count(ivf.contains)
      val (n, ppm) = got(q)
      assert(n == found && ppm == found * 1000000L / 10)
    }
    // the audit is informative on this index: recall is high but the
    // approximation is real (some query misses at least one neighbor, or
    // all are perfect — either way the numbers are in range)
    got.values.foreach { case (n, ppm) =>
      assert(n >= 0 && n <= 10 && ppm >= 0 && ppm <= 1000000) }
  }

  test("q169 fertility: per-lang rollup agrees with q41's per-doc counters") {
    import graft.operators.TextAnalysis
    val langOf = Tables.documents(spark, dir).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = TextAnalysis.tokenCount(spark, dir).collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    val got = TextAnalysis.tokenizerFertility(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == perDoc.map(_._1).toSet)
    perDoc.groupBy(_._1).foreach { case (lang, docs) =>
      val (n, ws, bpe, f) = got(lang)
      assert(n == docs.length && ws == docs.map(_._2).sum &&
        bpe == docs.map(_._3).sum)
      assert(f == bpe * 1000000L / ws)
      assert(f >= 1000000L, s"$lang: BPE-ish splits cannot merge words")
    }
  }

  test("q170 int8 ann: scores recompute from the q58 codes and the " +
    "quantized ranking tracks the float ranking") {
    val codes = SimilaritySearch.quantizeInt8(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong)).toMap
    val got = SimilaritySearch.annInt8TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (q, n, score, _) =>
      val expected = codes(q).zip(codes(n)).map { case (a, b) => a * b }.sum
      assert(score == expected, s"($q,$n) score")
      codes(n).foreach(c => assert(c >= -128 && c <= 127))
    }
    // 8-bit quantization keeps most of the float neighborhood: per query,
    // the int8 top-10 overlaps the exact float top-10 on at least half
    val exact = SimilaritySearch.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    got.groupBy(_._1).foreach { case (q, rows) =>
      val overlap = rows.map(_._2).count(exact(q).contains)
      assert(overlap >= 5, s"query $q: int8 top-10 kept only $overlap of 10")
    }
  }

  test("q242 pq adc: trained codebook lives on the int8 lattice, codes " +
    "are true per-subspace argmins, ADC matches a driver-side replay, " +
    "retrieval beats chance, and training beats the old sampled anchors") {
    val codes = SimilaritySearch.int8CodedArray(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val cb = SimilaritySearch.pqCodebook(spark, dir)
    assert(cb.length == 8 && cb.forall(_.length == 16))
    cb.foreach(_.foreach(cw => {
      assert(cw.length == 8)
      cw.foreach(x => assert(x >= -128L && x <= 127L,
        s"codeword value $x off the int8 lattice"))
    }))
    def sub(v: Array[Long], s: Int) = v.slice(s * 8, s * 8 + 8)
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def encode(v: Array[Long]): Array[Int] = (0 until 8).map { s =>
      cb(s).indices.minBy(c => (d2(sub(v, s), cb(s)(c)), c))
    }.toArray
    val got = SimilaritySearch.pqAdcTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 50) // 5 queries x top-10
    got.foreach { case (q, n, adc, _) =>
      assert(q != n) // self excluded
      val expected = (0 until 8).map { s =>
        d2(sub(codes(q), s), cb(s)(encode(codes(n))(s)))
      }.sum
      assert(adc == expected, s"($q,$n) adc")
    }
    // ranks are contiguous and ADC-ordered per query; retrieval beats
    // chance (true int8-L2 of the returned set below the corpus mean)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1L to 10L))
      assert(byRank.map(_._3).toSeq == byRank.map(_._3).sorted.toSeq)
      val others = codes.keys.filter(_ != q).toSeq
      val corpusMean =
        others.map(n => d2(codes(q), codes(n)).toDouble).sum / others.size
      val retrievedMean =
        rows.map(r => d2(codes(q), codes(r._2)).toDouble).sum / rows.length
      assert(retrievedMean < corpusMean,
        s"query $q: retrieved mean $retrievedMean !< corpus mean $corpusMean")
    }
    // the point of TRAINING: corpus-wide encode distortion (sum over
    // subspaces of the argmin squared distance) must not exceed the old
    // md5-sampled 16-anchor codebook's
    def md5hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    val sampled = codes.keys.toSeq.sortBy(id => (md5hex(id), id)).take(16)
      .map(codes)
    def distortion(book: Int => Seq[Array[Long]])(v: Array[Long]): Long =
      (0 until 8).map { s =>
        book(s).map(cw => d2(sub(v, s), cw)).min
      }.sum
    val trained = codes.values.map(distortion(s => cb(s).toSeq)).sum
    val old = codes.values.map(
      distortion(s => sampled.map(a => sub(a, s)))).sum
    assert(trained <= old,
      s"trained codebook distortion $trained > sampled $old")
  }

  test("q285 pq recall: exact intersection replay of the q50 and q242 " +
    "retrievals; every query reported even at zero recall") {
    val bf = SimilaritySearch.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pq = SimilaritySearch.pqAdcTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = bf.groupBy(_._1).map { case (q, rows) =>
      q -> rows.count(pq.contains).toLong
    }
    val got = SimilaritySearch.pqRecallAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (q, n) =>
      assert(got(q) == ((n, n * 1000000L / 10)), s"query $q")
    }
  }

  test("q288 pq rescore: in-JVM replay of shortlist -> exact-int8 re-rank " +
    "-> recall; complete (L, query) grid; rescore recovers recall over " +
    "the ADC-only tier") {
    val codes = SimilaritySearch.int8CodedArray(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val shortlist = SimilaritySearch.pqAdcTopK(spark, dir, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // (q, n, rk)
    val bf = SimilaritySearch.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val queries = bf.map(_._1).distinct.sorted
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expected = (for (l <- Seq(30L, 50L); q <- queries) yield {
      val rr = shortlist.filter(s => s._1 == q && s._3 <= l)
        .map(s => (s._2, dot(codes(q), codes(s._2))))
        .sortBy { case (n, sc) => (-sc, n) } // score DESC, id tiebreak
        .take(10).map(_._1).toSet
      val n = bf.filter(_._1 == q).count(p => rr.contains(p._2)).toLong
      (l, q, n, n * 1000000L / 10)
    }).toSet
    val got = SimilaritySearch.pqRescoreRecall(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 2 * queries.length) // complete grid, both Ls
    assert(got.toSet == expected)
    // the lane's reason to exist: the mean re-ranked recall at L = 50 is
    // at least the ADC-only tier's (q285) — the shortlist+rescore stack
    // recovers what the 8-byte codes gave up
    val adcOnly = SimilaritySearch.pqRecallAudit(spark, dir).collect()
      .map(r => r.getLong(2)).sum
    val rescored50 = got.filter(_._1 == 50L).map(_._4).sum
    assert(rescored50 >= adcOnly,
      s"rescored@50 total $rescored50 < ADC-only total $adcOnly")
  }

  test("dedup clusters: both docs of every near-dup pair share a cluster") {
    val pairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val comp = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b)) }
    // the cluster label is the component's own min member
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  test("q175 unigram surprisal: recomputes from a driver-side unigram LM, " +
    "and the floor is the all-common-token document") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = counts.values.sum
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val s = toks.map(t => n * 1000000L / counts(t)).sum
      (id, toks.length.toLong, s / toks.length)
    }.toSet
    val got = TextAnalysis.unigramSurprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // every inverse probability is >= 1, so the e6 mean floors at 1e6
    assert(got.forall(_._3 >= 1000000L))
  }

  test("q177 bigram surprisal: covers exactly n_tokens - 1 transitions " +
    "per multi-token doc") {
    val uni = TextAnalysis.unigramSurprisal(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bi = TextAnalysis.bigramSurprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bi.nonEmpty)
    bi.foreach { case (id, nbg, score) =>
      assert(nbg == uni(id) - 1, s"doc $id bigram count")
      assert(score >= 1000000L, s"doc $id score below floor")
    }
    // docs excluded from the bigram frame are exactly the <2-token ones
    val excluded = uni.keySet -- bi.map(_._1).toSet
    excluded.foreach(id => assert(uni(id) < 2))
  }

  test("q176 lang profile: per-lang totals agree with the token stream and " +
    "shares stay inside [0, 1e6]") {
    val rows = TextAnalysis.langVocabProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val byLang = Tables.documents(spark, dir)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.flatMap(_._2.split(" ", -1))).toMap
    rows.foreach { case (lang, nTok, vocab, ttr, top10) =>
      val toks = byLang(lang)
      assert(nTok == toks.length.toLong, s"$lang token volume")
      assert(vocab == toks.distinct.length.toLong, s"$lang vocab")
      assert(ttr == vocab * 1000000L / nTok)
      val expTop10 = toks.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy { case (t, c) => (-c, t) }.take(10).map(_._2).sum
      assert(top10 == expTop10 * 1000000L / nTok, s"$lang top10 share")
    }
  }

  test("q178 containment: bounded by 1e6, never below Jaccard, and every " +
    "planted near-dup pair surfaces") {
    val cont = Dedup.containmentPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(cont.nonEmpty)
    cont.foreach { case ((a, b), (inter, na, nb, ppm)) =>
      assert(a < b && ppm <= 1000000L && inter <= math.min(na, nb))
      // containment >= jaccard: min(na,nb) <= na + nb - inter
      val jacPpm = inter * 1000000L / (na + nb - inter)
      assert(ppm >= jacPpm)
    }
    // q31's planted pairs sit at J >= 0.97, so containment >= 0.97 >= 0.8
    val jaccardPairs = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(jaccardPairs.nonEmpty)
    jaccardPairs.foreach(p => assert(cont.contains(p), s"missing pair $p"))
  }

  test("q180 unpivot: three metric rows per customer, values recompute") {
    val rows = Relational.unpivotMetrics(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), expr("CAST(round(o_totalprice * 100) AS LONG)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(rows.size == orders.size * 3)
    orders.foreach { case (ck, os) =>
      assert(rows((ck, "n_orders")) == os.length.toLong)
      assert(rows((ck, "total_cents")) == os.map(_._2).sum)
      assert(rows((ck, "max_cents")) == os.map(_._2).max)
    }
  }

  test("q181 equi-depth deciles: one crossing pass equals nine driver-side " +
    "nearest-rank quantiles, monotone per flag") {
    val byFlag = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS LONG)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = Relational.equidepthDeciles(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.size == byFlag.size * 9)
    byFlag.foreach { case (flag, xs) =>
      (1 to 9).foreach { k =>
        val expected = xs((k * xs.length + 9) / 10 - 1) // ceil(k n / 10)
        assert(got((flag, k.toLong)) == expected, s"$flag decile $k")
      }
      val bs = (1 to 9).map(k => got((flag, k.toLong)))
      assert(bs == bs.sorted, s"$flag boundaries not monotone")
    }
  }

  test("q182 autocovariance components recompute from a driver-side " +
    "hourly rollup, consecutive hours only") {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_millis(CAST(ts AS TIMESTAMP))").as("ms"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 3600000L * 3600000L))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = hourly.keys.groupBy(_._1).map { case (tpe, ks) =>
      val pairs = ks.toSeq.map(_._2).sorted.flatMap { h =>
        hourly.get((tpe, h + 3600000L))
          .map(y => (hourly((tpe, h)), y))
      }
      tpe -> (pairs.length.toLong, pairs.map(_._1).sum, pairs.map(_._2).sum,
        pairs.map(p => p._1 * p._2).sum,
        pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
    }
    val got = Events.hourlyAutocovComponents(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == expected)
    assert(got.values.exists(_._1 > 0), "no consecutive-hour pair in fixture")
  }

  test("q183 moving average: dense day grid, 7-day trailing window " +
    "recomputes, zero-revenue gap days included") {
    val rows = Relational.movingAvgDailyRevenue(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val days = rows.map(_._1)
    assert(days.toSeq == (days.head to days.last).toSeq, "grid not dense")
    assert(rows.exists(_._2 == 0L), "no gap day in fixture — fill untested")
    rows.zipWithIndex.foreach { case ((_, _, win, avgE2), i) =>
      val span = math.min(7, i + 1)
      val expect = rows.slice(i - span + 1, i + 1).map(_._2).sum
      assert(win == expect, s"window at index $i")
      assert(avgE2 == win * 100 / span)
    }
  }

  test("q184 heatmap: cells recompute from epoch arithmetic and shares " +
    "sum to ~1e6") {
    val got = Events.timeHeatmap(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val ms = Tables.events(spark, dir)
      .select(expr("unix_millis(CAST(ts AS TIMESTAMP))")).collect()
      .map(_.getLong(0))
    val expected = ms.groupBy(m => ((m / 86400000L + 4) % 7, m % 86400000L / 3600000L))
      .view.mapValues(_.length.toLong).toMap
    assert(got.view.mapValues(_._1).toMap == expected)
    got.foreach { case ((dow, hour), _) =>
      assert(dow >= 0 && dow <= 6 && hour >= 0 && hour <= 23)
    }
    // floor rounding loses < 1 ppm per cell
    val total = got.values.map(_._1).sum
    val shareSum = got.values.map(_._2).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - got.size)
    assert(total == ms.length.toLong)
  }

  test("q185 cohort matrix: offset-0 covers the whole cohort and " +
    "retention recomputes from raw events") {
    val rows = Events.cohortMatrix(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 604800000").as("week"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cohort = ev.filter(_._2 == "signup").groupBy(_._1)
      .view.mapValues(_.map(_._3).min).toMap
    val expected = ev.flatMap { case (u, _, w) =>
      cohort.get(u).filter(w >= _).map(cw => ((cw, w - cw), u))
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.length.toLong).toMap
    assert(rows.view.mapValues(_._1).toMap == expected)
    val sizes = cohort.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach { case ((cw, off), (nAct, csz, ppm)) =>
      assert(csz == sizes(cw))
      assert(ppm == nAct * 1000000L / csz)
      // a user signs up in their own cohort week, so offset 0 is complete
      if (off == 0L) assert(nAct == csz, s"cohort $cw offset 0")
    }
  }

  test("q186 KS drift: exact integer KS distance recomputes from " +
    "driver-side CDFs, bounded by [0, 1e6]") {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val support = docs.map(_._2).distinct.sorted
    val bySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = docs.length.toLong
    val got = Profiling.ksDrift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == bySrc.size)
    bySrc.foreach { case (s, xs) =>
      val ns = xs.length.toLong
      val rest = docs.filter(_._1 != s).map(_._2)
      val nr = rest.length.toLong
      val dNum = support.map { v =>
        math.abs(xs.count(_ <= v) * nr - rest.count(_ <= v) * ns)
      }.max
      val (gn, gppm) = got(s)
      assert(gn == ns, s"$s n_docs")
      assert(gppm == dNum * 1000000L / (ns * nr), s"$s ks_ppm")
      assert(gppm >= 0 && gppm <= 1000000L)
    }
  }

  test("q187 bootstrap: every replicate weight recomputes from the md5 " +
    "variate and the Poisson thresholds; replicates genuinely vary") {
    import java.security.MessageDigest
    val cuts = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183).map(t => math.ceil(t * 4096).toLong)
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS LONG)")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (0 until 20).map { rep =>
      val ws = orders.map { case (ok, cents) =>
        // hash-once-slice-many: 64 shared hex chars -> five 48-bit
        // chunks -> replicate rep reads bits [36-12·(rep%4), +12) of
        // chunk rep/4
        val hex = md5hex(s"$ok:0") + md5hex(s"$ok:1")
        val chunk = java.lang.Long.parseLong(
          hex.substring(12 * (rep / 4), 12 * (rep / 4) + 12), 16)
        val u = (chunk >> (36 - 12 * (rep % 4))) & 4095L
        val w = cuts.count(u >= _).toLong
        (w, w * cents)
      }
      rep.toLong -> (ws.map(_._1).sum, ws.map(_._2).sum)
    }.toMap
    val got = Sampling.bootstrapRevenue(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    // the resample is real: draws differ across replicates, and the mean
    // multiplicity is ~1 (Poisson(1)): every replicate draws within 20%
    val nRows = orders.length.toLong
    assert(got.values.map(_._2).toSet.size > 1, "replicates all identical")
    got.values.foreach { case (nd, _) =>
      assert(math.abs(nd - nRows) * 5 <= nRows, s"drawn $nd of $nRows rows")
    }
  }

  test("q188 inter-arrival: median/p90 recompute from driver-side " +
    "per-user gap folds, p50 <= p90") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_millis(CAST(ts AS TIMESTAMP))").as("ms"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val deltas = ev.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      val sorted = g.toSeq.sortBy(e => (e._4, e._3))
      sorted.sliding(2).collect { case Seq(a, b) => (a._2, b._4 - a._4) }
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def nr(xs: Seq[Long], k: Int): Long = xs((k * xs.length + 9) / 10 - 1)
    val got = Events.interarrivalQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == deltas.keySet)
    got.foreach { case (tpe, (n, p50, p90)) =>
      val xs = deltas(tpe)
      assert(n == xs.length.toLong, s"$tpe gap count")
      assert(p50 == nr(xs, 5), s"$tpe p50")
      assert(p90 == nr(xs, 9), s"$tpe p90")
      assert(p50 <= p90)
    }
  }

  test("q189 similar customers: jaccard recomputes from raw baskets, " +
    "neighbors ranked and only seed customers appear on the left") {
    val baskets = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seeds = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS LONG)")).as("rev"))
      .orderBy(col("rev").desc, col("o_custkey")).limit(100)
      .collect().map(_.getLong(0)).toSet
    val rows = graft.operators.Graph.similarCustomers(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, rk, b, shared, ppm) =>
      assert(seeds.contains(a), s"non-seed customer $a on the left")
      assert(a != b && rk >= 1 && rk <= 3)
      val inter = (baskets(a) & baskets(b)).size.toLong
      assert(shared == inter, s"($a,$b) shared")
      assert(ppm == inter * 1000000L /
        (baskets(a).size + baskets(b).size - inter))
    }
    // ranks are dense per seed and ordered by (jaccard desc, neighbor)
    rows.groupBy(_._1).foreach { case (a, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length))
      assert(sorted.map(r => (-r._5, r._3)).toSeq ==
        sorted.map(r => (-r._5, r._3)).sortBy(identity).toSeq, s"seed $a order")
    }
  }

  test("q190 seasonal backtest: per-dow MAE recomputes from the dense " +
    "grid with both lags") {
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000")
        .as("day"), expr("CAST(round(o_totalprice * 100) AS LONG)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val d0 = daily.keys.min
    val d1 = daily.keys.max
    val filled = (d0 to d1).map(d => daily.getOrElse(d, 0L))
    val expected = (7 until filled.length).map { i =>
      val dow = (d0 + i + 4) % 7
      (dow, math.abs(filled(i) - filled(i - 7)),
        math.abs(filled(i) - filled(i - 1)))
    }.groupBy(_._1).map { case (dow, xs) =>
      dow -> (xs.length.toLong, xs.map(_._2).sum / xs.length,
        xs.map(_._3).sum / xs.length)
    }
    val got = Relational.seasonalBacktest(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == expected)
    assert(got.size == 7)
  }

  test("q191 linear attribution: credits recompute per purchase and " +
    "agree with q161's last-touch on single-touch purchases") {
    val windowMs = 7L * 24 * 3600 * 1000
    val rows = Events.linearAttribution(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (pid, touches) =>
      val n = touches.head._3
      assert(touches.length.toLong == n, s"purchase $pid touch count")
      touches.foreach { case (_, _, nt, ppm) =>
        assert(nt == n && ppm == 1000000L / n)
      }
    }
    // multi-touch really occurs, and floor never over-credits
    assert(rows.exists(_._3 > 1L), "no multi-touch purchase in fixture")
    rows.groupBy(_._1).foreach { case (_, ts) =>
      assert(ts.map(_._4).sum <= 1000000L)
    }
    // single-touch purchases: the lone credited click IS the last touch
    val lastTouch = Events.lastTouchAttribution(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // a purchase with exactly ONE raw in-window click: q161's collapsed
    // last touch must be that very click (collapse only merges same-ms
    // duplicates, of which there are none in a singleton set)
    val single = rows.groupBy(_._1).filter(_._2.head._3 == 1L)
    assert(single.nonEmpty)
    single.foreach { case (pid, ts) =>
      assert(lastTouch(pid).contains(ts.head._2),
        s"purchase $pid last-touch disagrees with the lone linear credit")
    }
  }

  test("q192 new vs returning: conserved totals, day-one all-new, " +
    "every user new exactly once") {
    val rows = Events.newVsReturning(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, nn, nr) => assert(n == nn + nr) }
    assert(rows.head._4 == 0L, "day one must have zero returning users")
    val users = Tables.events(spark, dir)
      .select(col("user_id")).distinct().count()
    assert(rows.map(_._3).sum == users, "each user is new exactly once")
  }

  test("q193 gini: distributed ordinal matches a driver-side sort, and " +
    "the ppm value recomputes exactly") {
    val revs = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS LONG)")).as("rev"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = revs.sortBy { case (ck, rev) => (rev, ck) }.map(_._2)
    val n = sorted.length.toLong
    val tot = sorted.sum
    val sumIrev = sorted.zipWithIndex
      .map { case (x, i) => BigInt(i + 1) * BigInt(x) }.sum
    val expPpm = ((BigInt(2) * sumIrev - BigInt(n + 1) * BigInt(tot)) *
      BigInt(1000000) / (BigInt(n) * BigInt(tot))).toLong
    val got = Relational.revenueGini(spark, dir).collect().head
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == tot)
    assert(got.getLong(2) == expPpm)
    assert(got.getLong(2) > 0 && got.getLong(2) < 1000000L)
  }

  test("q194 SLA lateness: per-priority late counts recompute from the " +
    "joined fact rows") {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("unix_millis(CAST(l_shipdate AS TIMESTAMP))")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = l.map { case (ok, sMs) =>
      val (pri, oMs) = o(ok)
      (pri, if (sMs - oMs > 90L * 86400000L) 1L else 0L)
    }.groupBy(_._1).map { case (pri, xs) =>
      pri -> (xs.length.toLong, xs.map(_._2).sum)
    }
    val got = Relational.slaLateness(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap == expected)
    got.foreach { case (_, (n, late, ppm)) =>
      assert(ppm == late * 1000000L / n)
    }
    assert(got.values.exists(_._2 > 0), "no late line in fixture")
  }

  test("q195 discount effect: integer basis-point revenue recomputes " +
    "and the band filter is exact") {
    val rows = Tables.lineitem(spark, dir)
      .select(expr("year(CAST(l_shipdate AS TIMESTAMP))").cast("long"),
        expr("CAST(round(l_extendedprice * 100) AS LONG)"),
        expr("CAST(round(l_discount * 100) AS LONG)"), col("l_quantity"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = rows
      .filter(r => r._3 >= 5 && r._3 <= 7 && r._4 < 24)
      .groupBy(_._1).map { case (y, xs) =>
        y -> (xs.length.toLong, xs.map(x => x._2 * x._3).sum)
      }
    val got = Relational.discountEffect(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("pipeline observation: metrics ride the materializing action and " +
    "match independent recomputation") {
    val (df, obs) = Relational.pipelineObserved(spark, dir)
    val rows = df.collect() // the ONE action both materializes and observes
    val m = obs.get
    assert(m("n_rows") == rows.length.toLong)
    assert(m("custkey_checksum") == rows.map(_.getLong(0)).sum)
    assert(m("recency_outliers") ==
      rows.count(r => math.abs(r.getDouble(1)) > 3).toLong)
    assert(m("monetary_outliers") ==
      rows.count(r => math.abs(r.getDouble(3)) > 3).toLong)
  }

  test("q196 DSv2 source: doc_id range pushes into the scan, pruning " +
    "drops hash columns, rows regenerate driver-side") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def load() = spark.read.format("graft.sources.GenDocsSource")
      .option("rows", 100000L).option("splits", 16).load()
    assert(load().count() == 100000L)
    // range pushdown: the scan's own description carries the NARROWED
    // generation interval — rows outside it are never created
    val filtered = load()
      .filter(col("doc_id") >= 25000L && col("doc_id") < 75000L)
      .groupBy(col("bucket")).count()
    // executedPlan is the AQE wrapper pre-execution; the scan node lives
    // in the non-adaptive physical plan
    val scan = filtered.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b
    }.head
    assert(scan.scan.description().contains("[25000, 75000)"),
      s"pushdown missing: ${scan.scan.description()}")
    // column pruning: the aggregate needs only `bucket`; the md5-derived
    // columns must not survive into the scan schema
    assert(scan.scan.description().contains("columns=bucket"),
      s"pruning missing: ${scan.scan.description()}")
    // generated values are the documented derivation, bit-for-bit
    val sample = load().filter(col("doc_id").isin(0L, 1L, 99999L)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    sample.foreach { case (id, (bucket, hash, toks)) =>
      assert(bucket == id % 100)
      assert(hash == md5hex(s"gen:$id"))
      assert(toks == 50L + java.lang.Long.parseLong(hash.take(8), 16) % 200L)
    }
    // an empty pushed range plans zero partitions, returns zero rows
    assert(load().filter(col("doc_id") >= 100000L).count() == 0L)
    // COUNT(*) pushdown: the count is closed-form for a generator — the
    // plan carries the pushed-count scan and still answers correctly
    // when combined with a pushed range filter
    val counted = load().filter(col("doc_id") >= 30000L)
    assert(counted.count() == 70000L)
    val countScan = counted.groupBy().count().queryExecution.sparkPlan
      .collect { case b: BatchScanExec => b }.head
    assert(countScan.scan.description().contains("COUNT pushed [30000, 100000)"),
      s"count pushdown missing: ${countScan.scan.description()}")
  }

  test("q231 DSv2 sink: two-phase commit publishes exactly once; " +
    "overwrite is idempotent; manifest totals reconcile") {
    import graft.sources.{DocSink, DocSinkQueries}
    def run() = DocSinkQueries.sinkRoundTrip(spark, dir).collect().head
    val first = run()
    // re-reading the committed files reproduces the manifest exactly
    assert(first.getLong(0) == first.getLong(2),
      "re-read row count must equal the manifest")
    assert(first.getLong(1) == first.getLong(3),
      "re-read checksum must equal the manifest")
    assert(first.getLong(4) == DocSinkQueries.Parts.toLong)
    // overwrite idempotency: a second publish replaces, never appends
    val second = run()
    assert(second.getLong(0) == first.getLong(0) &&
      second.getLong(1) == first.getLong(1))
    // the driver-side closed form agrees (the oracle's claim, replayed)
    val expected = (0L until DocSinkQueries.Rows).map { i =>
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(s"gen:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val toks = 50L + java.lang.Long.parseLong(hash.take(8), 16) % 200L
      DocSink.rowHash(i, i % 100L, toks)
    }.sum
    assert(first.getLong(1) == expected)
  }

  test("q197 changepoint: the CUSUM argmax recomputes from the dense " +
    "grid, and S telescopes to zero") {
    val daily = Tables.orders(spark, dir)
      .select(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000")
        .as("day"), expr("CAST(round(o_totalprice * 100) AS LONG)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val d0 = daily.keys.min
    val filled = (d0 to daily.keys.max).map(d => daily.getOrElse(d, 0L))
    val n = filled.length.toLong
    val t = filled.sum
    val cusum = filled.scanLeft(0L)((acc, x) => acc + n * x - t).drop(1)
    assert(cusum.last == 0L, "CUSUM must telescope to zero")
    val bestIdx = cusum.zipWithIndex
      .maxBy { case (s, i) => (math.abs(s), -i) }._2
    val got = Relational.cusumChangepoint(spark, dir).collect().head
    assert(got.getLong(0) == d0 + bestIdx)
    assert(got.getLong(1) == n)
    assert(got.getLong(2) == t)
    assert(got.getLong(3) == cusum(bestIdx))
  }

  test("q198 lang confusion: cells recompute from q43 predictions and " +
    "row shares sum per label") {
    val preds = TextAnalysis.langId(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expected = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = TextAnalysis.langConfusion(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.view.mapValues(_._1).toMap == expected)
    got.groupBy(_._1._1).foreach { case (label, cells) =>
      val total = cells.values.map(_._1).sum
      cells.foreach { case (_, (n, ppm)) =>
        assert(ppm == n * 1000000L / total)
      }
      // floor rounding loses < 1 ppm per cell
      val s = cells.values.map(_._2).sum
      assert(s <= 1000000L && s > 1000000L - cells.size, s"label $label")
    }
    // the heuristic beats 5-class chance (its absolute accuracy on the
    // synthetic corpus is a measured property, not a guarantee)
    val diag = got.collect { case ((a, b), (n, _)) if a == b => n }.sum
    assert(diag * 5 > preds.length, "classifier no better than chance")
  }

  test("q199 band migration: bands recompute from driver-side quartiles, " +
    "matrix conserves customers") {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000"),
        expr("CAST(round(o_totalprice * 100) AS LONG)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mid = (o.map(_._2).min + o.map(_._2).max) / 2
    def bandsOf(half: Seq[(Long, Long)]): Map[Long, Long] = {
      val rev = half.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val sorted = rev.values.toSeq.sorted
      val n = sorted.length
      val qs = (1 to 3).map(k => sorted((k * n + 3) / 4 - 1))
      rev.view.mapValues(r => 1L + qs.count(r > _)).toMap
    }
    val first = bandsOf(o.filter(_._2 <= mid).map(t => (t._1, t._3)))
    val second = bandsOf(o.filter(_._2 > mid).map(t => (t._1, t._3)))
    val expected = (first.keySet ++ second.keySet).toSeq
      .map(ck => (first.getOrElse(ck, 0L), second.getOrElse(ck, 0L)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Relational.bandMigration(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected)
    // conservation: the matrix covers every customer exactly once
    assert(got.values.sum == (first.keySet ++ second.keySet).size.toLong)
    got.keys.foreach { case (a, b) =>
      assert(a >= 0 && a <= 4 && b >= 0 && b <= 4 && (a, b) != (0L, 0L))
    }
  }

  test("q200 bm25: scores recompute driver-side from raw text via the " +
    "integer chain; hits contain a query term") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val t = docs.map(_._2.length.toLong).sum
    val n = docs.length.toLong
    val dfm = Retrieval.QueryTerms.map(q =>
      q -> docs.count(_._2.contains(q)).toLong).toMap
    def score(ws: Seq[String]): Long = {
      val dl = ws.length.toLong
      Retrieval.QueryTerms.map { q =>
        val tf = ws.count(_ == q).toLong
        if (tf == 0) 0L
        else ((22 * tf * 1000) / (10 * tf + 3 + (9 * dl * n) / t)) *
          ((n * 1000) / dfm(q))
      }.sum
    }
    val expected = docs.map { case (id, ws) => (id, score(ws)) }
      .filter(_._2 > 0)
      .sortBy { case (id, s) => (-s, id) }.take(15).toMap
    val got = Retrieval.bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t3 => (t3._1, t3._2)).toMap == expected)
    got.foreach { case (id, _, nTerms) =>
      val ws = docs.find(_._1 == id).get._2
      assert(Retrieval.QueryTerms.count(ws.contains) == nTerms)
    }
  }

  test("q201 rrf fusion: rrf_ppm recomputes from the two rank columns and " +
    "both lanes contribute") {
    val got = Retrieval.rrfFusion(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, ppm, rkL, rkS) =>
      assert(rkL >= 0 && rkL <= 100 && rkS >= 0 && rkS <= 100)
      assert(rkL > 0 || rkS > 0)
      val expect = (if (rkL > 0) 1000000L / (60 + rkL) else 0L) +
        (if (rkS > 0) 1000000L / (60 + rkS) else 0L)
      assert(ppm == expect)
    }
    // the fused list is genuinely hybrid: not a copy of either lane alone
    assert(got.exists(_._3 > 0) && got.exists(_._4 > 0))
    // descending by fused score with doc_id tiebreak is the cut order
    val sorted = got.sortBy { case (id, ppm, _, _) => (-ppm, id) }
    assert(got.toSeq == sorted.toSeq)
  }

  test("q202 skyline: returned set is exactly the undominated set under " +
    "a full driver-side dominance check") {
    val dims = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        (r.getLong(0), ws.length.toLong, ws.distinct.length.toLong, r.getLong(2))
      }
    def dom(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =
      a._2 >= b._2 && a._3 >= b._3 && a._4 <= b._4 &&
        (a._2 > b._2 || a._3 > b._3 || a._4 < b._4)
    val expected = dims.filter(x => !dims.exists(y => dom(y, x)))
      .map(_._1).toSet
    val got = Skyline.skyline(spark, dir).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < dims.length)
  }

  test("q204 kmv overlap: MinK buffer contract holds and estimates track " +
    "exact gram overlap within KMV error") {
    // aggregator unit contract: sorted, distinct, bounded, merge-dedup
    val agg = graft.functions.MinKAgg.MinK(4)
    val buf = Seq(9L, 3L, 9L, 1L, 7L, 5L, 3L).foldLeft(agg.zero)(agg.reduce)
    assert(buf == List(1L, 3L, 5L, 7L))
    assert(agg.merge(buf, List(2L, 3L, 99L)) == List(1L, 2L, 3L, 5L))
    assert(agg.merge(agg.zero, buf) == buf)

    // end-to-end: estimates vs exact distinct 3-gram counts per source
    val exact = Tables.documents(spark, dir)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ").toSeq))
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2.sliding(3).filter(_.length == 3)
        .map(_.mkString(" "))).toSet).toMap
    val got = Sketches.kmvSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length == 10) // C(5,2) pairs over the first 5 sources
    got.foreach { case (sa, sb, estA, estB, estU, estI, jppm) =>
      val (ea, eb) = (exact(sa).size.toLong, exact(sb).size.toLong)
      val eu = (exact(sa) ++ exact(sb)).size.toLong
      val ei = exact(sa).intersect(exact(sb)).size.toLong
      // KMV k=64 → σ ≈ 1/√62 ≈ 13%; allow 4σ
      def close(est: Long, ex: Long) =
        math.abs(est - ex) <= math.max(4, ex / 2)
      assert(close(estA, ea), s"$sa est_a $estA vs $ea")
      assert(close(estB, eb), s"$sb est_b $estB vs $eb")
      assert(close(estU, eu), s"($sa,$sb) est_union $estU vs $eu")
      assert(math.abs(estI - ei) <= math.max(8, eu / 2),
        s"($sa,$sb) est_inter $estI vs $ei")
      assert(estI <= estU && jppm >= 0 && jppm <= 1000000)
      // NOTE no est_union <= est_a + est_b check: sub-additivity holds for
      // exact counts, not for independently-noisy KMV estimates
    }
  }

  test("q205 bpe merges: all rounds reproduce a driver-side reference " +
    "trainer using the same single-pass replace variant") {
    val wc = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, dir).select(col("text")).collect()
      .flatMap(_.getString(0).split(" "))
      .foreach(w => wc(w) = wc.getOrElse(w, 0L) + 1L)
    var syms = wc.toSeq.map { case (w, c) =>
      (" " + w.toCharArray.map(ch => s"$ch ").mkString, c)
    }
    val expected = (1 to 8).map { i =>
      val pairCounts = scala.collection.mutable.Map.empty[String, Long]
      syms.foreach { case (s, c) =>
        val ws = s.trim.split(" ")
        if (ws.length >= 2) ws.sliding(2).foreach { p =>
          val k = p.mkString(" ")
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
        }
      }
      val (pair, c) = pairCounts.toSeq.minBy { case (p, n) => (-n, p) }
      val merged = pair.replace(" ", "")
      syms = syms.map { case (s, n) =>
        (s.replace(s" $pair ", s" $merged "), n)
      }
      (i, pair, merged, c)
    }
    val got = BpeTrainer.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == expected)
    // merged symbols feed later rounds: at least one winning pair must
    // contain a multi-char symbol by round 8 (the iteration is genuinely
    // compounding, not 8 independent bigram counts)
    assert(got.exists(t => t._2.split(" ").exists(_.length > 1)))
  }

  test("q206 random walks: every hop replays from driver-side md5 " +
    "arithmetic over the ranked neighbor lists") {
    val basket = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val und = scala.collection.mutable.Map.empty[Long, Set[Long]]
    basket.values.foreach { ps =>
      for (u <- ps; v <- ps if u < v) {
        und(u) = und.getOrElse(u, Set.empty) + v
        und(v) = und.getOrElse(v, Set.empty) + u
      }
    }
    val ranked = und.view.mapValues(_.toSeq.sorted).toMap
    def md5hex8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xFF}%02x").mkString, 16)
    }
    val expected = ranked.keys.filter(_ % 100 == 0).map { seed =>
      var cur = seed
      val path = new StringBuilder(seed.toString)
      for (h <- 1 to 4) {
        val nbrs = ranked(cur)
        cur = nbrs((md5hex8(s"$seed:$h") % nbrs.length).toInt)
        path ++= s"->$cur"
      }
      (seed, path.toString, cur)
    }.toSet
    val got = Graph.randomWalks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // every consecutive hop in every path is a real edge
    got.foreach { case (_, path, _) =>
      val hops = path.split("->").map(_.toLong)
      hops.sliding(2).foreach(p => assert(und(p(0)).contains(p(1)), path))
    }
  }

  test("q207 merkle diff: divergent buckets and drill tallies recompute " +
    "from the injected faults; clean buckets never surface") {
    val keys = Tables.orders(spark, dir).select(col("o_orderkey"))
      .collect().map(_.getLong(0))
    val missing = keys.filter(_ % 15017 == 0).toSet
    val modified = keys.filter(k => k % 9973 == 0 && !missing(k)).toSet
    val faulty = missing ++ modified
    assert(faulty.nonEmpty, "testdata must contain at least one fault key")
    val byBucket = keys.groupBy(_ % 256)
    val expected = byBucket.collect {
      case (bkt, ks) if ks.exists(faulty) =>
        val miss = ks.count(missing)
        (bkt, (ks.length.toLong, (ks.length - miss).toLong,
          ks.count(modified).toLong, miss.toLong, 0L))
    }
    val got = Merge.merkleDiff(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    // conservation inside every divergent bucket
    got.values.foreach { case (ra, rb, _, miss, extra) =>
      assert(rb == ra - miss + extra)
    }
  }

  test("q179 winsorized stats: crossing p05/p95 equal driver-side " +
    "nearest-rank percentiles; the winsorized mean sits inside the band") {
    val byS = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def nr(xs: Seq[Long], p: Int): Long =
      xs((p * xs.length + 99) / 100 - 1) // ceil(p/100 * n), 1-based
    val got = Profiling.winsorizedStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.foreach { case (s, n, mean, wmean, p05, p95) =>
      val xs = byS(s)
      assert(n == xs.length.toLong)
      assert(p05 == nr(xs, 5), s"$s p05")
      assert(p95 == nr(xs, 95), s"$s p95")
      assert(mean == xs.sum * 100 / n)
      val wsum = xs.map(x => math.max(p05, math.min(p95, x))).sum
      assert(wmean == wsum * 100 / n)
      assert(wmean >= p05 * 100 && wmean <= p95 * 100)
    }
  }

  test("q215 twa: ratio sits inside the customer's price range; " +
    "driver-side step-integral replay matches") {
    val orders = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        Rfm.epochMs(col("o_orderdate")).as("ts"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) / 86400000L,
        math.round(r.getDouble(3) * 100)))
      .groupBy(_._1)
    val got = Relational.twaPrice(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (ck, num, den, twa) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val os = orders(ck).map(o => (o._3, o._2, o._4)).sortBy(o => (o._1, o._2))
      var n = 0L; var d = 0L
      for (i <- 0 until os.length - 1) {
        val dur = os(i + 1)._1 - os(i)._1
        n += os(i)._3 * dur; d += dur
      }
      assert(num == n && den == d, s"cust $ck")
      assert(twa == n * 100 / d)
      val prices = os.map(_._3)
      assert(twa >= prices.min * 100 - 100 && twa <= prices.max * 100 + 100)
    }
    // customers with all orders on one day (den 0) are excluded, not 0-div
    assert(got.forall(_.getLong(2) > 0))
  }

  test("q235 readability: counts and score replay on a driver-side regex " +
    "pass; bands partition by the exact score") {
    val rows = TextAnalysis.readability(spark, dir).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val t = texts(r.getLong(0))
      def cnt(re: String) = re.r.findAllIn(t).size.toLong
      val w = math.max(cnt("\\S+"), 1L)
      val s2 = math.max(cnt("[.!?]+"), 1L)
      val y = cnt("[aeiouyAEIOUY]+")
      assert(r.getLong(1) == w && r.getLong(2) == s2 && r.getLong(3) == y)
      val f = 206.835 - 1.015 * (w.toDouble / s2.toDouble) -
        84.6 * (y.toDouble / w.toDouble)
      assert(r.getLong(4) == math.floor(f * 10000.0).toLong)
      val band = if (f >= 60.0) "easy" else if (f >= 30.0) "medium" else "hard"
      assert(r.getString(5) == band)
    }
  }

  test("q237 join-size estimate: CM inner product never underestimates, " +
    "min lane and bound flag replay from the exact join size") {
    val rows = Sketches.joinSizeEstimate(spark, dir).collect()
    assert(rows.length == 4)
    val exact = Tables.events(spark, dir)
      .groupBy(col("user_id")).count().withColumnRenamed("count", "na")
      .join(Tables.orders(spark, dir).groupBy(col("o_custkey")).count()
        .withColumnRenamed("count", "nb"),
        col("user_id") === col("o_custkey"))
      .agg(sum(col("na") * col("nb"))).collect()(0).getLong(0)
    val ests = rows.map(_.getLong(1))
    rows.foreach { r =>
      assert(r.getLong(3) == exact)
      assert(r.getLong(1) >= exact, "CM inner product must not underestimate")
      assert(r.getLong(2) == ests.min)
      assert(r.getBoolean(6), "bound flag must hold at this scale")
    }
  }

  test("q260 diff-in-diff: deltas replay bit-exactly and DiD nets the " +
    "two variants' deltas") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val cut = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val perUser = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) ms",
        "event_type", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.map { case (uid, rs) =>
        def micros(pre: Boolean): Long = (rs.filter(t => t._3 == "purchase"
          && (if (pre) t._2 < cut else t._2 >= cut))
          .map(t => BigDecimal(t._4).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum * 1000000).toLong
        (if (md5hex(uid.toString).charAt(0) < '8') "A" else "B",
          micros(pre = true), micros(pre = false))
      }
    def delta(v: String): (Long, Double) = {
      val g = perUser.filter(_._1 == v)
      val n = g.size.toLong
      (n, g.map(t => BigInt(t._3)).sum.toLong.toDouble / n.toDouble -
        g.map(t => BigInt(t._2)).sum.toLong.toDouble / n.toDouble)
    }
    val (na, da) = delta("A"); val (nb, db) = delta("B")
    val r = Events.diffInDiff(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == na && r(0).getLong(1) == nb)
    assert(r(0).getDouble(2) == da && r(0).getDouble(3) == db)
    assert(r(0).getDouble(4) == da - db)
  }

  test("q259 triplet mining: brute-force replay per anchor; labels " +
    "separate and margin reconstructs from the rounded lanes") {
    val vecs = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding", "label").collect().toSeq
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toIndexedSeq, r.getInt(2)))
    def unit(v: IndexedSeq[Double]): IndexedSeq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val us = vecs.map { case (id, v, l) => (id, unit(v), l) }
    val anchors = us.sortBy(_._1).take(10)
    val got = SimilaritySearch.tripletMining(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.length == anchors.length)
    got.foreach { case (aid, albl, pid, pcos, nid, ncos, margin) =>
      val (_, au, al) = anchors.find(_._1 == aid).get
      assert(al == albl)
      def best(pred: ((Long, IndexedSeq[Double], Int)) => Boolean) =
        us.filter(t => t._1 != aid && pred(t))
          .map(t => (t._1, t._2.zip(au).map { case (a, b) => a * b }.sum))
          .minBy { case (id, c) => (-c, id) }
      val (bp, bpc) = best(_._3 == al)
      val (bn, bnc) = best(_._3 != al)
      assert(pid == bp && nid == bn, s"anchor $aid")
      assert(math.abs(pcos - bpc) < 1e-6 && math.abs(ncos - bnc) < 1e-6)
      // label contract: positive shares the anchor label, negative not
      assert(us.find(_._1 == pid).get._3 == albl)
      assert(us.find(_._1 == nid).get._3 != albl)
      assert(margin == pcos - ncos, "margin reconstructs from the lanes")
    }
  }

  test("q257 word dropout: replays every drop decision; rate ~10% and " +
    "the augmented text is an exact subsequence") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val expected = docs.map { case (id, ws) =>
      val kept = ws.zipWithIndex.collect {
        case (w, i) if md5hex(s"$id:$i").take(2) >= "1a" => w
      }
      (id, ws.size.toLong, (ws.size - kept.size).toLong, kept.mkString(" "))
    }.toSet
    val got = TextAnalysis.wordDropout(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSet == expected)
    val totW = got.map(_._2).sum.toDouble
    val totD = got.map(_._3).sum.toDouble
    assert(math.abs(totD / totW - 26.0 / 256.0) < 0.02,
      s"drop rate ${totD / totW} far from 26/256")
    // subsequence law: kept words appear in original order
    got.foreach { case (id, _, _, aug) =>
      val orig = docs.find(_._1 == id).get._2.iterator
      aug.split(" ").filter(_.nonEmpty).foreach { w =>
        assert(orig.contains(w), s"doc $id: '$w' breaks subsequence order")
      }
    }
  }

  test("q258 negative sampling: replays the sqrt-chain weights and every " +
    "draw's interval; draws conserve and skew toward heavy words") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val counts = Tables.documents(spark, dir)
      .select("text").collect().toSeq
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }.toSeq
    val weights = counts.map { case (w, c) =>
      w -> math.floor(math.sqrt(math.sqrt(c.toDouble * c * c)) * 1e6).toLong
    }.sortBy(_._1)
    val lows = weights.scanLeft(0L)(_ + _._2).init
    val intervals = weights.zip(lows).map { case ((w, we), lo) => (w, we, lo) }
    val wt = weights.map(_._2).sum
    val drawn = (0 until 1000).map { j =>
      val u32 = java.lang.Long.parseLong(md5hex(s"neg:$j").take(8), 16)
      val t = (BigInt(u32) * wt / BigInt(4294967296L)).toLong
      intervals.find(iv => t >= iv._3 && t < iv._3 + iv._2).get._1
    }
    val expected = drawn.groupBy(identity).map { case (w, o) =>
      val we = weights.find(_._1 == w).get._2
      (w, we, o.size.toLong)
    }.toSet
    val got = Sampling.negativeSampling(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == expected)
    assert(got.map(_._3).sum == 1000L, "all 1000 draws land in an interval")
    // ¾-power skew: the heaviest word draws at least as often as the
    // lightest DRAWN word (sanity, not a distributional test)
    val byW = got.sortBy(_._2)
    assert(byW.last._3 >= byW.head._3)
  }

  test("q255 vocab growth: replays the prefix curve; both columns are " +
    "monotone and the last decile covers the whole corpus") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val mx = docs.map(_._1).max
    val expected = (1 to 10).map { d =>
      val cp = (mx + 1) * d / 10 - 1
      val prefix = docs.filter(_._1 <= cp)
      (d.toLong, cp, prefix.map(_._2.size.toLong).sum,
        prefix.flatMap(_._2).distinct.size.toLong)
    }.toSet
    val got = TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected)
    val byD = got.sortBy(_._1)
    byD.zip(byD.tail).foreach { case ((_, _, t1, v1), (_, _, t2, v2)) =>
      assert(t2 >= t1 && v2 >= v1, "growth curves are monotone")
    }
    assert(byD.last._3 == docs.map(_._2.size.toLong).sum)
    assert(byD.last._4 == docs.flatMap(_._2).distinct.size.toLong)
  }

  test("q256 Good-Turing: freq-of-freqs replays; hapax mass and the GT " +
    "identity Σ n_r·r = N hold") {
    val counts = Tables.documents(spark, dir)
      .select("text").collect().toSeq
      .flatMap(_.getString(0).split(" "))
      .groupBy(identity).map { case (_, o) => o.size.toLong }.toSeq
    val ff = counts.groupBy(identity)
      .map { case (r, o) => r -> o.size.toLong }
    val n = counts.sum
    val n1 = ff.getOrElse(1L, 0L)
    val expected = ff.filter(_._1 <= 10).map { case (r, nr) =>
      (r, nr, (r + 1) * ff.getOrElse(r + 1, 0L) * 1000000L / nr,
        n1 * 1000000L / n)
    }.toSet
    val got = TextAnalysis.goodTuring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected)
    // conservation over the FULL table (not just r<=10): Σ n_r·r = N
    assert(ff.map { case (r, nr) => r * nr }.sum == n)
  }

  test("q254 permutation test: replays every permutation's mean diff and " +
    "the p-value counts exactly the extreme ones") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val nPerm = 40
    val perUser = Tables.events(spark, dir)
      .select("user_id", "event_type", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.map { case (uid, rs) =>
        (uid, (rs.filter(_._2 == "purchase")
          .map(t => BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum * 1000000).toLong)
      }
    def diff(assign: Long => Boolean): Option[Double] = {
      val (a, b) = perUser.partition(t => assign(t._1))
      if (a.isEmpty || b.isEmpty) None
      else Some(math.abs(
        a.map(t => BigInt(t._2)).sum.toLong.toDouble / a.size.toDouble -
          b.map(t => BigInt(t._2)).sum.toLong.toDouble / b.size.toDouble))
    }
    val obs = diff(uid => md5hex(uid.toString).charAt(0) < '8').get
    val perms = (0 until nPerm).flatMap(k =>
      diff(uid => md5hex(s"$uid:$k").charAt(0) < '8'))
    val extreme = perms.count(_ >= obs)
    val r = Events.permutationTest(spark, dir, nPerm).collect()
    assert(r.length == 1)
    assert(r(0).getDouble(0) == obs)
    assert(r(0).getLong(1) == perms.size)
    assert(r(0).getLong(2) == extreme)
    assert(r(0).getLong(3) == extreme.toLong * 1000000L / perms.size)
    // sanity: a null split's observed diff is not more extreme than every
    // permutation (p > 0 would be suspicious with 40 null draws ONLY if
    // the md5 split itself were biased — it is one more null draw)
    assert(r(0).getLong(2) >= 0 && r(0).getLong(2) <= perms.size)
  }

  test("q253 Mann-Whitney: crossing-count U equals the brute-force " +
    "all-pairs definition and U_A + U_B = n_A * n_B") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val perUser = Tables.events(spark, dir)
      .select("user_id", "event_type", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.map { case (uid, rs) =>
        val micros = (rs.filter(_._2 == "purchase")
          .map(t => BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum * 1000000).toLong
        (if (md5hex(uid.toString).charAt(0) < '8') "A" else "B") -> micros
      }
    val as = perUser.filter(_._1 == "A").map(_._2)
    val bs = perUser.filter(_._1 == "B").map(_._2)
    // brute force over all cross pairs: 2U_A = 2·#(a>b) + #(a==b)
    val u2a = as.map(a => bs.map(b =>
      if (a > b) 2L else if (a == b) 1L else 0L).sum).sum
    val r = Events.mannWhitney(spark, dir).collect()
    assert(r.length == 1)
    val (na, nb, gU2a, gU2b, auc) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
    assert(na == as.size && nb == bs.size)
    assert(gU2a == u2a, s"crossing-count U2 $gU2a vs brute force $u2a")
    assert(gU2a + gU2b == 2L * na * nb, "U_A + U_B = n_A·n_B")
    assert(auc == u2a * 1000000L / (2L * na * nb))
    assert(auc > 0 && auc < 1000000L, "AUC is a proper probability")
  }

  test("q252 CUPED: theta and adjusted means replay bit-exactly; the " +
    "weighted grand mean is invariant under the adjustment") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val cut = java.time.LocalDateTime.parse("2024-01-16T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val perUser = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_millis(cast(ts as timestamp)) ms",
        "event_type", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.map { case (uid, rs) =>
        def micros(pre: Boolean): Long = (rs.filter(t => t._3 == "purchase"
          && (if (pre) t._2 < cut else t._2 >= cut))
          .map(t => BigDecimal(t._4).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum * 1000000).toLong
        (if (md5hex(uid.toString).charAt(0) < '8') "A" else "B",
          micros(pre = true), micros(pre = false))
      }
    val n = perUser.size.toLong
    val sx = perUser.map(t => BigInt(t._2)).sum
    val sy = perUser.map(t => BigInt(t._3)).sum
    val cxx = n * perUser.map(t => BigInt(t._2) * t._2).sum - sx * sx
    val cxy = n * perUser.map(t => BigInt(t._2) * t._3).sum - sx * sy
    val cyy = n * perUser.map(t => BigInt(t._3) * t._3).sum - sy * sy
    val theta = cxy.toDouble / cxx.toDouble
    val r2e6 = ((cxy * 1000 / cxx) * (cxy * 1000 / cyy)).toLong
    val got = Events.cuped(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    assert(got.keySet == Set("A", "B"))
    Seq("A", "B").foreach { v =>
      val g = perUser.filter(_._1 == v)
      val nv = g.size.toLong
      val meanY = g.map(t => BigInt(t._3)).sum.toLong.toDouble / nv.toDouble
      val dx = g.map(t => BigInt(t._2)).sum.toLong.toDouble / nv.toDouble -
        sx.toLong.toDouble / n.toDouble
      val (gn, gMeanY, gAdj, gTheta, gR2) = got(v)
      assert(gn == nv && gMeanY == meanY && gTheta == theta && gR2 == r2e6)
      assert(gAdj == meanY - theta * dx, v)
    }
    // CUPED law: Σ n_v·(adj_v − y_v) = −θ·Σ n_v·dx_v = 0 — the adjustment
    // moves variants relative to each other, never the grand mean
    val drift = got.map { case (_, (nv, my, adj, _, _)) =>
      nv.toDouble * (adj - my) }.sum
    val scale = math.max(1.0, got.values.map(t =>
      math.abs(t._1.toDouble * t._2)).sum)
    assert(math.abs(drift) / scale < 1e-12, s"grand-mean drift $drift")
  }

  test("q250 hazard table: replays lifetimes; at-risk telescopes and " +
    "every user churns exactly once") {
    val life = Tables.events(spark, dir)
      .selectExpr("user_id", "date_trunc('day', cast(ts as timestamp)) d")
      .collect().toSeq.map(r => (r.getLong(0), r.getTimestamp(1)))
      .groupBy(_._1).map { case (_, rs) =>
        val days = rs.map(_._2.getTime / 86400000L)
        days.max - days.min
      }.toSeq
    val dist = life.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val expected = dist.map { case (t, churned) =>
      val atRisk = dist.filter(_._1 >= t).values.sum
      (t, atRisk, churned, churned * 1000000L / atRisk)
    }.toSet
    val got = Events.hazardTable(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected)
    // conservation: at_risk(t) = Σ churned(s ≥ t), and the table only has
    // rows where someone churned, so between adjacent OUTPUT rows the
    // at-risk count shrinks by EXACTLY the earlier row's churn
    val byT = got.sortBy(_._1)
    byT.zip(byT.tail).foreach { case ((_, ar1, ch1, _), (_, ar2, _, _)) =>
      assert(ar1 - ch1 == ar2,
        s"at-risk must telescope exactly: $ar1 - $ch1 != $ar2")
    }
    assert(got.map(_._3).sum == life.size, "every user churns once")
  }

  test("q251 chi-square: cells replay from first principles and the " +
    "statistic is tiny for an md5 split (independence holds)") {
    import java.security.MessageDigest
    def variant(uid: Long): String = {
      val h = MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (h.charAt(0) < '8') "A" else "B"
    }
    val obs = Tables.events(spark, dir)
      .select("user_id", "event_type").collect().toSeq
      .map(r => (variant(r.getLong(0)), r.getString(1)))
      .groupBy(identity).map { case (k, o) => k -> o.size.toLong }
    val r = obs.groupBy(_._1._1).map { case (v, m) => v -> m.values.sum }
    val c = obs.groupBy(_._1._2).map { case (e, m) => e -> m.values.sum }
    val t = obs.values.sum
    val expected = obs.map { case ((v, e), o) =>
      val num = BigInt(o * t - r(v) * c(e))
      (v, e, o, r(v) * c(e) * 1000L / t,
        (num * num * 1000000 / (BigInt(r(v)) * c(e) * t)).toLong)
    }.toSet
    val got = Events.chiSquare(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(got.toSet == expected)
    // the md5 split is genuinely independent of event mix: χ² (sum of the
    // e6 cell contributions, df = types-1) stays far below any rejection
    // threshold at this scale
    val chi2 = got.map(_._5).sum / 1e6
    assert(chi2 < 30.0, s"chi2=$chi2 — the null split should not reject")
  }

  test("q248 coreset: replays lattice, seeds, sensitivities and the " +
    "integer acceptance; far points are kept preferentially") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val vecs = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
    val d = vecs.head._2.length
    val lo = (0 until d).map(i => vecs.map(_._2(i)).min)
    val hi = (0 until d).map(i => vecs.map(_._2(i)).max)
    def codes(v: IndexedSeq[Double]): IndexedSeq[Long] =
      (0 until d).map { i =>
        if (hi(i) > lo(i))
          math.round((v(i) - lo(i)) / (hi(i) - lo(i)) * 255.0) - 128L
        else 0L
      }
    val coded = vecs.map { case (id, v) => (id, codes(v)) }
    val seeds = coded.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(4)
    val seedIds = seeds.map(_._1).toSet
    val sens = coded.map { case (id, c) =>
      id -> seeds.map { case (_, sc) =>
        (0 until d).map(i => (c(i) - sc(i)) * (c(i) - sc(i))).sum
      }.min
    }.toMap
    val sTotal = sens.values.map(BigInt(_)).sum
    val expected = coded.map { case (id, _) =>
      val u32 = BigInt(java.lang.Long.parseLong(md5hex(id.toString).take(8), 16))
      (id, sens(id),
        u32 * sTotal < BigInt(sens(id)) * 64 * BigInt(4294967296L),
        seedIds.contains(id))
    }.toSet
    val got = SimilaritySearch.coresetSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet
    assert(got == expected)
    // sensitivity bias: mean sensitivity of kept points exceeds the corpus
    // mean (the whole point of a coreset over uniform sampling)
    val kept = got.filter(_._3)
    assert(kept.nonEmpty && kept.size < got.size)
    assert(kept.map(_._2).sum.toDouble / kept.size >
      got.map(_._2).sum.toDouble / got.size)
    // seeds have zero sensitivity
    got.filter(_._4).foreach(t => assert(t._2 == 0L))
  }

  test("q247 KN bigram: replays the discounted-mass formula and KN " +
    "probability never exceeds 1") {
    val texts = Tables.documents(spark, dir)
      .select("text").collect().toSeq.map(_.getString(0).split(" ").toSeq)
      .filter(_.length >= 2)
    val bgs = texts.flatMap(ws => ws.sliding(2).map(p => (p(0), p(1))))
    val c12 = bgs.groupBy(identity).map { case (bg, o) => bg -> o.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w1, m) =>
      w1 -> m.values.sum }
    val n1fw = c12.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val n1bw = c12.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val dTypes = c12.size.toLong
    val expected = c12.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(25)
      .map { case ((w1, w2), c) =>
        val t1 = (4 * c - 3) * 1000000000L / (4 * c1(w1))
        val t2 = 3 * n1fw(w1) * n1bw(w2) * 1000000000L /
          (4 * c1(w1) * dTypes)
        (w1, w2, c, t1 + t2)
      }.toSet
    val got = TextAnalysis.knBigram(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == expected)
    // a smoothed probability is a probability
    got.foreach { case (w1, w2, _, kn) =>
      assert(kn > 0 && kn <= 1000000000L, s"$w1 $w2: $kn")
    }
  }

  test("q246 A/B test: Welch t replays bit-exactly from per-user micros " +
    "and both variants are populated") {
    import java.security.MessageDigest
    def nib(id: Long): Char = MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.charAt(0)
    val perUser = Tables.events(spark, dir)
      .select("user_id", "event_type", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.map { case (uid, rs) =>
        val micros = rs.filter(_._2 == "purchase")
          .map(t => BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum * 1000000
        (if (nib(uid) < '8') "A" else "B") -> micros.toLong
      }
    def stats(v: String): (Long, BigInt, BigInt) = {
      val xs = perUser.filter(_._1 == v).map(_._2)
      (xs.size.toLong, xs.map(BigInt(_)).sum,
        xs.map(x => BigInt(x) * x).sum)
    }
    val (na, sxa, sxxa) = stats("A"); val (nb, sxb, sxxb) = stats("B")
    assert(na > 0 && nb > 0)
    val ma = sxa.toDouble / na.toDouble; val mb = sxb.toDouble / nb.toDouble
    val va = (sxxa.toDouble - sxa.toDouble * sxa.toDouble / na.toDouble) /
      (na - 1).toDouble
    val vb = (sxxb.toDouble - sxb.toDouble * sxb.toDouble / nb.toDouble) /
      (nb - 1).toDouble
    val t = (ma - mb) / math.sqrt(va / na.toDouble + vb / nb.toDouble)
    val r = Events.abTest(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == na && r(0).getLong(1) == nb)
    assert(r(0).getDouble(2) == ma && r(0).getDouble(3) == mb)
    assert(r(0).getDouble(4) == va && r(0).getDouble(5) == vb)
    assert(r(0).getDouble(6) == t)
    assert(r(0).getBoolean(7) == (math.abs(t) > 1.959964))
  }

  test("q245 grouped OLS: replays the sufficient-stat solve with BigInt " +
    "and the fitted line passes through the mean point") {
    val rows = Tables.lineitem(spark, dir)
      .selectExpr("l_returnflag",
        "cast(l_quantity as long) x",
        "cast(round(l_extendedprice * 100) as long) div 100 y")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val got = Relational.groupedOls(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == rows.keySet)
    rows.foreach { case (flag, rs) =>
      val n = BigInt(rs.size)
      val sx = BigInt(rs.map(_._2).sum); val sy = BigInt(rs.map(_._3).sum)
      val sxx = rs.map(t => BigInt(t._2) * t._2).sum
      val syy = rs.map(t => BigInt(t._3) * t._3).sum
      val sxy = rs.map(t => BigInt(t._2) * t._3).sum
      val cxy = n * sxy - sx * sy
      val cxx = n * sxx - sx * sx
      val cyy = n * syy - sy * sy
      val slope = cxy * 1000 / cxx
      val intercept = (sy * 1000 - slope * sx) / n
      val r2 = cxy * cxy * 10000 / (cxx * cyy)
      assert(got(flag) == ((n.toLong, slope.toLong, intercept.toLong,
        r2.toLong)), flag)
      // OLS law: the fitted line passes through (x̄, ȳ) — in e3 fixed
      // point, slope·Σx + intercept·n replays Σy·1000 within the
      // truncation budget of one unit per division
      val residual = (sy * 1000 - (slope * sx + intercept * n)).abs
      assert(residual <= n, s"$flag: mean-point residual $residual > $n")
      // R² is a valid ratio in basis points
      assert(r2 >= 0 && r2 <= 10000, s"$flag: r2=$r2")
    }
  }

  test("q244 postings index: rebuilds from first principles, gaps decode " +
    "back to the exact doc and position sets") {
    val shards = 4
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .toSeq.map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    // expected index, built naively driver-side
    val expected = docs.flatMap { case (id, ws) =>
      ws.zipWithIndex.map { case (w, p) => (w, id, p.toLong) }
    }.groupBy(t => (t._1, t._2)).toSeq
      .map { case ((term, id), occ) =>
        val ps = occ.map(_._3).sorted
        val deltas = ps.head +: ps.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
        (term, id, ps.length.toLong, deltas.mkString(","))
      }
      .groupBy { case (term, id, _, _) => (term, id % shards) }
      .map { case ((term, shard), entries) =>
        val byDoc = entries.sortBy(_._2)
        val gaps = byDoc.head._2 +:
          byDoc.map(_._2).sliding(2).collect { case Seq(a, b) => b - a }.toSeq
        val postings = byDoc.zip(gaps)
          .map { case ((_, _, tf, posStr), g) => s"$g:$tf:$posStr" }
          .mkString(" ")
        (term, shard, byDoc.size.toLong, byDoc.map(_._3).sum, postings)
      }.toSet
    val got = Retrieval.postingsIndex(spark, dir, shards).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(got == expected)
    // decode law: per term, Σ_shards df == #docs containing the term, and
    // each shard's doc-gap prefix sums land on ids ≡ shard (mod shards)
    got.groupBy(_._1).foreach { case (term, rows) =>
      val totalDf = rows.toSeq.map(_._3).sum
      assert(totalDf == docs.count(_._2.contains(term)), term)
      rows.foreach { case (_, shard, df, _, postings) =>
        val entries = postings.split(" ")
        assert(entries.length == df)
        var docId = 0L
        entries.foreach { e =>
          docId += e.split(":")(0).toLong
          assert(docId % shards == shard, s"$term/$shard")
        }
      }
    }
  }

  test("q263 AMS F2: counters, group means, median and exact F2 all replay " +
    "from first principles; the estimator is unbiased in structure") {
    val freq = Tables.events(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("f")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def u32(s: String): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(8), 16)
    val est = (0 until 6).map { r =>
      val sq = (0 until 9).map { c =>
        val j = r * 9 + c
        val s = freq.map { case (v, f) =>
          (1L - 2L * (u32(s"ams:$j:$v") % 2)) * f }.sum
        BigInt(s) * s
      }.sum
      r.toLong -> (sq / 9).toLong
    }
    val f2 = freq.map { case (_, f) => BigInt(f) * f }.sum.toLong
    val nRows = freq.map(_._2).sum
    val medExp = est.sortBy { case (r, e) => (e, r) }.apply(2)._2 // rank 3 of 6
    val got = Sketches.amsF2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.length == 6)
    assert(got.map(r => r._1 -> r._2).toSet == est.toSet)
    got.foreach { case (_, _, fe, fx, n, nd, ppm) =>
      assert(fe == medExp && fx == f2 && n == nRows && nd == freq.length)
      // Scala / truncates toward zero, exactly like Spark DIV / DuckDB //
      assert(ppm == (fe - fx) * 1000000L / fx)
    }
    // sanity of the sketch itself: the median estimate lands within 3x of
    // the truth on this data (AMS guarantees ~1/sqrt(9) relative noise)
    assert(medExp > f2 / 3 && medExp < f2 * 3)
  }

  test("q264 Theil-Sen: slope and intercept equal the brute-force pair/point " +
    "lower medians on exact micros") {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts").cast("timestamp")).as("day"))
      .agg((sum(col("value").cast("decimal(24,6)")) * 1000000)
        .cast("long").as("y"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    val d0 = daily.head._1.getTime
    val idx = daily.map { case (t, y) =>
      ((t.getTime - d0) / 86400000L, y) }
    val slopes = (for {
      (di, yi) <- idx; (dj, yj) <- idx if di < dj
    } yield ((yj - yi) * 1000L / (dj - di), di, dj)).sortBy(t => (t._1, t._2, t._3))
    val slope = slopes((slopes.length + 1) / 2 - 1)._1
    val bs = idx.map { case (d, y) => (y * 1000L - slope * d, d) }
      .sortBy(identity)
    val intercept = bs((bs.length + 1) / 2 - 1)._1
    val got = Events.theilSen(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == idx.length && r.getLong(1) == slopes.length)
    assert(r.getLong(2) == slope && r.getLong(3) == intercept)
  }

  test("q265 activity completeness: replays per-user from first principles; " +
    "boundary laws hold") {
    val byUser = Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("day", col("ts").cast("timestamp")).as("day"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .groupBy(_._1).toSeq
    val expected = byUser.map { case (u, rows) =>
      val days = rows.map(_._2).sorted
      val distinct = days.distinct
      val span = (distinct.last - distinct.head) / 86400000L + 1
      val gaps = distinct.toSeq.sliding(2).collect {
        case Seq(x, y) => (y - x) / 86400000L - 1 }.toSeq
      (u, days.length.toLong, distinct.length.toLong, span,
        if (gaps.isEmpty) 0L else gaps.max,
        distinct.length * 1000000L / span)
    }.toSet
    val got = Events.activityCompleteness(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // laws: active <= span; gap < span; full coverage iff gap-free
    got.foreach { case (_, nEv, act, span, gap, ppm) =>
      assert(nEv >= act && act <= span && gap <= span - act)
      assert((ppm == 1000000L) == (act == span))
      if (gap == 0) assert(act == span)
    }
  }

  test("q266 minhash error audit: per-bucket stats replay from the exact " +
    "pair/signature recomputation; the binomial band test is exact") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        val sh = (0 until math.max(ws.length - 2, 0))
          .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").distinct
        r.getLong(0) -> sh
      }.filter(_._2.nonEmpty)
    def h(i: Int, s: String): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$i:$s").take(15), 16)
    val sigs = docs.map { case (id, sh) =>
      id -> (0 until 16).map(i => sh.map(h(i, _)).min) }.toMap
    val shSets = docs.map { case (id, sh) => id -> sh.toSet }.toMap
    val stats = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      c = (shSets(a) & shSets(b)).size.toLong if c > 0
    } yield {
      val u = sa.size + sb.size - c
      val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toLong
      val diff = math.abs(m * u - 16 * c)
      (math.min(c * 10 / u, 9L), diff * 1000000L / (16 * u),
        if (diff * diff <= 64 * c * (u - c)) 1L else 0L)
    }).toSeq
    val expected = stats.groupBy(_._1).map { case (bk, rows) =>
      (bk, rows.length.toLong, rows.map(_._2).sum / rows.length,
        rows.map(_._2).max, rows.map(_._3).sum,
        rows.map(_._3).sum * 1000000L / rows.length)
    }.toSet
    val got = Dedup.minhashErrorAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the audit discriminates: some error is nonzero, most pairs in-band
    assert(stats.exists(_._2 > 0))
    assert(stats.map(_._3).sum * 10 >= stats.length * 7)
  }

  test("q267 declarative HLL: registers, fixed-point indicator and the " +
    "one-division estimate replay exactly; regime-aware accuracy law") {
    val users = Tables.events(spark, dir).select(col("user_id"))
      .collect().map(_.getLong(0))
    def h60(v: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(v.toString).take(15), 16)
    val twoP52 = 4503599627370496L
    val regs = users.map(h60).map(h => (h / twoP52, h % twoP52))
      .map { case (b, rem) =>
        (b, if (rem == 0) 53L else 53L - java.lang.Long.toBinaryString(rem).length)
      }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    val sScaled = regs.values.map(mb => 1L << (53 - mb)).sum +
      (256L - regs.size) * (1L << 53)
    val vZero = 256L - regs.size
    val exact = users.distinct.length.toLong
    val numer = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 *
      9007199254740992.0
    val est = numer / sScaled.toDouble
    val relErr = (est - exact.toDouble) / exact.toDouble
    val got = Sketches.hllDeclarative(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 256L && r.getLong(1) == vZero &&
      r.getLong(2) == sScaled && r.getLong(4) == exact)
    assert(r.getDouble(3) == est && r.getDouble(5) == relErr)
    // accuracy law, regime-aware: raw HLL floors at ~alpha*m when n << m
    // (sf0.001 has 15 users over 256 registers), which is exactly the
    // small-range regime the contract ships v_zero for. Apply Flajolet's
    // linear-counting correction DRIVER-side (ln is libm, so it stays out
    // of the cross-engine contract) and require it to recover the truth;
    // in the raw regime (est > 2.5m) require the 3-sigma band instead.
    if (est <= 2.5 * 256) {
      assert(vZero > 0)
      val lc = 256.0 * math.log(256.0 / vZero.toDouble)
      assert(math.abs(lc - exact.toDouble) / exact.toDouble < 0.2,
        s"linear counting $lc vs exact $exact")
    } else {
      // Flajolet: sigma ~ 1.04/sqrt(256) = 6.5%; 3 sigma = 19.5%
      assert(math.abs(relErr) < 0.195)
    }
  }

  test("q268 quantile normalize: replays the rank mapping exactly; " +
    "monotone within source and boundary-exact at the top rank") {
    val scored = TextAnalysis.qualityScores(spark, dir)
      .select(col("doc_id"), col("avg_e6"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val n = scored.length.toLong
    val pooledSorted = scored.map(t => (t._2, t._1)).sorted.map(_._1)
    val expected = scored.groupBy(_._3).toSeq.flatMap { case (src, rows) =>
      val ns = rows.length.toLong
      rows.sortBy(t => (t._2, t._1)).zipWithIndex.map { case ((id, raw, _), i) =>
        val rk = i + 1L
        val pos = (rk * n + ns - 1) / ns
        (id, src, rk, raw, pooledSorted((pos - 1).toInt))
      }
    }.toSet
    val got = TextAnalysis.quantileNormalize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
    assert(got.size == n) // total: every doc normalized exactly once
    // within a source, normalized scores are monotone in rank, and the
    // top rank maps to the pooled maximum
    val poolMax = pooledSorted.last
    got.groupBy(_._2).foreach { case (_, rows) =>
      val byRank = rows.toSeq.sortBy(_._3)
      byRank.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 <= b._5)
        case _ =>
      }
      assert(byRank.last._5 == poolMax)
    }
  }

  test("q269 HLL merge rollup: per-type registers replay; the max-merge is " +
    "lossless — the ALL row equals a from-scratch sketch of the union") {
    val rows = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h60(v: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(v.toString).take(15), 16)
    val twoP52 = 4503599627370496L
    def regsOf(vs: Seq[Long]): Map[Long, Long] =
      vs.map(h60).map(h => (h / twoP52, h % twoP52))
        .map { case (b, rem) =>
          (b, if (rem == 0) 53L
              else 53L - java.lang.Long.toBinaryString(rem).length)
        }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    def sOf(regs: Map[Long, Long]): Long =
      regs.values.map(mb => 1L << (53 - mb)).sum + (256L - regs.size) * (1L << 53)
    val byType = rows.groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2) }
    val perType = byType.map { case (t, vs) => t -> regsOf(vs.toSeq) }
    // max-merge across types
    val mergedRegs = perType.values.flatten
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    val expected = (perType.toSeq.map { case (t, regs) =>
      (t, 256L - regs.size, sOf(regs), byType(t).distinct.length.toLong)
    } :+ (("ALL", 256L - mergedRegs.size, sOf(mergedRegs),
      rows.map(_._2).distinct.length.toLong))).toSet
    val got = Sketches.hllMergeRollup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .toSet
    assert(got == expected)
    // losslessness: merged registers == registers of the unioned stream
    assert(mergedRegs == regsOf(rows.map(_._2).toSeq))
  }

  test("q270 class separability: replays from first-principles BigInt " +
    "moments; symmetry-free upper triangle; fisher discriminates") {
    val rows = Tables.embeddings(spark, dir)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => math.floor(x * 10000.0).toLong)))
    val byLabel = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val stats = byLabel.map { case (l, rs) =>
      val n = rs.length.toLong
      val ss = rs.flatMap(_._2).map(q => BigInt(q) * q).sum
      val s = (0 until 64).map(d => rs.map(_._2(d)).sum)
      val s2 = s.map(x => BigInt(x) * x).sum
      val spread = ((BigInt(n) * ss - s2) * 1000000 /
        (BigInt(n) * n * 100000000)).toLong
      (l, n, s, spread)
    }
    val expected = (for {
      (la, na, sa, spa) <- stats; (lb, nb, sb, spb) <- stats if la < lb
    } yield {
      val num = (0 until 64).map(d =>
        (BigInt(sa(d)) * nb - BigInt(sb(d)) * na)).map(t => t * t).sum
      val d2 = (num * 1000000 /
        (BigInt(na) * nb * na * nb * 100000000)).toLong
      (la, lb, na, nb, d2, spa, spb,
        d2 * 1000L / math.max(spa + spb, 1L))
    }).toSet
    val got = SimilaritySearch.classSeparability(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got == expected)
    val k = stats.length
    assert(got.size == k * (k - 1) / 2) // full upper triangle, no dupes
    // the audit discriminates: separability varies across pairs
    assert(got.map(_._8).size >= 2 || got.map(_._5).toSeq.distinct.size >= 2)
  }

  test("q271 sorted neighborhood: equals the brute-force sorted-window " +
    "scan; candidate volume is O(n*w) by construction") {
    def lev(a: String, b: String): Long = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length).toLong
    }
    val names = Tables.part(spark, dir).select(col("p_name"))
      .distinct().collect().map(_.getString(0)).sorted
    val expected = (for {
      i <- names.indices; k <- 1 to 5 if i + k < names.length
      a = names(i); b = names(i + k)
      ld = lev(a, b) if ld <= 3
    } yield (a, b, k.toLong, ld,
      a.split(" ").head == b.split(" ").head,
      a.split(" ").last == b.split(" ").last)).toSet
    val got = Linkage.sortedNeighborhood(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    assert(got == expected)
    // SNM finds pairs on this fixture and they are genuine near-names
    assert(got.nonEmpty && got.forall(_._4 <= 3))
  }

  test("q273 entity merge: equals a driver-side union-find over the " +
    "unioned q140+q271 pair graph with most-frequent-spelling survivorship") {
    def lev(a: String, b: String): Long = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length).toLong
    }
    val counts = Tables.part(spark, dir).select(col("p_name")).collect()
      .map(_.getString(0)).groupBy(identity).map { case (n, xs) =>
        n -> xs.length.toLong }
    val names = counts.keys.toArray.sorted
    val blocked = for {
      a <- names; b <- names if a < b
      if a.split(" ").head == b.split(" ").head ||
        a.split(" ").last == b.split(" ").last
      if lev(a, b) <= 3
    } yield (a, b)
    val snm = for {
      i <- names.indices; k <- 1 to 5 if i + k < names.length
      if lev(names(i), names(i + k)) <= 3
    } yield (names(i), names(i + k))
    val pairs = (blocked ++ snm).distinct
    // union-find with path compression — the independent transitive closure
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (_, members) =>
        val clusterId = members.min
        val canon = members.minBy(n => (-counts(n), n))
        (clusterId, canon, counts(canon), members.length.toLong,
          members.map(counts).sum)
      }.toSet
    val got = Linkage.entityMerge(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
    // the merge is non-trivial on this fixture: at least one multi-member
    // cluster, and transitivity actually fires (cluster with >= 2 members
    // whose total row mass exceeds the canonical spelling's own rows)
    assert(got.exists(_._4 >= 2))
    assert(got.forall(c => c._5 >= c._3 && c._4 >= 2))
  }

  test("q274 BH-FDR: replays every metric's permutation p-value and the " +
    "step-up adjustment exactly; adjusted p dominates raw p monotonically") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val nPerm = 40
    val counts = Tables.events(spark, dir)
      .select("user_id", "event_type").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).map { case ((u, t), xs) => (u, t, xs.size.toLong) }
      .toSeq
    val types = counts.map(_._2).distinct.sorted
    def diff(t: String, assign: Long => Boolean): Option[Double] = {
      val users = counts.filter(_._2 == t)
      val (a, b) = users.partition(x => assign(x._1))
      if (a.isEmpty || b.isEmpty) None
      else Some(math.abs(
        a.map(_._3).sum.toDouble / a.size.toDouble -
          b.map(_._3).sum.toDouble / b.size.toDouble))
    }
    val raw = types.flatMap { t =>
      val obs = diff(t, u => md5hex(u.toString).charAt(0) < '8')
      val perms = (0 until nPerm)
        .flatMap(k => diff(t, u => md5hex(s"$u:$k").charAt(0) < '8'))
      obs.filter(_ => perms.nonEmpty).map { o =>
        val ext = perms.count(_ >= o).toLong
        // add-one permutation p: the observed split is one null draw
        (t, o, perms.size.toLong, ext,
          (ext + 1L) * 1000000L / (perms.size + 1L))
      }
    }
    val m = raw.size.toLong
    val ranked = raw.sortBy(r => (r._5, r._1)).zipWithIndex
      .map { case ((t, o, np, ne, p), i) => (t, o, np, ne, p, i + 1L) }
    val expected = ranked.map { case (t, o, np, ne, p, rk) =>
      val bh = ranked.filter(_._6 >= rk)
        .map(r => math.min(1000000L, r._5 * m / r._6)).min
      (t, o, np, ne, p, rk, bh, bh <= 50000L)
    }.toSet
    val got = Events.bhFdr(spark, dir, nPerm).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toSet
    assert(got == expected)
    // BH laws: adjusted >= raw everywhere; adjusted is nondecreasing in
    // rank (the step-up running min enforces monotonicity)
    assert(got.forall(r => r._7 >= r._5))
    val byRank = got.toSeq.sortBy(_._6).map(_._7)
    assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a <= b })
  }

  test("q275 packed-sequence manifest: equals the driver-side " +
    "concatenate-and-split replay; every non-final sequence is exactly full") {
    val budget = 64L
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(_._1)
    val spans = docs.scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, n)) =>
      (id, cum, cum + n)
    }.drop(1) // (doc_id, st, en)
    val expected = spans
      .flatMap { case (id, st, en) =>
        (st / budget to (en - 1) / budget).map(s => (s, id, st, en))
      }
      .groupBy(_._1).map { case (seq, xs) =>
        (seq,
          xs.length.toLong,
          xs.count(x => x._3 >= seq * budget &&
            x._4 <= (seq + 1) * budget).toLong,
          xs.map(x => math.min(x._4, (seq + 1) * budget) -
            math.max(x._3, seq * budget)).sum,
          xs.map(_._2).min, xs.map(_._2).max)
      }.toSet
    val got = TextAnalysis.packedSequenceManifest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the zero-pad-waste invariant: every sequence but the last is
    // exactly full, and the fills sum to the corpus token count
    val lastSeq = got.map(_._1).max
    assert(got.filter(_._1 != lastSeq).forall(_._4 == budget))
    assert(got.toSeq.map(_._4).sum == docs.map(_._2).sum)
  }

  test("q276 Cohen's kappa: equals the BigInt replay over the q46 " +
    "confusion matrix and lands in [-1, 1]") {
    val cells = TextAnalysis.langId(spark, dir)
      .select("lang_label", "lang_pred").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = cells.length.toLong
    val agree = cells.count { case (a, p) => a == p }.toLong
    val rows = cells.groupBy(_._1).map { case (_, xs) => xs.length.toLong }
    val colsByLang = cells.groupBy(_._2)
      .map { case (l, xs) => l -> xs.length.toLong }
    val rc = cells.groupBy(_._1).map { case (l, xs) =>
      BigInt(xs.length) * BigInt(colsByLang.getOrElse(l, 0L))
    }.sum
    val poPpm = agree * 1000000L / n
    val pePpm = (rc * 1000000 / (BigInt(n) * BigInt(n))).toLong
    val kappa = if (pePpm == 1000000L) 0.0
      else (poPpm - pePpm).toDouble / (1000000L - pePpm).toDouble
    val r = TextAnalysis.cohensKappa(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == n)
    assert(r(0).getLong(1) == agree)
    assert(r(0).getLong(2) == poPpm)
    assert(r(0).getLong(3) == pePpm)
    assert(r(0).getDouble(4) == kappa)
    assert(kappa >= -1.0 && kappa <= 1.0)
    assert(rows.sum == n)
  }

  test("q277 CMS error audit: replays the declarative sketch per key; " +
    "Count-Min never underestimates and the bands partition the key set") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val (depth, width) = (2, 64L)
    val cnts = Tables.events(spark, dir)
      .select("user_id").collect().map(_.getLong(0))
      .groupBy(identity).map { case (u, xs) => u -> xs.length.toLong }
    val buckets = cnts.keys.map { u =>
      val h = md5hex(s"cms:$u")
      u -> (0 until depth).map(r =>
        java.lang.Long.parseLong(h.substring(r * 8, r * 8 + 8), 16) % width)
    }.toMap
    val cells = (for {
      (u, bs) <- buckets.toSeq; (b, r) <- bs.zipWithIndex
    } yield ((r, b), cnts(u))).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    val f1 = cnts.values.sum
    // toSeq FIRST: mapping the Map to (cnt, err) pairs would re-key by
    // cnt and silently collapse users sharing a count
    val perKey = cnts.toSeq.map { case (u, c) =>
      val est = buckets(u).zipWithIndex.map { case (b, r) => cells((r, b)) }.min
      (c, est - c)
    }
    val expected = perKey.groupBy { case (c, _) =>
      java.lang.Long.toBinaryString(c).length.toLong
    }.map { case (band, xs) =>
      (band, xs.size.toLong,
        xs.count(_._2 == 0L).toLong,
        xs.map(_._2).sum, xs.map(_._1).sum,
        xs.map { case (c, e) => e * 1000000L / c }.max,
        xs.count { case (_, e) => e * width <= 2L * f1 }.toLong,
        xs.map(_._2).sum * 1000000L / xs.map(_._1).sum)
    }.toSet
    val got = Sketches.cmsErrorAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got == expected)
    // CM guarantee: errors are nonnegative (checked in the replay by
    // construction) and the bands cover every distinct key exactly once
    assert(perKey.forall(_._2 >= 0L))
    assert(got.toSeq.map(_._2).sum == cnts.size.toLong)
  }

  test("q278 zone-map audit: equals the driver-side month-zone replay; " +
    "the layout-correlated predicate out-prunes the uncorrelated one") {
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("timestamp").as("d"),
        col("o_totalprice")).collect()
      .map(r => (r.getTimestamp(0).toInstant, r.getDouble(1)))
    val zones = rows.groupBy { case (d, _) =>
      java.time.YearMonth.from(d.atZone(java.time.ZoneOffset.UTC))
    }.map { case (_, xs) =>
      (xs.length.toLong, xs.map(_._1).max,
        xs.map(x => math.round(x._2 * 100)).max)
    }.toSeq
    val cutoff = java.time.Instant.parse("1999-01-01T00:00:00Z")
    def summarize(pred: String, prunable: ((Long, java.time.Instant, Long))
        => Boolean) = {
      val p = zones.filter(prunable)
      (pred, zones.size.toLong, p.size.toLong, p.map(_._1).sum,
        zones.map(_._1).sum,
        p.map(_._1).sum * 1000000L / zones.map(_._1).sum)
    }
    val expected = Set(
      summarize("o_orderdate >= 1999-01-01", z => z._2.isBefore(cutoff)),
      summarize("o_totalprice >= 450000.00", z => z._3 < 45000000L))
    val got = Profiling.zoneMapAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the audit's raison d'etre: the layout-correlated date predicate
    // must prune strictly more than the uncorrelated price predicate
    val byPred = got.map(r => r._1 -> r._6).toMap
    assert(byPred("o_orderdate >= 1999-01-01") >
      byPred("o_totalprice >= 450000.00"))
    // both predicates audit the same zones and the same total row mass
    assert(got.map(r => (r._2, r._5)).size == 1)
  }

  test("q280 split parity: replays the exact-integer chi-square over the " +
    "leakage-safe split's (split, source) contingency table") {
    val splits = Dedup.leakageSafeSplit(spark, dir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val srcs = Tables.documents(spark, dir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val obsCells = srcs.groupBy { case (id, s) => (splits(id), s) }
      .map { case (k, xs) => k -> xs.length.toLong }
    // the contract completes the grid: a structurally absent cell is
    // maximal skew evidence and must contribute its expected mass
    val cells = (for {
      sp <- obsCells.keys.map(_._1).toSeq.distinct
      so <- obsCells.keys.map(_._2).toSeq.distinct
    } yield (sp, so) -> obsCells.getOrElse((sp, so), 0L)).toMap
    val rTot = cells.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val cTot = cells.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    val t = cells.values.sum
    val expected = cells.map { case ((sp, so), n) =>
      val (r, c) = (BigInt(rTot(sp)), BigInt(cTot(so)))
      val d = BigInt(n) * t - r * c
      (sp, so, n, (r * c * 1000 / t).toLong,
        (d * d * 1000000 / (r * c * t)).toLong)
    }.toSet
    val got = Dedup.splitParity(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected)
    // contingency laws: cells partition the corpus; chi-square
    // contributions are nonnegative by construction
    assert(got.toSeq.map(_._3).sum == srcs.length.toLong)
    assert(got.forall(_._5 >= 0L))
  }

  test("q281 simhash calibration: replays signatures, bands and exact " +
    "Jaccard deciles from first principles; detection discriminates") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sigs = docs.map { case (id, text) =>
      val votes = Array.fill(60)(0L)
      text.split(" ", -1).foreach { tok =>
        val h = java.lang.Long.parseLong(md5hex(tok).substring(0, 15), 16)
        for (b <- 0 until 60)
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      id -> (0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }.toMap
    val sh = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val ids = docs.map(_._1).sorted
    val perPair = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      c = (sh(a) intersect sh(b)).size.toLong if c > 0
    } yield {
      val u = sh(a).size + sh(b).size - c
      val x = sigs(a) ^ sigs(b)
      val collide = (0 until 4).exists(k =>
        ((sigs(a) >> (k * 16)) & 0xFFFFL) == ((sigs(b) >> (k * 16)) & 0xFFFFL))
      (math.min(c * 10 / u, 9L), java.lang.Long.bitCount(x).toLong, collide)
    }
    val expected = perPair.groupBy(_._1).map { case (bucket, xs) =>
      val det = xs.count(p => p._3 && p._2 <= 3).toLong
      (bucket, xs.size.toLong, xs.map(_._2).sum * 1000 / xs.size,
        xs.map(_._2).max, xs.count(_._3).toLong, det,
        det * 1000000L / xs.size)
    }.toSet
    val got = Dedup.simhashCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected)
    // detection is nested (detected => band-collided => a pair) and the
    // audit discriminates: the top decile's detection rate is at least
    // the bottom decile's, and hamming falls as similarity rises
    assert(got.forall(r => r._6 <= r._5 && r._5 <= r._2))
    val byBucket = got.map(r => r._1 -> r).toMap
    for (top <- byBucket.get(9); bot <- byBucket.get(0)) {
      assert(top._7 >= bot._7)
      assert(top._3 <= bot._3) // mean hamming e3
    }
  }

  test("q283 simhash router: planted J≈0.88 pairs — the 8-band(60-bit)/h≤7 " +
    "cut meets the ≥80% detection target at J≥0.8 that 4×16/h≤3 misses; " +
    "the h≤7 cut is pigeonhole-lossless under 8 bands") {
    import spark.implicits._
    import java.security.MessageDigest
    // 16 planted near-dup pairs at shingle-Jaccard 92/104 ≈ 0.88 (decile
    // bucket 8): 100 words, two scattered single-word substitutions — the
    // corpus-realistic edit shape (each changed word kills 3 shingles).
    // Disjoint token universes per pair, so the inverted index produces
    // exactly the 16 planted pairs and nothing else.
    val tmp = java.nio.file.Files.createTempDirectory("graft_q283").toString
    // the dedup lanes stage parquet layouts keyed by this throwaway dir —
    // drop them on the way out or every test run leaks a graft_prepared
    // tree into /tmp
    try {
    val rows = (0 until 16).flatMap { p =>
      val w = (0 until 100).map(i => s"p${p}w$i").toArray
      val w2 = w.clone(); w2(30) = s"p${p}x30"; w2(70) = s"p${p}x70"
      Seq((p * 2L, w.mkString(" "), "en", "web", 0L),
          (p * 2L + 1, w2.mkString(" "), "en", "web", 0L))
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // first-principles expectation: in-JVM md5 signatures for both cuts
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sig(text: String): Long = {
      val votes = Array.fill(60)(0L)
      text.split(" ", -1).foreach { tok =>
        val h = java.lang.Long.parseLong(md5hex(tok).substring(0, 15), 16)
        for (b <- 0 until 60)
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      (0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }
    val cuts = rows.grouped(2).map { pair =>
      val (sa, sb) = (sig(pair(0)._2), sig(pair(1)._2))
      val h = java.lang.Long.bitCount(sa ^ sb)
      val c4 = (0 until 4).exists(k =>
        ((sa >> (k * 16)) & 0xFFFFL) == ((sb >> (k * 16)) & 0xFFFFL))
      // the router's band layout: 8 disjoint bands tiling exactly the 60
      // informative bits (4×8 + 4×7) — must match Dedup.RouterBandWidths
      val spans = Seq(8, 8, 8, 8, 7, 7, 7, 7).scanLeft(0)(_ + _)
        .zip(Seq(8, 8, 8, 8, 7, 7, 7, 7))
      val c8 = spans.exists { case (off, w) =>
        ((sa >> off) & ((1L << w) - 1)) == ((sb >> off) & ((1L << w) - 1)) }
      (c4 && h <= 3, c8 && h <= 7, h <= 7 && !c8)
    }.toSeq
    val (expOld, expNew) = (cuts.count(_._1).toLong, cuts.count(_._2).toLong)
    assert(cuts.count(_._3) == 0) // pigeonhole: h≤7 ⇒ some band clean
    val got = Dedup.simhashRouterCalibration(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got.keySet == Set(8L)) // J = 92/104 lands in decile 8, alone
    val (nPairs, nOld, oldPpm, nNew, newPpm, viol) = got(8L)
    assert(nPairs == 16L && viol == 0L)
    assert(nOld == expOld && nNew == expNew)
    assert(oldPpm == expOld * 1000000L / 16 && newPpm == expNew * 1000000L / 16)
    // the stated operating target (round-10 verdict item 2): ≥80%
    // detection at J ≥ 0.8, strictly better than the old cut
    assert(newPpm >= 800000L, s"new cut detection $newPpm ppm < target")
    assert(nNew >= nOld)
    } finally graft.operators.Staging.invalidate(tmp)
  }

  test("q287 routed near-dup: first-principles replay of BOTH arms' " +
    "signatures and band cuts; union laws hold and routing beats " +
    "either arm alone at the top decile") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val simsig = docs.map { case (id, text) =>
      val votes = Array.fill(60)(0L)
      text.split(" ", -1).foreach { tok =>
        val h = h60(tok)
        for (b <- 0 until 60)
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      id -> (0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }.toMap
    val minsig = docs.collect { case (id, _) if sh(id).nonEmpty =>
      id -> (0 until 16).map(i => sh(id).map(s => h60(s"$i:" + s)).min)
    }.toMap
    val ids = docs.map(_._1).sorted
    // 8 bands tiling the 60 informative bits (Dedup.RouterBandWidths)
    val spans = Seq(8, 8, 8, 8, 7, 7, 7, 7).scanLeft(0)(_ + _)
      .zip(Seq(8, 8, 8, 8, 7, 7, 7, 7))
    // governed detector (round-14): a band hit only counts through a
    // bucket at-or-under the occupancy cap
    val cap = Dedup.RouterBucketCap
    val sOcc = ids.flatMap(id => spans.zipWithIndex.map {
      case ((off, w), b) => (b, (simsig(id) >> off) & ((1L << w) - 1)) })
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val mOcc = ids.filter(minsig.contains).flatMap(id => (0 until 4).map(b =>
      (b, minsig(id).slice(b * 4, b * 4 + 4))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val perPair = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      c = (sh(a) intersect sh(b)).size.toLong if c > 0
    } yield {
      val u = sh(a).size + sh(b).size - c
      val h = java.lang.Long.bitCount(simsig(a) ^ simsig(b))
      val shHit = spans.zipWithIndex.exists { case ((off, w), bb) =>
        val ka = (simsig(a) >> off) & ((1L << w) - 1)
        ka == ((simsig(b) >> off) & ((1L << w) - 1)) &&
          sOcc((bb, ka)) <= cap
      } && h <= 7
      val mhHit = (0 until 4).exists { bb =>
        val ka = minsig(a).slice(bb * 4, bb * 4 + 4)
        ka == minsig(b).slice(bb * 4, bb * 4 + 4) && mOcc((bb, ka)) <= cap
      }
      (math.min(c * 10 / u, 9L), shHit, mhHit)
    }
    val expected = perPair.groupBy(_._1).map { case (bucket, xs) =>
      val rt = xs.count(p => p._2 || p._3).toLong
      bucket -> ((xs.size.toLong, xs.count(_._2).toLong,
        xs.count(_._3).toLong, rt, rt * 1000000L / xs.size))
    }
    val got = Dedup.routedNearDupAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    // union laws: routed covers each arm, never exceeds their sum
    got.values.foreach { case (n, s, m, rt, _) =>
      assert(rt >= math.max(s, m) && rt <= s + m && rt <= n)
    }
    // the route's point: at the top decile the union detects at least
    // as much as either arm, strictly more than the weaker one when the
    // arms disagree
    val (_, s9, m9, rt9, _) = got(9L)
    assert(rt9 >= math.max(s9, m9))
  }

  test("q289 routed removal: union-find replay of both variants' removal " +
    "sets; the verified pass's precision is structurally 1") {
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val simsig = docs.map { case (id, text) =>
      val votes = Array.fill(60)(0L)
      text.split(" ", -1).foreach { tok =>
        val h = h60(tok)
        for (b <- 0 until 60)
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      id -> (0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    }.toMap
    val minsig = docs.collect { case (id, _) if sh(id).nonEmpty =>
      id -> (0 until 16).map(i => sh(id).map(s => h60(s"$i:" + s)).min)
    }.toMap
    val spans = Seq(8, 8, 8, 8, 7, 7, 7, 7).scanLeft(0)(_ + _)
      .zip(Seq(8, 8, 8, 8, 7, 7, 7, 7))
    val ids = docs.map(_._1).sorted
    // the production pass is GOVERNED by default (round-14): hot
    // (band, key) buckets above the cap emit no candidates
    val cap = Dedup.RouterBucketCap
    val sOcc = ids.flatMap(id => spans.zipWithIndex.map {
      case ((off, w), b) => (b, (simsig(id) >> off) & ((1L << w) - 1)) })
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val mOcc = ids.filter(minsig.contains).flatMap(id => (0 until 4).map(b =>
      (b, minsig(id).slice(b * 4, b * 4 + 4))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    def pairsOf(pred: (Long, Long) => Boolean): Set[(Long, Long)] =
      (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        if pred(ids(i), ids(j))
      } yield (ids(i), ids(j))).toSet
    val sPairs = pairsOf { (a, b) =>
      val h = java.lang.Long.bitCount(simsig(a) ^ simsig(b))
      h <= 7 && spans.zipWithIndex.exists { case ((off, w), bb) =>
        val ka = (simsig(a) >> off) & ((1L << w) - 1)
        ka == ((simsig(b) >> off) & ((1L << w) - 1)) &&
          sOcc((bb, ka)) <= cap }
    }
    val mPairs = pairsOf { (a, b) =>
      minsig.contains(a) && minsig.contains(b) && (0 until 4).exists { bb =>
        val ka = minsig(a).slice(bb * 4, bb * 4 + 4)
        ka == minsig(b).slice(bb * 4, bb * 4 + 4) && mOcc((bb, ka)) <= cap }
    }
    val tPairs = pairsOf { (a, b) =>
      val c = (sh(a) intersect sh(b)).size.toLong
      c > 0 && c * 1000000L / (sh(a).size + sh(b).size - c) >= 800000L
    }
    val pred = sPairs ++ mPairs
    def removedSet(pairs: Set[(Long, Long)]): Set[Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.filter(x => find(x) != x).toSet
    }
    def prRow(predRem: Set[Long], trueRem: Set[Long]) = {
      val nb = (predRem intersect trueRem).size.toLong
      (predRem.size.toLong, trueRem.size.toLong, nb,
        nb * 1000000L / math.max(predRem.size, 1),
        nb * 1000000L / math.max(trueRem.size, 1))
    }
    val trueRem = removedSet(tPairs)
    val expected = Map(
      "routed_raw" -> prRow(removedSet(pred), trueRem),
      "routed_verified" -> prRow(removedSet(pred intersect tPairs), trueRem))
    val got = Dedup.routedDedupRemoval(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    // structural invariant: the verified graph is a subgraph of the truth
    // graph, so every verified removal is a truth removal — precision 1
    assert(got("routed_verified")._4 == 1000000L)
    // acting raw can only remove MORE than acting verified
    assert(got("routed_raw")._1 >= got("routed_verified")._1)
  }

  test("q295 occupancy governor at sf0.01: capping hot buckets prunes " +
    "candidates but leaves J >= 0.9 recall fully intact") {
    val d01 = GraftTestSession.Sf001
    val docs = Tables.documents(spark, d01)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val ids = docs.map(_._1).sorted
    val truth09 = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      c = (sh(a) intersect sh(b)).size.toLong
      if c > 0 && c * 1000000L / (sh(a).size + sh(b).size - c) >= 900000L
    } yield (a, b)).toSet
    assert(truth09.nonEmpty, "fixture must plant J >= 0.9 pairs")
    def cands(cap: Option[Long]): Set[(Long, Long)] =
      Dedup.routedCandidatePairs(spark, d01, cap).collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        .toSet
    val governed = cands(Some(Dedup.RouterBucketCap))
    val ungoverned = cands(None)
    // the governor only removes candidates, and it really removes some
    // (the hot-bucket tail exists at sf0.01: max occupancy 153 > cap)
    assert(governed.subsetOf(ungoverned))
    assert(governed.size < ungoverned.size,
      s"cap ${Dedup.RouterBucketCap} should drop hot-bucket candidates " +
        s"(governed ${governed.size} vs ${ungoverned.size})")
    // ...but every J >= 0.9 truth pair survives: high-J pairs collide in
    // rare buckets, so the governed detector's high-J recall is 100%
    val missed = truth09 -- governed
    assert(missed.isEmpty,
      s"governor lost ${missed.size} of ${truth09.size} J>=0.9 pairs")
  }

  test("index bucket count derives from the snapshot bytes — no knob: " +
    "harness-scale sources get the 32-bucket baseline, a 10x-size " +
    "snapshot ~10x the buckets") {
    // assert the DERIVATION (32 * max(1, round(bytes / 600 KiB))) against
    // each snapshot's actual byte size — pinning the literal 32 would
    // couple the suite to the driver testdata staying under the ~900 KB
    // rounding boundary (round-14 advice); the synthetic 6 MB case below
    // stays the fixed-size scaling check
    def expected(dir: String): Int = {
      val src = new java.io.File(dir, "documents.parquet")
      val bytes =
        if (src.isFile) src.length
        else Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(_.length).sum
      32 * math.max(1L, math.round(bytes.toDouble / (600L * 1024))).toInt
    }
    assert(Dedup.shingleBuckets(GraftTestSession.Sf001) ==
      expected(GraftTestSession.Sf001))
    assert(Dedup.shingleBuckets(GraftTestSession.Sf0001) ==
      expected(GraftTestSession.Sf0001))
    // the harness-scale snapshots are under one unit → 32-bucket floor
    assert(Dedup.shingleBuckets(GraftTestSession.Sf0001) == 32)
    // the derivation reads only the source's byte size — a synthetic
    // 6 MB snapshot (10.24 units, rounds to 10) must derive 320
    val tmp = java.nio.file.Files.createTempDirectory("graft_buckets")
    val f = new java.io.File(tmp.toFile, "documents.parquet")
    val out = new java.io.FileOutputStream(f)
    try out.write(new Array[Byte](6 * 1024 * 1024)) finally out.close()
    try assert(Dedup.shingleBuckets(tmp.toString) == 320)
    finally graft.operators.Staging.deleteRecursively(tmp.toFile)
  }

  test("q296 incremental index: the batch append is idempotent, lossless " +
    "against the rebuild, and the merged bucketed layout still joins " +
    "exchange-free on the shingle key") {
    def audit(): Seq[(String, Long, Long, Long, Long)] =
      Dedup.incrementalIndexAudit(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    val first = audit()
    assert(first.forall { case (_, ni, nr, oi, or) =>
      ni == nr && oi == 0L && or == 0L },
      s"merged layout must equal the rebuild: $first")
    // a second run must NOT re-append (the _GRAFT_APPEND marker):
    // duplicated batch rows would show as n_incremental > n_rebuild
    assert(audit() == first, "the append must be idempotent per base build")
    // the appended bucketed table keeps its co-location: a self-join on
    // the bucket key runs with no exchange on it, base + batch files
    val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_incr_base_${graft.streaming.EventStreams.sanitize(dir)}")
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(n => n.startsWith("graft_stg_shingles_k3_") &&
        n.contains("incr_x5f_base"))
      .getOrElse(fail(s"no merged shingle table for $baseDir"))
    val t = spark.table(tbl)
    val plan = t.select(col("doc_id").as("a"), col("shingle"))
      .hint("merge")
      .join(t.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") &&
      !plan.contains("Exchange hashpartitioning(shingle"),
      s"append must preserve bucket co-location:\n${plan.take(800)}")
  }

  test("q298 compaction: collapses the append file sets, is idempotent " +
    "until the next append, keeps bucket co-location, and stays lossless") {
    val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_incr_base_${graft.streaming.EventStreams.sanitize(dir)}")
    // start from a guaranteed UNCOMPACTED merged state: a surviving
    // compacted layout from an earlier session would otherwise make the
    // file-collapse assertion vacuous
    graft.operators.Staging.invalidate(spark, baseDir.toString)
    // run the merge (q296) then the compaction (q298) end to end
    Dedup.incrementalIndexAudit(spark, dir).collect()
    val layout = new java.io.File(
      new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir"), "graft_prepared"),
        graft.streaming.EventStreams.sanitize(baseDir.toString)),
      "shingles_k3")
    def dataFiles(): Seq[(String, Long)] =
      Option(layout.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-"))
        .map(f => (f.getName, f.lastModified)).toSeq.sortBy(_._1)
    val beforeFiles = dataFiles()
    val rows1 = Dedup.compactionAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    // lossless: compacted == rebuilt, zero one-sided rows
    assert(rows1.forall { case (_, ni, nr, oi, or) =>
      ni == nr && oi == 0L && or == 0L }, s"$rows1")
    val afterFiles = dataFiles()
    // the base write + the append write collapse into one file set
    assert(afterFiles.size < beforeFiles.size,
      s"compaction must shrink the file set: ${beforeFiles.size} -> " +
        s"${afterFiles.size}")
    // idempotent: a second compaction rewrites nothing (same files,
    // same mtimes) because the _GRAFT_COMPACTED fingerprint matches
    assert(Dedup.compactionAudit(spark, dir).collect().length == 2)
    assert(dataFiles() == afterFiles,
      "re-compaction must be a no-op on an already-compact layout")
    // co-location survives: the compacted table still self-joins with
    // no live exchange on the bucket key
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(n => n.startsWith("graft_stg_shingles_k3_") &&
        n.contains("incr_x5f_base")).get
    val t = spark.table(tbl)
    val plan = t.select(col("doc_id").as("a"), col("shingle"))
      .hint("merge")
      .join(t.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") &&
      !plan.contains("Exchange hashpartitioning(shingle"),
      s"compaction must preserve co-location:\n${plan.take(600)}")
  }

  test("q299 incremental ANN: the batch encode+append is idempotent and " +
    "lossless, and the md5 routing actually splits the corpus") {
    def audit(): (String, Long, Long, Long, Long) = {
      val r = SimilaritySearch.incrementalAnnAudit(spark, dir).collect()
      assert(r.length == 1)
      (r(0).getString(0), r(0).getLong(1), r(0).getLong(2),
        r(0).getLong(3), r(0).getLong(4))
    }
    val first = audit()
    val nVecs = Tables.embeddings(spark, dir).count()
    assert(first == ("pqcodes_m8_n16", nVecs * 8, nVecs * 8, 0L, 0L),
      s"merged code table must equal the full encode: $first")
    // idempotent per base build: a second run must not re-append
    assert(audit() == first)
    // the md5 routing splits for real (a vacuous batch would make the
    // append audit trivially pass)
    val batch = Tables.embeddings(spark, dir)
      .filter(substring(md5(col("vec_id").cast("string")), 1, 1) < "4")
      .count()
    assert(batch > 0 && batch < nVecs,
      s"batch split degenerate: $batch of $nVecs")
  }

  test("q300 codebook drift: per-vector distortion replays in-JVM from " +
    "the captured codebook, slices partition the corpus, and every " +
    "distortion is the true per-subspace minimum") {
    val cbOpt = SimilaritySearch.capturedPqCodebook
    // ensure the fit/capture ran (the lane itself triggers it)
    val rows = SimilaritySearch.codebookDriftAudit(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    val cb = SimilaritySearch.capturedPqCodebook
      .orElse(cbOpt).getOrElse(fail("codebook not captured"))
    val m = cb.length
    val dsub = cb(0)(0).length
    val coded = SimilaritySearch.int8CodedArray(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // in-JVM replay of the distortion per slice
    def md5nib(id: Long): Char =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
    val replay = coded.groupBy { case (id, _) =>
      if (md5nib(id) < '4') "batch" else "base"
    }.map { case (slice, vs) =>
      val total: Long = vs.map { case (_, codes) =>
        (0 until m).map { s =>
          cb(s).map { cw =>
            (0 until dsub).map { j =>
              val d: Long = codes(s * dsub + j) - cw(j); d * d
            }.sum
          }.min
        }.sum
      }.sum
      slice -> ((vs.length.toLong, total, total / vs.length))
    }
    assert(rows == replay, s"lane $rows vs replay $replay")
    assert(rows("base")._1 + rows("batch")._1 ==
      Tables.embeddings(spark, dir).count())
  }

  test("q282 source ablation: BigInt LOO replay over q109 scores; " +
    "below-average sources have nonnegative removal deltas") {
    val scores = TextAnalysis.qualityScores(spark, dir)
      .select("doc_id", "avg_e6").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcs = Tables.documents(spark, dir).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val per = srcs.groupBy(_._2).map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(x => BigInt(scores(x._1))).sum)
    }.toSeq
    val nAll = per.map(_._2).sum
    val sumAll = per.map(_._3).sum
    // both engines' integer division truncates TOWARD ZERO on the
    // negative quality sums (BigInt / matches; floor division does not)
    val expected = per.map { case (s, n, sq) =>
      val loo = if (n == nAll) None
        else Some(((sumAll - sq) / BigInt(nAll - n)).toLong)
      val corp = (sumAll / BigInt(nAll)).toLong
      (s, n, n * 1000000L / nAll, (sq / BigInt(n)).toLong, corp,
        loo, loo.map(_ - corp))
    }.toSet
    val got = TextAnalysis.sourceAblation(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)))).toSet
    assert(got == expected)
    // a source whose own mean sits below the corpus mean can only RAISE
    // the corpus by leaving, and an above-average source can only lower
    // it (both up to the 1-unit integer-division slack)
    assert(got.forall(r => r._7.forall(d =>
      if (r._4 < r._5) d >= -1L else d <= 1L)))
    assert(got.toSeq.map(_._2).sum == nAll)
  }

  test("q279 PII Wilson interval: bounds replay the exact IEEE sequence " +
    "from q168's counts, bracket the point rate, and stay inside [0, 1e6]") {
    val base = CorpusFilters.piiAudit(spark, dir)
      .select("source", "n_docs", "docs_with_pii", "pii_doc_ppm").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = base.map { case (s, n, h, ppm) =>
      val nd = n.toDouble
      val phat = h.toDouble / nd
      val denom = 1.0 + 3.8416 / nd
      val center = phat + 3.8416 / (2.0 * nd)
      val half =
        1.96 * math.sqrt((phat * (1.0 - phat) + 3.8416 / (4.0 * nd)) / nd)
      (s, n, h, ppm,
        ((center - half) / denom) * 1000000.0,
        ((center + half) / denom) * 1000000.0)
    }.toSet
    val got = CorpusFilters.piiRateInterval(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == expected)
    // Wilson laws: lo <= point rate <= hi (the score interval always
    // brackets p-hat), and both bounds live inside [0, 1e6] ppm — the
    // containment Wald famously violates at small n
    assert(got.forall(r => r._5 <= r._4.toDouble && r._4.toDouble <= r._6))
    assert(got.forall(r => r._5 >= 0.0 && r._6 <= 1000000.0))
  }

  test("q272 markov attribution: replays journeys, matrix and the fixed " +
    "200-round solve exactly; removal is monotone and shares sum to 1") {
    val states = Seq("START", "click", "error", "signup", "view", "CONV", "NULL")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getLong(3)))
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._4)).map(_._2)
      val prn = ordered.indexOf("purchase")
      val conv = prn >= 0
      val journey = (if (conv) ordered.take(prn) else ordered)
        .toSeq.filter(_ != "purchase")
      val tail = if (conv) "CONV" else "NULL"
      val path = "START" +: journey :+ tail
      path.sliding(2).foreach { case Seq(a, b) => counts((a, b)) += 1L
                                case _ => () }
    }
    val outs = Array.tabulate(7)(i => states.map(t =>
      counts((states(i), t))).sum)
    val base = Array.tabulate(5, 7) { (i, j) =>
      counts((states(i), states(j))).toDouble /
        (if (outs(i) == 0L) 1L else outs(i)).toDouble
    }
    def absorb(removed: Int): Double = {
      val m = Array.tabulate(5, 7)((i, j) =>
        if (removed >= 1 && j == removed) 0.0 else base(i)(j))
      var p = Array[Double](0, 0, 0, 0, 0, 1, 0)
      for (_ <- 0 until 200) {
        p = Array.tabulate(7) { i =>
          if (i >= 5) p(i)
          else {
            var acc = m(i)(0) * p(0); var j = 1
            while (j < 7) { acc += m(i)(j) * p(j); j += 1 }
            acc
          }
        }
      }
      p(0)
    }
    val basep = absorb(0)
    val re = (1 to 4).map(c => basep - absorb(c))
    val tot = re.reduceLeft(_ + _)
    val expected = (1 to 4).map(c =>
      (states(c), outs(c), basep, absorb(c), re(c - 1) / tot)).toSet
    val got = Events.markovAttribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == expected)
    // laws: removal never helps; base is a probability; shares sum to 1
    got.foreach { case (_, _, bp, rp, _) =>
      assert(rp <= bp + 1e-12 && bp > 0 && bp <= 1 + 1e-12)
    }
    assert(math.abs(got.toSeq.map(_._5).sum - 1.0) < 1e-9)
  }

  test("q272 markov attribution refuses a log with unknown event types " +
    "(silent state-set divergence would drop probability mass)") {
    // round-10 verdict item 6: the operator fixes its state set to
    // MarkovStates while the oracle normalizes over ALL observed
    // transitions — a new event_type must fail loudly, not diverge
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_markov").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, t0, 10L, "view", 1.0, "{}"),
        (2L, new java.sql.Timestamp(t0.getTime + 1000), 10L, "refund", 1.0,
          "{}"),
        (3L, new java.sql.Timestamp(t0.getTime + 2000), 10L, "purchase",
          1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Events.markovAttribution(spark, tmp)
    }
    assert(e.getMessage.contains("refund"))
  }

  test("q261 prefix sim join: equals the brute-force all-pairs shingle " +
    "Jaccard at tau=3/5 — the prefix filter is lossless, counts and ppm exact") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        r.getLong(0) -> (0 until math.max(ws.length - 2, 0))
          .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
      }
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size
      if inter * 5 >= (sa.size + sb.size - inter) * 3
    } yield (a, b, sa.size.toLong, sb.size.toLong, inter.toLong,
      inter * 1000000L / (sa.size + sb.size - inter))).toSet
    val got = Dedup.prefixSimJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // the filter discriminates at this sf: some but not all pairs qualify
    assert(expected.nonEmpty && expected.size < docs.length.toLong *
      (docs.length - 1) / 2)
  }
}
