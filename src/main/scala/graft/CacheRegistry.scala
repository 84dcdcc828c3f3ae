package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The repo's one session-memo tier: everything a session builds once and
  * reuses — cached frames, model constants, broadcasts — lives here under
  * one key scheme, one stopped-session purge and one [[clear]].
  *
  * Why this exists: several operators reference the same expensive derived
  * frame (e.g. the L2-normalized embedding table) and Catalyst performs no
  * common-subexpression elimination across `Project`s — every reference
  * re-inlines the full lineage. A `.cache()` barrier fixes that WITHIN one
  * query, but a per-call `.cache()` creates a NEW cached plan per
  * invocation: repeated calls (Verify runs every contract query, Bench runs each
  * twice) accumulate orphaned cache entries for the life of the session.
  * The same holds for eager artifacts — a sketch broadcast or a k-means fit
  * rebuilt per call rescans its source and leaks one broadcast or one
  * cached prediction table per invocation.
  *
  * Entries are keyed by (application, `family:params:dir`). The families:
  *  - cached frames ([[cached]]): normalized embeddings, shingle and gram
  *    projections, co-purchase edge lists and their orientations, RFM
  *    features, text-stat and quality projections;
  *  - model constants ([[memo]]): the retail K-Means fit (`fit:`), BPE
  *    merges (`bpe-merges:`), the HLL / CMS / GK / HLL++ estimates
  *    (`hll-est:`, `cms-est:`, `gk-probes:`, `approx-distinct:`), the
  *    converged PageRank and k-core results (`pagerank-converged:`,
  *    `kcore:`), and the streaming `ts` decode probe (`ts-probe:`);
  *  - broadcasts ([[memo]]): the CMS sketch (`cms:`), the decontamination
  *    Bloom (`decontam-bloom:`) and the triangle closing-edge Bloom
  *    (`copurchase-closing-bloom:`).
  *
  * Deliberately outside it: [[graft.operators.Staging]]'s reader and
  * roster memos (`frameCache`, `rosterHashCache` — the disk tier's
  * internals, keyed by layout or data fingerprint, not by session);
  * [[OracleCapture.Captured]], which records oracle literals rather than
  * memoizing work; and [[graft.streaming.CdcApply]]'s created-roots
  * cleanup set.
  *
  * At production scale the equivalent artifact is a persisted "prepared"
  * table (the normalized-vectors parquet, the shingle index) — that tier is
  * [[graft.operators.Staging]]; session memoization is for what lives one
  * session, not one source build.
  */
object CacheRegistry {

  private final case class Entry(sc: SparkContext, value: Any)

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String), Entry]

  /** Get-or-build the value for `key`. `build` runs at most once per
    * (appId, key) under normal use. Entries belonging to STOPPED sessions
    * are purged on every call — a JVM that runs several sessions back to
    * back (sequential test suites, repeated CLI invocations under one sbt)
    * must not pin dead-session values for its lifetime. */
  def memo[V](spark: SparkSession, key: String)(build: => V): V = {
    entries.filterInPlace { case (_, e) =>
      !e.sc.isStopped // dead entries just drop; their cached blocks and
      // broadcasts died with the session's executors already
    }
    val k = (spark.sparkContext.applicationId, key)
    entries.get(k).getOrElse {
      // Two racing threads may both evaluate `build`; putIfAbsent keeps one
      // winner in the map. For a frame the loser must NOT unpersist: builds
      // for a key are deterministic, so both cache() calls hit the SAME
      // canonicalized plan — CacheManager dedupes the second into a no-op,
      // and an unpersist here would uncache the winner's (shared) entry,
      // leaving the registry handing out a permanently-uncached frame.
      val candidate = Entry(spark.sparkContext, build)
      entries.putIfAbsent(k, candidate).getOrElse(candidate)
    }.value.asInstanceOf[V]
  }

  /** Get-or-build the cached frame for `key`: [[memo]] of `build.cache()`
    * (lazy — materialized by the first action that touches it). */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key)(build.cache())

  /** Drop every entry registered by `spark`'s application, unpersisting
    * frame values — test/benchmark hygiene for long-lived sessions. */
  def clear(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    entries.keys.filter(_._1 == appId).foreach { k =>
      entries.remove(k).foreach(_.value match {
        case df: Dataset[_] => df.unpersist()
        case _ => ()
      })
    }
  }
}
