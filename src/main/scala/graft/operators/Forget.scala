package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FORGET CASCADE — one roster, one entry point, EVERY staged layout
  * (round-14 verdict item 2).
  *
  * A right-to-be-forgotten request against a 100 TB corpus is only
  * discharged when the subject's rows are gone from the raw table (the
  * q167 compliance audit's concern, handled by the table format) AND
  * from every DERIVED index layout persisted beside it — shingle and
  * signature tables, pair lists, perceptual-hash bands, vector code
  * tables. q303/q304 proved the per-layout tombstone operation
  * ([[Staging.delete]]: file-granular
  * copy-on-write, hard-linked untouched files, atomic publish,
  * roster-keyed idempotency markers); what was missing was the MANIFEST:
  * a deployment-level registry of which layouts exist per source table,
  * so one forget call provably reaches all of them instead of whichever
  * subset the operator remembered.
  *
  * [[manifest]] is that registry. Each owning module contributes its
  * targets next to its builders — each target is the module's declared
  * [[Staging.Layout]] (version, bucket spec and source table live
  * there) plus its key columns — split by SOURCE table:
  *
  *  - documents → shingles_k3 (bucketed), minhash16, simhash,
  *    ngrampairs (tombstoned on BOTH key columns — a pair dies when
  *    either side is forgotten), phash_bands (a doc's media ids: the
  *    source id and its perturbed-copy twin);
  *  - embeddings → int8codes, ivf_assign_n16, pqcodes_m8_n16 (each row
  *    depends on its own vector plus a fixed model constant, so
  *    deletion commutes with the encode — the q304 property).
  *
  * DERIVED layouts (prefix_k3_t35, shingle_arrays) are deliberately not
  * tombstoned: they gate on shingles_k3's artifact fingerprint, so the
  * upstream delete re-derives them from the already-forgotten index on
  * their next access — exact even for the df-ORDERED prefix index,
  * whose rarity order is a whole-corpus aggregate no row-level
  * tombstone can maintain. Model constants (lattice bounds, coarse
  * centers, PQ codebook) are retained: they are derived aggregates,
  * not per-subject rows, and the q300 drift audit schedules their
  * refit.
  *
  * Scale shape: each tombstone costs one broadcast semi-join probe over
  * the layout scan plus rewrites ∝ affected files; the cascade is a
  * fixed number of such operations — cost ∝ forget batch, never corpus.
  */
object Forget {

  /** One delete-maintained staged layout: the declared layout (its
    * `sourceTable` is the table whose subject ids the roster holds), the
    * key columns a forgotten id is tombstoned on — each in turn, so a row
    * goes when ANY of them holds one — and the map from a one-column
    * subject roster to key values. */
  final case class Target(layout: Staging.Layout, keyCols: Seq[String],
      keys: DataFrame => DataFrame = identity)

  /** Every delete-maintained staged layout under `dir`, by source. */
  def manifest(dir: String): Seq[Target] =
    Dedup.forgetTargets(dir) ++ SimilaritySearch.forgetTargets ++ Seq(
      // a forgotten document's media footprint is its own id plus the
      // planted perturbed copy's offset id (MediaAnalysis.phashCorpus)
      Target(graft.multimodal.MediaAnalysis.PhashBandsLayout,
        Seq("media_id"), { r =>
          val ids = r.toDF("media_id")
          ids.union(ids.select(
            (col("media_id") + graft.multimodal.MediaAnalysis.CopyIdOffset)
              .as("media_id")))
        }))

  /** Apply one forget request to EVERY present staged layout under
    * `dir`: `rosters` maps each source table to its one-column subject
    * roster (e.g. "documents" → doc_id frame, "embeddings" → vec_id
    * frame). Layouts never built in this deployment are skipped (they
    * hold no rows to forget and, once the RAW table's delete lands,
    * can only ever be built without the subjects); a present-but-stale
    * layout fails loudly inside its delete gate. Returns the layout
    * names acted on. */
  def forget(spark: SparkSession, dir: String, tag: String,
             rosters: Map[String, DataFrame]): Seq[String] =
    manifest(dir).flatMap { t =>
      rosters.get(t.layout.sourceTable)
        .filter(_ => Staging.layoutPresent(t.layout, dir))
        .map { roster =>
          val ids = t.keys(roster)
          // one file-granular copy-on-write pass per key column, each
          // idempotent per (tag, roster)
          t.keyCols.foreach { k =>
            Staging.delete(spark, t.layout, dir,
              if (t.keyCols.size == 1) tag else s"${tag}_$k", Seq(k))(
              ids.toDF(k))
          }
          t.layout.name
        }
    }

  /** The q303/q304 forget cohort, shared across source tables. */
  private def keepCond(key: String) = col(key) % 97 =!= 0

  /** Stage a (documents + embeddings) snapshot dir, marker-gated on BOTH
    * real source fingerprints — the two-table twin of Dedup's
    * stageCorpusSubset scaffold. */
  private def stageSnapshot(spark: SparkSession, dir: String, tag: String,
                            keep: Boolean): String = Staging.locked(dir) {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${graft.streaming.EventStreams.sanitize(dir)}")
    val marker = base.resolve("_GRAFT_BASE")
    val fp = Staging.fingerprintOf(
      Paths.get(dir, "documents.parquet").toFile) + "|" +
      Staging.fingerprintOf(Paths.get(dir, "embeddings.parquet").toFile)
    val dataOk = Files.isRegularFile(marker) &&
      Files.readString(marker) == fp &&
      Files.isDirectory(base.resolve("documents.parquet")) &&
      Files.isDirectory(base.resolve("embeddings.parquet"))
    if (!dataOk) {
      if (Files.exists(base)) Staging.deleteRecursively(base.toFile)
      Files.createDirectories(base)
      Tables.documents(spark, dir)
        .filter(if (keep) lit(true) else keepCond("doc_id"))
        .write.mode("overwrite")
        .parquet(base.resolve("documents.parquet").toString)
      Tables.embeddings(spark, dir)
        .filter(if (keep) lit(true) else keepCond("vec_id"))
        .write.mode("overwrite")
        .parquet(base.resolve("embeddings.parquet").toString)
      Staging.invalidate(spark, base.toString)
      Files.writeString(marker, fp)
      ()
    }
    base.toString
  }

  /** q306 — FULL FORGET-CASCADE audit: stage a sandbox copy of the
    * corpus (documents + embeddings), build EVERY staged layout the
    * manifest maintains, fire ONE forget call with the q303 cohort
    * (id % 97 = 0 on each source), and audit every layout — tombstoned
    * and fingerprint-cascaded alike — row-for-row against the same
    * builders over the kept corpus. Zero one-sided rows per layout is
    * the compliance property: no derived artifact retains a forgotten
    * subject's rows, and no surviving row was disturbed. */
  def cascadeAudit(spark: SparkSession, dir: String): DataFrame = {
    val sandbox = stageSnapshot(spark, dir, "fc_sandbox", keep = true)
    val kept = stageSnapshot(spark, dir, "fc_kept", keep = false)
    Dedup.buildDocForgetLayouts(spark, sandbox)
    SimilaritySearch.buildAnnForgetLayouts(spark, sandbox)
    graft.multimodal.MediaAnalysis.phashBands(spark, sandbox)
    val docRoster = Tables.documents(spark, sandbox)
      .filter(!keepCond("doc_id")).select(col("doc_id"))
    val vecRoster = Tables.embeddings(spark, sandbox)
      .filter(!keepCond("vec_id")).select(col("vec_id"))
    val acted = forget(spark, sandbox, "fc97",
      Map("documents" -> docRoster, "embeddings" -> vecRoster))
    val all = manifest(sandbox).map(_.layout.name).toSet
    require(acted.toSet == all,
      s"forget cascade skipped layouts: ${all -- acted}")
    val phashRow = Dedup.indexDiffRow(
      graft.multimodal.MediaAnalysis.PhashBandsLayout.name,
      graft.multimodal.MediaAnalysis.phashBands(spark, sandbox),
      graft.multimodal.MediaAnalysis.phashBands(spark, kept),
      Seq("media_id", "b0", "b1", "b2", "b3"))
    Dedup.forgetAuditRowsDocs(spark, sandbox, kept)
      .unionAll(phashRow)
      .unionAll(SimilaritySearch.forgetAuditRowsAnn(spark, sandbox,
        keepCond("vec_id")))
      .select(col("artifact"), col("n_incremental").as("n_after_delete"),
        col("n_rebuild"), col("n_only_incremental").as("n_only_deleted"),
        col("n_only_rebuild"))
  }

  /** [[cascadeAudit]]'s oracle: deleted==rebuilt for every layout means
    * each audit row carries the KEPT corpus's layout size twice with
    * zero one-sided rows — all re-derivable from the documents and
    * embeddings tables alone. */
  val cascadeAuditSql: String =
    s"""WITH kd AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       |), ws AS (
       |  SELECT doc_id, ${Dedup.shingleListSql} AS sh
       |  FROM kd
       |), ${Dedup.shingledFromWsCte}, sizes AS (
       |  ${Dedup.shingleSizesSql}
       |), jp AS (
       |  ${Dedup.shingleCommonSql}
       |), jpairs AS (
       |  SELECT p.doc_a FROM jp p
       |  JOIN sizes sa ON p.doc_a = sa.doc_id
       |  JOIN sizes sb ON p.doc_b = sb.doc_id
       |  WHERE 3 * p.c >= sa.n + sb.n
       |), ke AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0
       |), counts(artifact, n) AS (
       |  SELECT 'shingles_k3', (SELECT count(*) FROM shingled)
       |  UNION ALL
       |  SELECT 'minhash16', (SELECT count(*) FROM ws WHERE len(sh) > 0)
       |  UNION ALL
       |  SELECT 'simhash', (SELECT count(*) FROM kd WHERE text IS NOT NULL)
       |  UNION ALL
       |  SELECT 'ngrampairs', (SELECT count(*) FROM jpairs)
       |  UNION ALL
       |  SELECT 'prefix_k3_t35',
       |         (SELECT coalesce(sum(n - (3 * n + 4) // 5 + 1), 0) FROM sizes)
       |  UNION ALL
       |  SELECT 'shingle_arrays', (SELECT count(*) FROM sizes)
       |  UNION ALL
       |  SELECT 'phash_bands',
       |         (SELECT count(*) FROM kd WHERE doc_id % 3 = 0) +
       |         (SELECT count(*) FROM kd WHERE doc_id % 9 = 0)
       |  UNION ALL
       |  SELECT 'int8codes', (SELECT count(*) FROM ke)
       |  UNION ALL
       |  SELECT 'ivf_assign_n16',
       |         (SELECT count(*) FROM ke
       |          WHERE list_sum(list_transform(embedding::DOUBLE[],
       |                x -> x * x)) > 0)
       |  UNION ALL
       |  SELECT 'pqcodes_m8_n16', (SELECT count(*) * 8 FROM ke)
       |)
       |SELECT artifact,
       |       CAST(n AS BIGINT) AS n_after_delete,
       |       CAST(n AS BIGINT) AS n_rebuild,
       |       CAST(0 AS BIGINT) AS n_only_deleted,
       |       CAST(0 AS BIGINT) AS n_only_rebuild
       |FROM counts""".stripMargin
}
