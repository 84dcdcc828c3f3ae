package graft

import graft.operators.{Dedup, Forget, SimilaritySearch, Staging}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The forget-cascade ENTRY POINT's contract (the deleted==rebuilt
  * property per layout is the q306 oracle lane's job): the manifest
  * names every delete-maintained layout, the cascade only touches
  * layouts that exist, and a roster-less source contributes nothing. */
class ForgetSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  test("the manifest registers every delete-maintained staged layout " +
    "by source table") {
    val bySource = Forget.manifest(GraftTestSession.Sf0001)
      .groupBy(_.layout.sourceTable)
      .map { case (s, ts) => s -> ts.map(_.layout.name).toSet }
    assert(bySource("documents") == Set("shingles_k3", "minhash16",
      "simhash", "ngrampairs", "phash_bands"),
      s"documents-derived targets drifted: ${bySource("documents")}")
    assert(bySource("embeddings") == Set("int8codes", "ivf_assign_n16",
      "pqcodes_m8_n16"),
      s"embeddings-derived targets drifted: ${bySource("embeddings")}")
  }

  test("forget() skips layouts never built and sources without a " +
    "roster, and tombstones the ones present") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_forget_spec").toString
    (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // only ONE documents-derived layout exists in this deployment
      Staging.prepared(spark, Dedup.SimhashLayout, dir)(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), xxhash64(col("text")).as("simhash")))
      val roster = Seq(3L, 8L).toDF("doc_id")
      val acted = Forget.forget(spark, dir, "t1",
        Map("documents" -> roster))
      assert(acted == Seq("simhash"),
        s"expected only the present layout acted on, got $acted")
      val ids = Staging.readPrepared(spark, Dedup.SimhashLayout, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == (1L to 20L).toSet -- Set(3L, 8L))
      // embeddings roster absent from the map: ANN targets contribute
      // nothing even if their layouts existed — re-run is idempotent
      assert(Forget.forget(spark, dir, "t1",
        Map("documents" -> roster)) == Seq("simhash"))
    } finally Staging.invalidate(dir)
  }

  test("the IVF assignments read in the same session after a forget " +
    "carry none of the forgotten vectors") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_forget_ivf").toString
    val src = s"$dir/embeddings.parquet"
    // the copy puts the forgotten vectors in a source file of their own,
    // so they fill one layout file: a delete rewrites the files it touches
    // under their ORIGINAL names (bytes a stale reader would still see
    // fresh), but a file it empties disappears, which only a reader that
    // re-lists the published layout survives
    val emb = spark.read.parquet(s"${GraftTestSession.Sf0001}/embeddings.parquet")
    val forgotten = emb.select("vec_id").as[Long].collect().sorted.take(3).toSet
    val isForgotten = col("vec_id").isin(forgotten.toSeq: _*)
    emb.filter(!isForgotten).coalesce(1).write.parquet(src)
    emb.filter(isForgotten).coalesce(1).write.mode("append").parquet(src)
    def ids = SimilaritySearch.ivfAssignments(spark, dir, 16)
      .select("vec_id").as[Long].collect().toSet
    try {
      SimilaritySearch.buildAnnForgetLayouts(spark, dir)
      val before = ids
      val idsByFile = Staging.readPrepared(spark,
        SimilaritySearch.ivfAssignLayout(16), dir)
        .select(input_file_name(), col("vec_id")).as[(String, Long)]
        .collect().groupBy(_._1).values.map(_.map(_._2).toSet)
      assert(idsByFile.exists(_ == forgotten),
        "fixture: the forgotten ids must fill one layout file")
      val acted = Forget.forget(spark, dir, "ivf_spec",
        Map("embeddings" -> forgotten.toSeq.toDF("vec_id")))
      assert(acted.contains("ivf_assign_n16"), s"acted on $acted")
      val after = ids
      assert(after.intersect(forgotten).isEmpty,
        s"forgotten ids still assigned: ${after.intersect(forgotten)}")
      assert(after == before -- forgotten)
    } finally {
      Staging.invalidate(dir)
      Staging.deleteRecursively(new java.io.File(dir))
    }
  }
}
