package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump fails loudly: a lane that throws is returned as
  * failed, and every other output is still written. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  test("a throwing lane is returned as failed while the good lane's " +
    "parquet and oracle_sql.json are written") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_spec")
      .toFile
    val lanes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_good" -> ((s, _) => s.range(3).toDF("id")),
      "q_bad" -> ((_, _) => sys.error("injected lane failure")))
    try {
      val failed = Verify.dump(spark, GraftTestSession.Sf0001, out.toString,
        lanes, Map("q_good" -> "SELECT 1 AS id"))
      assert(failed == Seq("q_bad"))
      assert(spark.read.parquet(new java.io.File(out, "q_good").toString)
        .count() == 3)
      assert(!new java.io.File(out, "q_bad").exists())
      val json = java.nio.file.Files.readString(
        new java.io.File(out, "oracle_sql.json").toPath)
      assert(json == "{\"q_good\": \"SELECT 1 AS id\"}")
    } finally graft.operators.Staging.deleteRecursively(out)
  }

  /** The words of `sql` outside its '...' literals and -- comments (a ''
    * escape reads as two adjacent literals). */
  private def codeWords(sql: String): Seq[String] =
    "[A-Za-z0-9_]+".r.findAllIn(sql.replaceAll("'[^']*'|--[^\n]*", " ")).toSeq

  test("no oracle entry interpolates an uninitialized SQL fragment") {
    assert(codeWords("WITH null, b AS (SELECT 1)").contains("null"))
    assert(!codeWords("SELECT 'null', 'it''s null' AS n_null -- null\nFROM t")
      .contains("null"))
    // a fragment val read before its initializer has run interpolates as
    // the word null
    val bad = SparkEntry.oracleSql.collect {
      case (name, sql) if codeWords(sql).contains("null") => name
    }
    assert(bad.isEmpty, s"null interpolated into ${bad.toSeq.sorted.mkString(", ")}")
  }
}
