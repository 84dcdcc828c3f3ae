package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A lane that
  * throws gets no output and makes the run exit 1 once everything else
  * is written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // pin the run's dir so dynamically built oracles (literal centroids,
    // sketch estimates) select THIS run's captures — see graft.OracleCapture
    OracleCapture.currentDir = Some(sfDir)
    // Local-iteration focus filter (same contract as Bench): the driver sets
    // nothing and gets every query; SPARK_GRAFT_ONLY=q75,q31 narrows the dump.
    val keep = SparkEntry.onlyFilter(sys.env.get("SPARK_GRAFT_ONLY"))
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => keep(n) },
      SparkEntry.oracleSql)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} lane(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write each lane's result to `outDir/<name>` and then `oracleSql` to
    * `outDir/oracle_sql.json`, returning the names of the lanes that threw
    * (their `outDir/<name>` is removed). `oracleSql` is read after the
    * lanes run: the soft oracles embed literals the lanes capture. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          queries: Iterable[(String, (SparkSession, String) => DataFrame)],
                          oracleSql: => Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // an earlier run's output must not pass for this run's
        graft.operators.Staging.deleteRecursively(
          new java.io.File(outDir, name))
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
