package graft

import graft.plans.{GraftStrategies, MaterializeHofDependencies}
import org.apache.spark.sql.SparkSession

/** The one session factory: every harness main and the test suite build
  * their SparkSession here, so all of them run the same engine settings
  * and the same graft rules. */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, a UTC session
    * clock, nanosecond parquet timestamps read as longs (see
    * [[Tables.events]]) and no UI, with the graft rules installed. `conf`
    * entries are applied last, so a caller can override any of these
    * (GraftApp passes its deployment `spark.master`). */
  def local(cpus: Int, conf: Map[String, String] = Map.empty,
            logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    install(spark)
    spark
  }

  /** Attach [[MaterializeHofDependencies]] and [[GraftStrategies]] through
    * `spark.experimental`, so the full oracle gate exercises them (see
    * [[graft.plans.GraftExtensions]] for the cluster path; an injected
    * optimizer rule would run in a different optimizer batch). Idempotent:
    * each is added only if absent, so a second `local` call that returns
    * the same session does not run them twice. */
  private def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(MaterializeHofDependencies))
      ex.extraOptimizations = ex.extraOptimizations :+ MaterializeHofDependencies
    if (!ex.extraStrategies.contains(GraftStrategies))
      ex.extraStrategies = ex.extraStrategies :+ GraftStrategies
  }
}
