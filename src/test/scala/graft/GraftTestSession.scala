package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object GraftTestSession {
  lazy val spark: SparkSession = GraftSession.local(4, conf = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  /** Run `f` with the given SQL confs set, restoring priors afterwards. */
  def withConf[A](s: SparkSession, pairs: (String, String)*)(f: => A): A = {
    val priors = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally priors.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
