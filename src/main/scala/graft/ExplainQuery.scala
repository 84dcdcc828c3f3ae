package graft

/** Plan-inspection harness: print a contract query's EXECUTED plan against
  * any data directory, optionally after warming the session caches the way
  * a steady-state run would (`warm`), so cold-vs-warm plan diffs — the
  * q261 soak lesson: a populated CacheRegistry entry swaps parquet scans
  * for InMemoryRelations with DIFFERENT stats, and the downstream join
  * strategies can flip — are one command instead of a REPL session.
  *
  * Usage: runMain graft.ExplainQuery <query>[,<query>...] <dir> [warm]
  * The `warm` variant executes the query once (noop sink) first, then
  * re-plans: the second plan is what Bench's steady runs and every
  * later-in-session query actually execute. A comma-separated query list
  * prints every plan from ONE session (round 15: the plans/r15 capture
  * runs one JVM instead of one per query); `formatted` additionally
  * prints `explain("formatted")` — the optimization-round artifact —
  * after the executed plan. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExplainQuery <query>[,<query>...] <dir> [warm] [formatted] [time]")
    val (names, dir) = (args(0).split(",").toSeq.filter(_.nonEmpty), args(1))
    val warm = args.contains("warm")
    val formatted = args.contains("formatted")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, logLevel = "ERROR")
    for (name <- names) {
      val q = SparkEntry.queries(name)
      if (warm) {
        q(spark, dir).write.format("noop").mode("overwrite").save()
        System.err.println(s"[explain] warmed $name on $dir")
      }
      val df = q(spark, dir)
      println(s"=== $name @ $dir (${if (warm) "warm" else "cold"}) ===")
      println(df.queryExecution.executedPlan.toString)
      if (formatted) {
        println(s"--- $name explain(formatted) ---")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      // optional timing loop: re-execute and report wall seconds per run,
      // so plan-shape hypotheses get numbers in the same breath
      if (args.contains("time")) {
        for (i <- 1 to 3) {
          val t0 = System.nanoTime()
          q(spark, dir).write.format("noop").mode("overwrite").save()
          println(f"[time] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      }
    }
    spark.stop()
  }
}
