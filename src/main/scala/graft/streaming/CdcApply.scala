package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CDC APPLY — the `foreachBatch` sink pattern: a change stream
  * folded into a maintained key-value table (SCD Type-1, last-writer-wins)
  * one micro-batch at a time. This is the production shape for "keep a
  * serving table in sync with a change feed" on engines without a MERGE
  * sink: each micro-batch is a deterministic batch MERGE against the
  * current state, so the maintained table equals what a full batch rebuild
  * over all changes would produce — which is exactly what the oracle
  * checks.
  *
  * The per-batch merge is pure key-partitioned dataflow (aggregate the
  * batch per key, full-outer join against state, argmax by the total
  * (ts, okey) order) — at 100 TB both sides partition by the key and the
  * state table would be bucketed/clustered on it, so a batch touches only
  * its keys' partitions. Multi-batch runs are handled exactly: the merge
  * is associative (struct-max + count-sum), so ANY split of the feed into
  * micro-batches converges to the same table.
  */
object CdcApply {

  /** Roots this process created; deleted at JVM exit, never mid-process. */
  private val createdRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      createdRoots.forEach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }))
  private def registerForCleanup(root: java.nio.file.Path): Unit = {
    cleanupHook
    createdRoots.add(root)
    ()
  }

  /** Delete `graft_cdc_state_*` roots abandoned by DEAD processes (crashed
    * before their shutdown hook ran): age-gated at 2 h, far beyond any live
    * run, and never a root this process owns. */
  private def sweepStaleRoots(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.getName.startsWith("graft_cdc_state_") &&
          f.lastModified() < cutoff && !createdRoots.contains(f.toPath))
        org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
  }

  /** q156 — the `orders` table staged as a file-stream change feed
    * (custkey, change-ts, price cents, orderkey) and applied via
    * foreachBatch into a parquet state table; returns the final maintained
    * table: one row per key with the last-writer value and the lifetime
    * change count. All-integer output; the oracle is the batch
    * re-derivation (argmax per key over the whole feed). */
  def cdcApplyStreamQuery(spark: SparkSession, dir: String): DataFrame =
    applyFeed(spark, EventStreams.streamFeed(dir, "orders"),
      EventStreams.sanitize(dir), maxFilesPerTrigger = None)

  /** Drive the CDC apply over a staged feed directory. `maxFilesPerTrigger`
    * splits the feed into one micro-batch per file — the spec uses it to
    * prove the merge really is associative across batches. */
  private[graft] def applyFeed(spark: SparkSession, stagedDir: String,
                               stateKey: String,
                               maxFilesPerTrigger: Option[Int]): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = spark.read.parquet(stagedDir).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val changes = reader.parquet(stagedDir)
      .select(col("o_custkey").as("custkey"),
        graft.operators.Rfm.epochMs(col("o_orderdate")).as("ts_ms"),
        col("o_orderkey").as("okey"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))

    // Each invocation gets a UNIQUE root: a fixed key-only path would let a
    // subsequent/concurrent run (same testdata dir, or parallel test JVMs)
    // delete the directory out from under the lazily-read DataFrame a
    // previous call returned. Roots this process creates are removed by a
    // JVM shutdown hook (never mid-process — a previously returned result
    // may still read them); roots abandoned by dead processes are swept by
    // age, far beyond any live run's lifetime.
    sweepStaleRoots()
    val stateRoot = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_cdc_state_${stateKey}_${java.util.UUID.randomUUID().toString.take(8)}")
    registerForCleanup(stateRoot)
    val stateDir = stateRoot.resolve("current").toString

    EventStreams.withStreamConf(spark, Some(4)) {
      val q = changes.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          // batch-local last-writer per key: struct-max on the total
          // (ts, okey) order (okey is unique, so the tie-break is exact)
          val batchState = batch
            .groupBy(col("custkey"))
            .agg(max(struct(col("ts_ms"), col("okey"), col("price_c")))
              .as("last"), count(lit(1)).as("n_changes"))
            .select(col("custkey"), col("last.ts_ms").as("ts_ms"),
              col("last.okey").as("okey"), col("last.price_c").as("price_c"),
              col("n_changes"))
          val merged =
            if (!Files.isDirectory(Paths.get(stateDir))) batchState
            else {
              val prev = sp.read.parquet(stateDir)
              prev.toDF("custkey", "p_ts", "p_okey", "p_price", "p_n")
                .join(batchState, Seq("custkey"), "full_outer")
                .select(col("custkey"),
                  // last-writer-wins on the merged (ts, okey) order
                  when(col("ts_ms").isNull ||
                    (col("p_ts").isNotNull &&
                      struct(col("p_ts"), col("p_okey")) >
                        struct(col("ts_ms"), col("okey"))),
                    struct(col("p_ts").as("ts_ms"), col("p_okey").as("okey"),
                      col("p_price").as("price_c")))
                    .otherwise(struct(col("ts_ms"), col("okey"),
                      col("price_c"))).as("last"),
                  (coalesce(col("p_n"), lit(0L)) +
                    coalesce(col("n_changes"), lit(0L))).as("n_changes"))
                .select(col("custkey"), col("last.ts_ms").as("ts_ms"),
                  col("last.okey").as("okey"),
                  col("last.price_c").as("price_c"), col("n_changes"))
            }
          // write-then-swap: never overwrite the directory being read
          val next = stateRoot.resolve(s"next_$batchId").toString
          merged.write.mode(SaveMode.Overwrite).parquet(next)
          org.apache.commons.io.FileUtils.deleteQuietly(
            Paths.get(stateDir).toFile)
          Files.move(Paths.get(next), Paths.get(stateDir))
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(stateDir)
      .select(col("custkey"), col("ts_ms").as("last_ts_ms"),
        col("okey").as("last_okey"), col("price_c"), col("n_changes"))
  }

  val cdcApplyStreamSql: String =
    """WITH ch AS (
      |  SELECT o_custkey AS custkey, epoch_ms(o_orderdate) AS ts_ms,
      |         o_orderkey AS okey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders
      |), r AS (
      |  SELECT custkey, ts_ms, okey, price_c,
      |         row_number() OVER (PARTITION BY custkey
      |                            ORDER BY ts_ms DESC, okey DESC) AS rk,
      |         count(*) OVER (PARTITION BY custkey) AS n_changes
      |  FROM ch)
      |SELECT custkey, ts_ms AS last_ts_ms, okey AS last_okey, price_c,
      |       CAST(n_changes AS BIGINT) AS n_changes
      |FROM r WHERE rk = 1""".stripMargin
}
