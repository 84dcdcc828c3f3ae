package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event analytics (batch forms:
  * [[graft.operators.Events]]). The reference is batch-only (SURVEY §2.6);
  * this is the extension surface a production ingest pipeline needs.
  *
  * All transforms are expressed on `readStream` sources so the same code
  * runs against a file stream locally and a Kafka-style source at scale;
  * tests drive them with `processAllAvailable()` on a memory sink.
  */
object EventStreams {

  /** The events schema for the file-stream source, parameterized on how the
    * parquet decoder surfaces `ts`: the driver has shipped the column both as
    * TIMESTAMP(NANOS) — readable only as a raw long under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — and as TIMESTAMP(MICROS),
    * which decodes straight to TimestampType. A fixed schema here is wrong
    * the day the testdata flips encodings (it did, between rounds 6 and 7),
    * so the streaming read probes first ([[streamEvents]]). */
  private def eventSchemaWith(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unit-adaptive streaming read of a staged events directory — the
    * streaming twin of [[graft.Tables.events]]'s decode rule. A one-off
    * batch read probes the DECODED `ts` type: LongType means nanos-as-long
    * (convert with integer `DIV 1000`; double division would lose precision
    * above 2^53 ns), TimestampType means parquet micros (pass through).
    * The probe is a [[graft.CacheRegistry]] memo — one footer read per
    * (session, directory, decode conf), never per batch or per build:
    * q83/q137 build TWO sides over the same staged dir and the bench drives
    * each query 3+ times. The key carries
    * `spark.sql.legacy.parquet.nanosAsLong` because that conf decides the
    * decoded type. */
  private[graft] def streamEvents(spark: SparkSession, streamDir: String): DataFrame = {
    val nanosAsLong =
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val tsType = graft.CacheRegistry.memo(spark,
      s"ts-probe:$nanosAsLong:$streamDir")(
      spark.read.parquet(streamDir).schema("ts").dataType)
    val raw = spark.readStream
      .schema(eventSchemaWith(tsType))
      .parquet(streamDir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** File-based event stream from a testdata dir: Spark's file stream
    * source requires a directory of its own, so this streams the staged
    * [[streamFeed]] of `events` (built once per source build, then a gate
    * hit per call). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    streamEvents(spark, streamFeed(dir, "events"))

  /** Tumbling 1-hour windowed aggregate with a 2-hour watermark: the
    * streaming twin of `Events.hourlyAgg`. Late data beyond the watermark is
    * dropped; state is bounded by (windows in watermark horizon × types). */
  def hourlyWindowed(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("value_sum"))

  /** Sliding 1-hour/15-minute windowed count — each event lands in 4
    * overlapping windows. */
  def slidingWindowed(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  final case class UserEvent(user_id: Long, ts_ms: Long)
  final case class UserSessionState(nEvents: Long, nSessions: Long, lastMs: Long)
  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Custom stateful sessionization via mapGroupsWithState: per user, count
    * events and 30-minute-gap sessions. State is one small case class per
    * user — bounded, and at scale spread across executors by the groupBy
    * hash partitioning. */
  def sessionCounts(spark: SparkSession, events: DataFrame): Dataset[UserSessions] = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .select(col("user_id"),
        unix_millis(col("ts").cast(TimestampType)).as("ts_ms"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, UserSessions](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserSessionState]) =>
          val prev = state.getOption.getOrElse(UserSessionState(0L, 0L, Long.MinValue))
          // within a micro-batch, order by time; across batches, state carries lastMs
          val sorted = rows.toSeq.sortBy(_.ts_ms)
          val next = sorted.foldLeft(prev) { (s, e) =>
            val newSession = s.lastMs == Long.MinValue || e.ts_ms - s.lastMs > gapMs
            // max, not overwrite: a cross-batch out-of-order event must not
            // rewind the session clock (same late-event rule as
            // [[sessionEmitter]]'s merge branch)
            UserSessionState(s.nEvents + 1,
              s.nSessions + (if (newSession) 1 else 0),
              math.max(s.lastMs, e.ts_ms))
          }
          state.update(next)
          UserSessions(uid, next.nEvents, next.nSessions)
      }
  }

  // `ts` (the watermarked event-time column) must stay in the encoder:
  // EventTimeTimeout requires the grouped input to carry the watermark
  // attribute, not just descend from a watermark node
  final case class StampedEvent(user_id: Long, ts_ms: Long, ts: java.sql.Timestamp)
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long)
  final case class SessionRecord(user_id: Long, start_ms: Long, end_ms: Long,
                                 n_events: Long)
  final case class ValuedEvent(event_id: Long, user_id: Long, ts_ms: Long,
                               v_c: Long, ts: java.sql.Timestamp)
  final case class WindowBuf(ts_ms: Seq[Long], v_c: Seq[Long])
  final case class AnomalyFlag(event_id: Long, user_id: Long, v_c: Long,
                               n_w: Long)

  /** Streaming session EMITTER via flatMapGroupsWithState + event-time
    * timeout — the missing half of [[sessionCounts]]: that one keeps
    * per-user running counts forever; this one EMITS each closed session
    * downstream and then frees its state, which is the shape an ingest
    * pipeline actually needs (sessions feed a sink; state stays bounded by
    * the number of OPEN sessions inside the watermark horizon, not by the
    * number of users ever seen).
    *
    * Mechanics: one `OpenSession` per user in state; events in a batch are
    * folded in time order, closing a session whenever the gap exceeds
    * `gapMin` (strictly `>`, same as [[sessionCounts]] and the batch
    * `Events.sessionize`). The open session registers an event-time timeout
    * at `lastMs + gap`; when the WATERMARK passes it, the callback fires
    * with `hasTimedOut`, the final session is emitted, and the state is
    * dropped. Sessions still open when the watermark stalls (end-of-stream)
    * are correctly NOT emitted — they are not provably closed yet. */
  def sessionEmitter(spark: SparkSession, events: DataFrame,
                     gapMin: Int = 30,
                     watermarkDelay: String = "10 minutes"): Dataset[SessionRecord] = {
    import spark.implicits._
    val gapMs = gapMin * 60L * 1000
    events
      .select(col("user_id"), col("ts").cast(TimestampType).as("ts"))
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"), col("ts"))
      .as[StampedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRecord](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionRecord(uid, s.startMs, s.lastMs, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_ms)
            val closed = Seq.newBuilder[SessionRecord]
            var open = state.getOption
            sorted.foreach { e =>
              open = open match {
                case Some(s) if e.ts_ms - s.lastMs > gapMs =>
                  closed += SessionRecord(uid, s.startMs, s.lastMs, s.n)
                  Some(OpenSession(e.ts_ms, e.ts_ms, 1))
                case Some(s) =>
                  // events sort within a batch, but an event from a LATER
                  // batch may be older than the carried lastMs (late but
                  // inside the watermark). min/max instead of overwrite —
                  // a plain `lastMs = e.ts_ms` would rewind the session
                  // clock and a following on-time event could falsely
                  // split the session
                  Some(OpenSession(math.min(s.startMs, e.ts_ms),
                    math.max(s.lastMs, e.ts_ms), s.n + 1))
                case None =>
                  Some(OpenSession(e.ts_ms, e.ts_ms, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming 3σ anomaly gate — the streaming twin of
    * [[graft.operators.Events.anomalies]]: every user's trailing 7-day
    * window (count / Σcents / Σcents² kept as an explicit per-key buffer in
    * `flatMapGroupsWithState`) flags values where
    * `(n·x − s)² > 9·(n·q − s²)` with `n ≥ 5` — the same exact-integer
    * cross-multiplied test, so a flag here is bit-identical to the batch
    * operator's.
    *
    * Semantics per micro-batch: each group's rows are processed in
    * (ts, event_id) order, and timestamp PEERS enter the window before any
    * of them is evaluated — matching the batch RANGE frame exactly. State
    * is pruned to the 7-day horizon as it advances and removed via
    * event-time timeout once the watermark passes the last event + 7 days,
    * so state per user is bounded by the window's event density. A late
    * (within-watermark) arrival folds in with the knowledge available at
    * its processing time — the standard streaming relaxation; the local
    * single-batch harness run is exactly batch-equivalent (asserted in
    * StreamingSpec and by the shared q99 oracle). */
  def anomalyStream(spark: SparkSession, events: DataFrame,
                    windowMs: Long = 604800000L,
                    watermarkDelay: String = "10 minutes"): Dataset[AnomalyFlag] = {
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"),
        col("ts").cast(TimestampType).as("ts"),
        round(col("value") * 100).cast(LongType).as("v_c"))
      .withWatermark("ts", watermarkDelay)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("v_c"), col("ts"))
      .as[ValuedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[WindowBuf, AnomalyFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state: GroupState[WindowBuf]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (uid, rows, state: GroupState[WindowBuf]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_id))
          var buf = state.getOption.map(b => b.ts_ms.zip(b.v_c))
            .getOrElse(Seq.empty)
          val out = Seq.newBuilder[AnomalyFlag]
          sorted.groupBy(_.ts_ms).toSeq.sortBy(_._1).foreach {
            case (t, peers) =>
              buf = buf.filter(_._1 >= t - windowMs) ++
                peers.map(e => (e.ts_ms, e.v_c))
              val n = buf.length.toLong
              if (n >= 5) {
                val s = buf.iterator.map(_._2).sum
                val q = buf.iterator.map(x => x._2 * x._2).sum
                peers.foreach { e =>
                  val d = n * e.v_c - s
                  if (d * d > 9 * (n * q - s * s))
                    out += AnomalyFlag(e.event_id, uid, e.v_c, n)
                }
              }
          }
          val lastTs = math.max(sorted.last.ts_ms,
            state.getOption.map(b => if (b.ts_ms.isEmpty) 0L else b.ts_ms.max)
              .getOrElse(0L))
          buf = buf.filter(_._1 >= lastTs - windowMs)
          state.update(WindowBuf(buf.map(_._1), buf.map(_._2)))
          state.setTimeoutTimestamp(lastTs + windowMs)
          out.result().iterator
      }
  }

  /** q100 — the streaming anomaly gate driven to completion on the staged
    * file stream; shares q99's DuckDB oracle. */
  def anomalyStreamQuery(spark: SparkSession, dir: String): DataFrame =
    runToBatch(spark, anomalyStream(spark, readEvents(spark, dir)).toDF(),
      s"anomaly_stream_${sanitize(dir)}", OutputMode.Append,
      shufflePartitions = Some(4))

  /** Streaming exact dedup: drop re-delivered events by `event_id` with
    * state bounded by the watermark horizon (`dropDuplicatesWithinWatermark`
    * — the at-least-once → effectively-once ingest repair step). Plain
    * `dropDuplicates` on a stream keeps every key forever; the
    * within-watermark variant expires each key once the watermark passes
    * its event time, which is the only state contract that survives an
    * unbounded stream. */
  def dedupStream(events: DataFrame,
                  watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** The file-stream feed of `$dir/<table>.parquet`: the
    * [[graft.operators.Staging.stage]] layout `stream_<table>_x<copies>`,
    * holding every data file of the source `copies` times over (copies > 1
    * = a deterministic at-least-once redelivery) as
    * `part-<copy>-<n>.parquet`. The source is a single parquet FILE (the
    * testdata layout) or each `part-*` file of a Spark-written DIRECTORY
    * (the soak's ×N dirs); both are byte copies, no Spark job. The
    * layout's `_SUCCESS` and `_GRAFT_FP` are invisible to the stream:
    * file-stream sources skip `_`-prefixed names. */
  private[graft] def streamFeed(dir: String, table: String,
                                copies: Int = 1): String =
    graft.operators.Staging.stage(s"stream_${table}_x$copies", dir, table) {
      out =>
        import java.nio.file.{Files, Paths}
        val src = Paths.get(dir, s"$table.parquet").toFile
        val files =
          if (src.isFile) Array(src)
          else Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
            .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        require(files.nonEmpty, s"no data files under $src")
        Files.createDirectories(Paths.get(out))
        for (c <- 0 until copies; (f, n) <- files.zipWithIndex)
          Files.copy(f.toPath, Paths.get(out, f"part-$c-$n%05d.parquet"))
        Files.createFile(Paths.get(out, "_SUCCESS"))
        ()
    }

  /** q106 — [[dedupStream]] as an oracle-checked contract query: the source
    * feed is staged TWICE (a deterministic at-least-once redelivery — every
    * event arrives two times), streamed through the within-watermark dedup,
    * and the output must collapse back to exactly the original `events`
    * table, row for row. Money rides the long-cents path; output carries no
    * timestamp so micro-batch boundaries cannot move the hash. */
  def dedupStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val doubled = streamEvents(spark, streamFeed(dir, "events", copies = 2))
    val deduped = dedupStream(doubled)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast(LongType).as("v_c"))
    runToBatch(spark, deduped, s"dedup_stream_${sanitize(dir)}",
      OutputMode.Append, shufflePartitions = Some(4))
  }

  val dedupStreamSql: String =
    """SELECT event_id, user_id, event_type,
      |       CAST(round(value * 100) AS BIGINT) AS v_c
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- q291

  /** The q291 schedule splits on the md5 nibble of event_id (the q47
    * bucket discipline): nibble < '4' (~25%) is the LATE set; the on-time
    * remainder splits into feed files A ('4'–'9') and B ('a'–'f'). Two
    * on-time batches ahead of the late batch are REQUIRED by Spark's
    * measured late-event rule (pinned in StreamingSpec): the watermark a
    * batch filters late input against is the value committed at the
    * PREVIOUS batch's start — i.e. derived from batches ≤ N−2 — so a
    * late file in batch 1 is filtered against the initial 1970 watermark
    * and nothing drops; in batch 2 it is filtered against
    * max(file A) − delay. */
  private def lateCond: org.apache.spark.sql.Column =
    substring(md5(col("event_id").cast(StringType)), 1, 1) < "4"
  private def fileACond: org.apache.spark.sql.Column = {
    val nib = substring(md5(col("event_id").cast(StringType)), 1, 1)
    nib >= "4" && nib <= "9"
  }

  /** Stage `events` as a THREE-FILE feed with a deterministic
    * out-of-order schedule, the [[graft.operators.Staging.stage]] layout
    * `stream_events_late`: files 00/01 carry the on-time rows (split A
    * then B), file 02 the late set, with strictly increasing mtimes so
    * the file stream (under `maxFilesPerTrigger = 1`) replays them as
    * three ordered micro-batches. `ts` is normalized to a timestamp type
    * at write, so the stream-side decode is encoding-independent. */
  private def lateFeed(spark: SparkSession, dir: String): String =
    graft.operators.Staging.stage("stream_events_late", dir, "events") { out =>
      import java.nio.file.{Files, Paths}
      val src = Paths.get(dir, "events.parquet")
      val raw = spark.read.parquet(src.toString)
      val ev = raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case _ => raw
      }
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Paths.get(out, s"_tmp_$name")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dst = Paths.get(out, name)
        Files.move(part.toPath, dst)
        graft.operators.Staging.deleteRecursively(tmp.toFile)
        // the strictly-increasing mtimes ARE the batch order — fail
        // loudly here rather than as a census mismatch far downstream
        require(dst.toFile.setLastModified(mtime),
          s"cannot set mtime on $name — the 3-batch replay order " +
            "depends on it")
      }
      // deterministic, strictly increasing mtimes derived from the source
      val t0 = (src.toFile.lastModified / 60000) * 60000
      writeOne(ev.filter(fileACond), "part-00-ontime-a.parquet", t0)
      writeOne(ev.filter(!lateCond && !fileACond),
        "part-01-ontime-b.parquet", t0 + 60000)
      writeOne(ev.filter(lateCond), "part-02-late.parquet", t0 + 120000)
      Files.createFile(Paths.get(out, "_SUCCESS"))
      ()
    }

  /** q291 — LATE-DATA CENSUS (round-11 verdict item 5): every watermark
    * lane so far measures the happy path; the first question a streaming
    * user asks at scale is the delay-vs-completeness trade — how many
    * rows does a given watermark delay actually DROP, and how late were
    * they? This lane re-feeds `events` on a deterministic out-of-order
    * schedule ([[lateFeed]]: the md5-selected ~25% late set arrives
    * two micro-batches after the on-time stream begins), drives the
    * standard hourly windowed count through a real three-batch streaming
    * execution (`maxFilesPerTrigger = 1`), and reads the drop census off
    * the OBSERVED output: per lag band — whole hours a window's end had
    * already expired past the effective drop watermark (max event time
    * of feed file A minus the delay; band −1 = not yet expired) when its
    * late rows arrived — the window count, the late rows scheduled, and
    * the rows the watermark actually dropped (batch-expected minus
    * stream-observed).
    *
    * The census restricts itself to CLOSED windows (end ≤ the final
    * watermark): those are finalized and emitted exactly once in Append
    * mode, so expected−observed is a real drop count, not an
    * open-window artifact. The ORACLE derives the same census
    * analytically from the watermark CONTRACT — watermark = max event
    * time seen minus delay; a row whose window end ≤ watermark is
    * dropped — so the hash equality pins Spark's actual late-row
    * semantics (boundary included) against the documented rule,
    * cross-engine.
    *
    * Scale shape: the streaming side is the q64 windowed aggregate
    * (state bounded by windows-in-horizon); the batch side is two
    * scans + one window-keyed aggregate; the census join is
    * window-count-sized. Monotonicity (shrinking the delay grows the
    * drop set) is spec-pinned by running a second delay. */
  def lateDataCensusQuery(spark: SparkSession, dir: String,
                          delayHours: Int = 2,
                          sinkTag: String = ""): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    val staged = lateFeed(spark, dir)
    // stream: one file per micro-batch, oldest first — the staged order
    val streamed = spark.readStream
      .schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(staged)
      .withColumn("ts", col("ts").cast(TimestampType))
    val agg = streamed
      .withWatermark("ts", s"$delayHours hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_obs"))
      .select(col("window.start").as("wstart"), col("n_obs"))
    val observed = runToBatch(spark, agg,
      s"late_census_$sinkTag${delayHours}h_${sanitize(dir)}",
      OutputMode.Append,
      shufflePartitions = Some(4), awaitStateFlush = true)
    // batch expectations over the SAME staged feed: the drop watermark
    // w0 derives from feed file A ONLY (the measured Spark rule — the
    // late batch N filters against the watermark of batches ≤ N−2)
    val all = spark.read.parquet(staged)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withColumn("late", lateCond)
    val params = all.agg(
      (max(when(fileACond, col("ts"))) -
        expr(s"INTERVAL $delayHours HOURS")).as("w0"),
      (max(col("ts")) - expr(s"INTERVAL $delayHours HOURS")).as("wfinal"))
    val perWindow = all
      .select(col("late"), date_trunc("hour", col("ts")).as("wstart"))
      .withColumn("wend", col("wstart") + expr("INTERVAL 1 HOUR"))
      .crossJoin(broadcast(params))
      .filter(col("wend") <= col("wfinal"))
      .groupBy(col("wstart"), col("wend"), col("w0"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
    perWindow
      .join(observed, Seq("wstart"), "left")
      .withColumn("lag_band",
        when(col("wend") <= col("w0"),
          expr("(unix_seconds(w0) - unix_seconds(wend)) div 3600"))
          .otherwise(lit(-1L)))
      .groupBy(col("lag_band"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_late")).as("n_late_rows"),
        sum(col("n_total") - coalesce(col("n_obs"), lit(0L)))
          .as("n_dropped_rows"))
  }

  /** [[lateDataCensusQuery]]'s oracle: the identical schedule (md5 late
    * split), watermarks, closed-window set and lag bands re-derived
    * ANALYTICALLY from the watermark contract on the original `events`
    * table — expected drops = late rows whose window end ≤ the
    * post-batch-0 watermark. Hash equality = Spark's measured late-row
    * behavior matches the contract, band for band. */
  def lateDataCensusSql(delayHours: Int = 2): String =
    s"""WITH ev AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
       |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '4' AS late,
       |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
       |           BETWEEN '4' AND '9' AS file_a
       |  FROM events
       |), params AS (
       |  -- the drop watermark derives from feed file A only: Spark
       |  -- filters a batch's late input against the watermark of
       |  -- batches <= N-2 (pinned in StreamingSpec)
       |  SELECT max(ts) FILTER (WHERE file_a)
       |           - INTERVAL $delayHours HOUR AS w0,
       |         max(ts) - INTERVAL $delayHours HOUR AS wfinal
       |  FROM ev
       |), win AS (
       |  SELECT date_trunc('hour', ts) AS wstart,
       |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend, late
       |  FROM ev
       |), per_window AS (
       |  SELECT w.wstart, w.wend, p.w0,
       |         count(*) AS n_total,
       |         sum(CASE WHEN w.late THEN 1 ELSE 0 END) AS n_late,
       |         sum(CASE WHEN w.late AND w.wend <= p.w0
       |                  THEN 1 ELSE 0 END) AS n_dropped
       |  FROM win w, params p
       |  WHERE w.wend <= p.wfinal
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CASE WHEN wend <= w0
       |            THEN (epoch(w0)::BIGINT - epoch(wend)::BIGINT) // 3600
       |            ELSE -1 END AS lag_band,
       |       CAST(count(*) AS BIGINT) AS n_windows,
       |       CAST(sum(n_late) AS BIGINT) AS n_late_rows,
       |       CAST(sum(n_dropped) AS BIGINT) AS n_dropped_rows
       |FROM per_window GROUP BY 1""".stripMargin

  /** The q297 delay grid: hourly-window drop censuses at 1, 2 and 4
    * hours of watermark delay. */
  final val DelayCurveHours: Seq[Int] = Seq(1, 2, 4)

  /** The grid point q297 MEASURES with a real streaming drive — the
    * q291 contract delay. */
  private val ContractDelayHours: Int = 2

  /** The per-delay drop census derived ANALYTICALLY from the watermark
    * contract over the staged feed — w0/wfinal from the schedule,
    * dropped = late rows in closed windows whose end ≤ w0. This is
    * exactly the rule the q291 lane MEASURES and its oracle pins
    * cross-engine (plus the progress-trail spec pinning the engine's
    * own reported watermarks); the curve's non-contract grid points
    * apply it instead of paying two more full drives (round-13 verdict
    * item 7). Spec-pinned equal to a real drive at a non-contract
    * delay. */
  private[graft] def analyticLateCensus(spark: SparkSession, dir: String,
      delayHours: Int): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    val staged = lateFeed(spark, dir)
    val all = spark.read.parquet(staged)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withColumn("late", lateCond)
    val params = all.agg(
      (max(when(fileACond, col("ts"))) -
        expr(s"INTERVAL $delayHours HOURS")).as("w0"),
      (max(col("ts")) - expr(s"INTERVAL $delayHours HOURS")).as("wfinal"))
    all.select(col("late"), date_trunc("hour", col("ts")).as("wstart"))
      .withColumn("wend", col("wstart") + expr("INTERVAL 1 HOUR"))
      .crossJoin(broadcast(params))
      .filter(col("wend") <= col("wfinal"))
      .groupBy(col("wstart"), col("wend"), col("w0"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      .withColumn("lag_band",
        when(col("wend") <= col("w0"),
          expr("(unix_seconds(w0) - unix_seconds(wend)) div 3600"))
          .otherwise(lit(-1L)))
      .groupBy(col("lag_band"))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_late")).as("n_late_rows"),
        sum(when(col("wend") <= col("w0"), col("n_late")).otherwise(0L))
          .as("n_dropped_rows"))
  }

  /** q297 — WATERMARK DELAY CURVE (round-12 verdict item 6): q291
    * audits ONE delay; the operator a user actually consults to CHOOSE a
    * watermark is the curve — per candidate delay, the per-lag-band drop
    * census, in one table. ONE real streaming drive (the contract
    * delay's grid point, its own curve-tagged sink so q291's lane is
    * untouched) anchors the measurement; the other delays apply the
    * measured-and-pinned watermark contract analytically over the same
    * staged schedule ([[analyticLateCensus]]) — three full drives of the
    * same feed would re-pay fixed state-store setup twice to re-derive
    * what the pinned rule already determines (round-13 verdict item 7).
    * The delay-vs-completeness monotonicity (a tighter watermark can
    * only drop more) is spec-pinned across all three delays in-lane,
    * and the analytic census is spec-pinned equal to a REAL drive at a
    * non-contract delay. */
  def watermarkDelayCurve(spark: SparkSession, dir: String,
      delays: Seq[Int] = DelayCurveHours): DataFrame =
    delays.map { d =>
      val census =
        if (d == ContractDelayHours)
          lateDataCensusQuery(spark, dir, d, sinkTag = "curve_")
        else analyticLateCensus(spark, dir, d)
      census.select(lit(d.toLong).as("delay_hours"), col("lag_band"),
        col("n_windows"), col("n_late_rows"), col("n_dropped_rows"))
    }.reduce(_ unionAll _)

  /** [[watermarkDelayCurve]]'s oracle: the q291 contract census per
    * delay, unioned with the delay as a column. */
  def watermarkDelayCurveSql(delays: Seq[Int] = DelayCurveHours): String =
    delays.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS delay_hours, *
         |FROM (
         |${lateDataCensusSql(d)}
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Contract query: the tumbling-window aggregate executed as a REAL
    * Structured Streaming query (micro-batched file source → watermark →
    * stateful window aggregate → memory sink, driven to completion), with
    * output shaped to match the batch oracle — value sums go through
    * DECIMAL so the micro-batch accumulation order cannot move the result.
    * This makes streaming execution itself oracle-checked against DuckDB. */
  def hourlyStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampType}
    val streamed = readEvents(spark, dir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(24, 6))).cast(DoubleType)
          .as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("value_sum"))
    runToBatch(spark, streamed, s"hourly_stream_${sanitize(dir)}",
      OutputMode.Complete, shufflePartitions = Some(4))
  }

  /** q208 — streaming EXACT hourly quantiles: the windowed stateful
    * aggregate carrying Spark's exact interpolating `percentile` (the q17
    * batch twin) through a REAL micro-batched streaming run — the gap the
    * streaming family (counts/sums/distinct/sessions) didn't cover. Output
    * matches DuckDB's `quantile_cont` at 4 dp (the q17 cross-engine
    * contract: identical interpolation arithmetic on identical doubles).
    *
    * Scale note, stated honestly: EXACT quantiles buffer every value of an
    * open window in the state store (`percentile` is a
    * TypedImperativeAggregate) — state is O(events per window horizon),
    * not O(groups) like the count/sum windows. That is the deliberate
    * price of the oracle lane here; the production swap at 100 TB/day is
    * `percentile_approx` (GK sketch state, bounded) in the same plan, or
    * closing windows on watermark and computing exact quantiles per closed
    * window in the batch layer. */
  def hourlyQuantileStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    val streamed = readEvents(spark, dir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("p50"), col("p90"), col("n"))
    runToBatch(spark, streamed, s"hourly_quantile_stream_${sanitize(dir)}",
      OutputMode.Complete, shufflePartitions = Some(4))
  }

  val hourlyQuantileSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |       round(quantile_cont(value, 0.5), 4) AS p50,
      |       round(quantile_cont(value, 0.9), 4) AS p90,
      |       count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Stream-stream interval join: each click joined to the same user's
    * errors arriving within the following 60 minutes. Both sides carry a
    * watermark AND the join predicate bounds event-time distance, which is
    * exactly what lets Spark evict buffered rows: a click older than
    * (watermark − 60 min) can never match a future error, so state stays
    * bounded by the horizon, not the stream length. Inner joins emit on
    * match (no watermark wait), so results stream out with no added
    * latency. The streaming twin of `Events.rangeJoinClicksBeforeErrors`'s
    * unbinned core. */
  def intervalJoinStream(spark: SparkSession, dir: String,
                         joinType: String = "inner"): DataFrame = {
    def side(tpe: String, prefix: String) =
      readEvents(spark, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("ts").cast(TimestampType).as(s"${prefix}_ts"),
          col("event_id").as(s"${prefix}_id"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    side("click", "c").join(side("error", "e"),
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") &&
        col("e_ts") <= col("c_ts") + expr("interval 60 minutes"),
      joinType)
  }

  /** Contract query: [[intervalJoinStream]] driven to completion, output
    * shaped for the DuckDB oracle (ids + the exact millisecond delay). */
  def intervalJoinQuery(spark: SparkSession, dir: String): DataFrame =
    runToBatch(spark,
      intervalJoinStream(spark, dir)
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("e_id").as("error_id"),
          (unix_millis(col("e_ts")) - unix_millis(col("c_ts"))).as("delay_ms")),
      s"interval_join_${sanitize(dir)}",
      shufflePartitions = Some(4))

  val intervalJoinSql: String =
    """SELECT c.user_id AS user_id, c.event_id AS click_id,
      |       e.event_id AS error_id,
      |       epoch_ms(CAST(e.ts AS TIMESTAMP)) - epoch_ms(CAST(c.ts AS TIMESTAMP)) AS delay_ms
      |FROM events c JOIN events e
      |  ON c.user_id = e.user_id
      | AND c.event_type = 'click' AND e.event_type = 'error'
      | AND CAST(e.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(e.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 60 MINUTE""".stripMargin

  /** q137 — stream-stream LEFT OUTER interval join: q83's join with the
    * hard streaming semantics on top. A matched click emits normally; an
    * UNMATCHED click emits a null-padded row only once the watermark
    * proves no future error can still match it (state eviction), i.e. when
    * `wm > c_ts + 60min` where `wm = min(max c_ts, max e_ts) − 1h` at
    * end-of-input. Unmatched clicks ABOVE that frontier stay in state and
    * are never emitted — exactly what an unbounded run would do, and the
    * part an inner join never exercises.
    *
    * The null-padded rows flush in the watermark-advance NO-DATA
    * micro-batch after the last data batch; [[runToBatch]]'s
    * `awaitStateFlush` waits for that batch to commit before stopping the
    * query (`processAllAvailable` alone only guarantees DATA batches).
    *
    * The oracle recomputes the frontier from the data — both engines see
    * the same single-batch input, so the emitted set is deterministic. */
  def intervalJoinLeftOuterQuery(spark: SparkSession, dir: String): DataFrame =
    runToBatch(spark,
      intervalJoinStream(spark, dir, joinType = "left_outer")
        .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
          col("e_id").as("error_id"),
          (unix_millis(col("e_ts")) - unix_millis(col("c_ts"))).as("delay_ms")),
      s"interval_join_lo_${sanitize(dir)}",
      shufflePartitions = Some(4), awaitStateFlush = true)

  val intervalJoinLeftOuterSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click'
      |), e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'error'
      |), wm AS (
      |  SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM e))
      |           - INTERVAL 1 HOUR AS w
      |)
      |SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
      |       epoch_ms(e.ts) - epoch_ms(c.ts) AS delay_ms
      |FROM c JOIN e
      |  ON c.user_id = e.user_id
      | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 60 MINUTE
      |UNION ALL
      |SELECT c.user_id, c.event_id AS click_id,
      |       CAST(NULL AS BIGINT) AS error_id,
      |       CAST(NULL AS BIGINT) AS delay_ms
      |FROM c
      |WHERE NOT EXISTS (
      |        SELECT 1 FROM e
      |        WHERE e.user_id = c.user_id
      |          AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 60 MINUTE)
      |  AND c.ts + INTERVAL 60 MINUTE < (SELECT w FROM wm)""".stripMargin

  /** q286 — stream-stream FULL OUTER interval join, completing the q83
    * (inner) / q137 (left-outer) family with the last join mode a
    * streaming user reaches for — and the only one that exercises
    * BOTH-side state eviction. Matched pairs emit on match; an unmatched
    * CLICK null-pads once `wm > c_ts + 60min` (its whole match window is
    * past — q137's frontier); an unmatched ERROR null-pads once
    * `wm > e_ts` (the join requires `c_ts ≤ e_ts`, so once the watermark
    * passes the error's own timestamp no in-horizon click can still
    * match it — the RIGHT side's eviction condition, strictly tighter
    * than the left's because the interval is one-sided). Rows above
    * their frontier stay in state and are withheld, exactly as an
    * unbounded run would.
    *
    * The oracle recomputes BOTH frontiers from the data
    * (`wm = min(max c_ts, max e_ts) − 1h` at end-of-input): inner rows ∪
    * below-frontier unmatched clicks ∪ below-frontier unmatched errors.
    * Both engines see the same single-batch input, so the emitted set is
    * deterministic; the null-padded flushes ride the no-data
    * watermark-advance micro-batch [[runToBatch]] awaits.
    *
    * Scale shape: identical to q83 — state bounded by the 1h horizon per
    * side, partitioned by user hash; full-outer adds only the eviction
    * emission, not state growth. */
  def intervalJoinFullOuterQuery(spark: SparkSession, dir: String): DataFrame =
    runToBatch(spark,
      intervalJoinStream(spark, dir, joinType = "full_outer")
        .select(coalesce(col("c_user"), col("e_user")).as("user_id"),
          col("c_id").as("click_id"), col("e_id").as("error_id"),
          (unix_millis(col("e_ts")) - unix_millis(col("c_ts"))).as("delay_ms")),
      s"interval_join_fo_${sanitize(dir)}",
      shufflePartitions = Some(4), awaitStateFlush = true)

  val intervalJoinFullOuterSql: String =
    s"""$intervalJoinLeftOuterSql
       |UNION ALL
       |SELECT e.user_id, CAST(NULL AS BIGINT) AS click_id,
       |       e.event_id AS error_id,
       |       CAST(NULL AS BIGINT) AS delay_ms
       |FROM e
       |WHERE NOT EXISTS (
       |        SELECT 1 FROM c
       |        WHERE c.user_id = e.user_id
       |          AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 60 MINUTE)
       |  AND e.ts < (SELECT w FROM wm)""".stripMargin

  /** q146 — NATIVE streaming session windows (`session_window`): the
    * merging-window state operator, complementing the two hand-rolled
    * sessionizers ([[sessionCounts]] keeps running per-user counts,
    * [[sessionEmitter]] is the flatMapGroupsWithState form). Here the
    * ENGINE owns the state: each event opens a [ts, ts+gap) candidate
    * window, overlapping windows per key merge in the session-window state
    * store, and Append mode emits a session only once the WATERMARK passes
    * its end — i.e. once no in-horizon event can extend it. Sessions still
    * inside the horizon at end-of-input are correctly withheld (same
    * finalization frontier q137 exercises for outer joins).
    *
    * State at scale is bounded by OPEN sessions inside the watermark
    * horizon, partitioned by user hash — the shape that survives an
    * unbounded stream, unlike any collected-events variant.
    *
    * Oracle: q67's gaps-and-islands CTEs (identical `>= gap` boundary rule)
    * plus the frontier filter `end_ms <= wm` where
    * `wm = max(ts) − watermark delay` — StreamingSpec pins the emitted set
    * against the batch [[graft.operators.Events.sessionWindows]] under the
    * same filter, frontier-inequality included. */
  def sessionWindowStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val streamed = readEvents(spark, dir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"))
    runToBatch(spark, streamed, s"session_window_stream_${sanitize(dir)}",
      OutputMode.Append, shufflePartitions = Some(4), awaitStateFlush = true)
  }

  val sessionWindowStreamSql: String =
    """WITH evts AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
      |flagged AS (
      |  SELECT user_id, ts_ms,
      |         CASE WHEN lag(ts_ms) OVER w IS NULL
      |                OR ts_ms - lag(ts_ms) OVER w >= 30*60*1000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM evts WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
      |numbered AS (
      |  SELECT user_id, ts_ms,
      |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, min(ts_ms) AS start_ms,
      |         max(ts_ms) + 30*60*1000 AS end_ms,
      |         count(*) AS n_events
      |  FROM numbered GROUP BY user_id, session_id),
      |wm AS (SELECT max(ts_ms) - 10*60*1000 AS w FROM evts)
      |SELECT s.user_id, s.start_ms, s.end_ms, s.n_events
      |FROM sess s CROSS JOIN wm WHERE s.end_ms <= wm.w""".stripMargin

  /** q89 — stream-static enrichment join: the purchase stream joined to the
    * (static, broadcastable) customer dimension, aggregated by market
    * segment. The static side needs no watermark and no state — Spark
    * re-plans it per micro-batch like any batch dimension join, which is
    * exactly the production "enrich events with reference data" shape. With
    * the stream-stream interval join (q83) this completes the streaming
    * join matrix. Money rides the exact long-cents path so micro-batch
    * accumulation order cannot move the sum. */
  def enrichStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val streamed = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("value_cents"))
      .select(col("c_mktsegment").as("mktsegment"), col("n"),
        col("value_cents"))
    runToBatch(spark, streamed, s"enrich_stream_${sanitize(dir)}",
      OutputMode.Complete, shufflePartitions = Some(4))
  }

  // the same per-segment purchase totals as the bucketed batch join
  val enrichStreamSql: String = graft.operators.Bucketing.bucketedSegmentAggSql

  /** q152 — the SLIDING-window aggregate ([[slidingWindowed]]) as a real
    * driven-to-completion streaming contract query: 1-hour windows sliding
    * every 15 minutes, so each event lands in exactly 4 overlapping window
    * panes. Complete mode emits every pane; the oracle enumerates the same
    * 4 epoch-aligned pane starts per event (Spark aligns window starts to
    * the epoch on the slide grid — `floor₁₅(ts) − {0,15,30,45} min`).
    * Counts only — pure integers, no accumulation-order exposure. */
  def slidingStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val streamed = slidingWindowed(readEvents(spark, dir))
      .select(unix_millis(col("win_start")).as("win_start_ms"),
        col("event_type"), col("n"))
    runToBatch(spark, streamed, s"sliding_stream_${sanitize(dir)}",
      OutputMode.Complete, shufflePartitions = Some(4))
  }

  val slidingStreamSql: String =
    """WITH e AS (
      |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ms, event_type FROM events),
      |panes AS (
      |  SELECT (ms // 900000) * 900000 - k * 900000 AS win_start_ms,
      |         event_type
      |  FROM e CROSS JOIN (SELECT unnest(range(4)) AS k))
      |SELECT CAST(win_start_ms AS BIGINT) AS win_start_ms, event_type,
      |       count(*) AS n
      |FROM panes GROUP BY win_start_ms, event_type""".stripMargin

  /** q153 — streaming POINT-IN-TIME enrichment against a time-versioned
    * (SCD2-style) dimension: the purchase stream picks up the signup
    * version IN EFFECT at each purchase's own event time
    * (`eff_from ≤ ts < eff_to`, open current version). The dimension is
    * derived from the same event log (per-user signup history versioned by
    * `lead` over (ts, event_id)), computed BATCH and joined stream-static —
    * Spark re-plans the static side per micro-batch, so at production scale
    * this is "enrich the stream against the warehouse's dimension table as
    * of event time", with no stream-side state at all (the join is
    * stateless; only correctness of the interval predicate matters).
    * Money rides long cents; output is row-level and fully deterministic.
    *
    * The interval predicate is a post-filter on the user_id equi-join —
    * versions-per-user is change-bounded exactly like [[graft.operators.Merge.pitEnrichOrders]],
    * whose 100 TB argument (and as-of escape hatch for skew) carries over. */
  def pitEnrichStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val dim = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"),
        unix_millis(col("ts").cast(TimestampType)).as("ts_ms"),
        col("event_id"),
        round(col("value") * 100).cast(LongType).as("signup_v_c"))
      .select(col("user_id"), col("ts_ms").as("eff_from_ms"),
        lead(col("ts_ms"), 1).over(w).as("eff_to_ms"),
        row_number().over(w).cast(LongType).as("version"),
        col("signup_v_c"))
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts").cast(TimestampType)).as("ts_ms"))
    val enriched = purchases.join(dim, Seq("user_id"))
      .filter(col("ts_ms") >= col("eff_from_ms") &&
        (col("eff_to_ms").isNull || col("ts_ms") < col("eff_to_ms")))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("version"), col("signup_v_c"))
    runToBatch(spark, enriched, s"pit_stream_${sanitize(dir)}",
      shufflePartitions = Some(4))
  }

  val pitEnrichStreamSql: String =
    """WITH sg AS (
      |  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS signup_v_c
      |  FROM events WHERE event_type = 'signup'
      |), dim AS (
      |  SELECT user_id, ts_ms AS eff_from_ms,
      |         lead(ts_ms) OVER w AS eff_to_ms,
      |         CAST(row_number() OVER w AS BIGINT) AS version,
      |         signup_v_c
      |  FROM sg WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |), p AS (
      |  SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_ms, dim.version, dim.signup_v_c
      |FROM p JOIN dim ON p.user_id = dim.user_id
      |WHERE p.ts_ms >= dim.eff_from_ms
      |  AND (dim.eff_to_ms IS NULL OR p.ts_ms < dim.eff_to_ms)""".stripMargin

  /** q173 — streaming HOURLY DISTINCT USERS via HLL (`approx_count_distinct`
    * inside a watermarked window aggregate): the cardinality question every
    * traffic dashboard asks of a stream, answered with bounded state —
    * exact streaming distinct would hold every (window, user) pair in the
    * state store; the HLL sketch holds a fixed register set per window,
    * and its per-partition merge is order-independent (register max), so
    * the streamed estimate is deterministic. Gated with the q85 soft-oracle
    * pattern: the run's estimates embed as VALUES literals and DuckDB
    * re-derives the exact per-hour distinct and the ±5% bound flag from
    * its own aggregates; the returned frame carries the same flag computed
    * against Spark's exact side, so both engines certify the estimates
    * independently. */
  def hourlyDistinctStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val streamed = readEvents(spark, dir)
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("est_users"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("est_users"))
    val est = runToBatch(spark, streamed,
      s"hourly_distinct_${sanitize(dir)}", OutputMode.Complete,
      shufflePartitions = Some(4))
    capturedStreamHll.put(dir, 0,
      est.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val exact = graft.Tables.events(spark, dir)
      .select(unix_millis(date_trunc("hour", col("ts").cast(TimestampType)))
        .as("hour_ms"), col("user_id"))
      .groupBy(col("hour_ms"))
      .agg(countDistinct(col("user_id")).as("xu"))
    est.join(exact, Seq("hour_ms"))
      .select(col("hour_ms"), col("est_users"),
        (abs(col("est_users") - col("xu")) * lit(100L) <= lit(5L) * col("xu"))
          .as("users_ok"))
  }

  private val capturedStreamHll =
    new graft.OracleCapture.Captured[Int, Seq[(Long, Long)]]

  private def hourlyDistinctSql(est: Seq[(Long, Long)]): String = {
    val values = est.sortBy(_._1).map { case (h, e) =>
      s"(CAST($h AS BIGINT), CAST($e AS BIGINT))"
    }.mkString(", ")
    s"""WITH est(hour_ms, est_users) AS (VALUES $values),
       |exact AS (
       |  SELECT epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP)))
       |           AS hour_ms,
       |         count(DISTINCT user_id) AS xu
       |  FROM events GROUP BY 1)
       |SELECT hour_ms, est_users,
       |       abs(est_users - xu) * 100 <= 5 * xu AS users_ok
       |FROM est JOIN exact USING (hour_ms)""".stripMargin
  }

  /** Soft-oracle entry buildable once [[hourlyDistinctStreamQuery]] has run
    * this session (the q85 capture discipline). */
  def oracleEntries: Map[String, String] = capturedStreamHll.get(0) match {
    case None => Map.empty
    case Some(est) => Map("q173_stream_hourly_distinct" -> hourlyDistinctSql(est))
  }

  /** Injective path → identifier mapping (also a valid memory-sink table
    * name): every non-alphanumeric char becomes `_x<hex>_`, so distinct
    * paths can never collide the way a hashCode key could. */
  private[graft] def sanitize(path: String): String =
    path.map {
      case c if c.isLetterOrDigit => c.toString
      case c => f"_x${c.toInt}%02x_"
    }.mkString

  /** Drive a streaming DataFrame to completion against a memory sink and
    * return the materialized result (local test harness).
    *
    * `shufflePartitions` caps the STATEFUL partition count for this one
    * query: each shuffle partition owns its own state-store instance(s) —
    * a stream-stream join carries four per partition — and on a local
    * micro-batch run the store setup dominates wall-clock while the actual
    * state is kilobytes. The session default is restored afterwards; at
    * production scale this knob belongs to the cluster conf (state
    * partitioning is fixed at first checkpoint), not the operator. */
  /** Data micro-batch count (numInputRows > 0) of the thread's last
    * [[runToBatch]] drive — spec instrumentation for the fixed-cost claim:
    * the whole finite file source processes in ONE data batch regardless
    * of row count, so wall-clock differences between runs of the same
    * streaming query are engine fixed overhead (query start, state-store
    * setup, micro-batch planning), not per-row cost. */
  private val lastBatchesHolder: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => -1)

  /** Effective state-store provider of the thread's last [[runToBatch]]
    * drive — spec instrumentation for the RocksDB flag plumbing. */
  private val lastProviderHolder: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  private[graft] def lastRunProvider: String = lastProviderHolder.get()

  /** (batchId, numInputRows, watermark ISO string) per progress event of
    * the thread's last [[runToBatch]] drive — spec instrumentation for
    * the q291/q297 watermark-model cross-check. */
  private val lastWatermarksHolder: ThreadLocal[Seq[(Long, Long, String)]] =
    ThreadLocal.withInitial(() => Nil)
  private[graft] def lastRunWatermarks: Seq[(Long, Long, String)] =
    lastWatermarksHolder.get()

  /** State operators (name, partition count) of the thread's last
    * [[runToBatch]] drive — the STREAMING twin of a PlanAudit pin: the
    * memory-sink result's executedPlan is just a sink scan, so the stateful
    * plan shape is only visible through the progress events. */
  private val lastStateOpsHolder: ThreadLocal[Seq[(String, Long)]] =
    ThreadLocal.withInitial(() => Nil)
  private[graft] def lastRunStateOperators: Seq[(String, Long)] =
    lastStateOpsHolder.get()
  private[graft] def lastRunDataBatches: Int = {
    val n = lastBatchesHolder.get()
    // -1 = never populated on THIS thread (no successful runToBatch drive);
    // a silent 0 here would read as "no data batches" and mask the error
    require(n >= 0,
      "lastRunDataBatches read before a successful runToBatch on this thread")
    n
  }

  /** Session flag selecting the streaming state store — DEFAULT **true**
    * (RocksDB) since round 15. Spark's own default HDFS-backed store
    * keeps all state on the executor HEAP — fine for the test-scale
    * kilobytes, but at 100 TB a stream-stream join or a large
    * sessionization map holds state far beyond heap; RocksDB's
    * off-heap + spill-to-disk store is the production choice, so it is
    * what every [[runToBatch]]-driven query (the contract, bench and
    * soak lanes included) runs on. Set the flag to "false" to drive the
    * on-heap provider; StreamingSpec drives q64 and the q302
    * checkpoint-restart under BOTH providers and pins identical
    * results. */
  val RocksDbFlag = "spark.graft.stateStore.rocksdb"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with `settings` applied to the session conf, then
    * restore each key's prior value (or unset it). */
  private def withConf[T](spark: SparkSession,
                          settings: Seq[(String, String)])(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one state-store conf scope of every stateful drive
    * ([[runToBatch]], the q302 checkpoint-restart drives, the CDC apply):
    * runs `body` — which starts its streaming queries, capturing the conf
    * — with the shuffle (= state) partition count and the session's
    * state-store provider settings applied, and restores every key it set
    * afterwards. */
  private[graft] def withStreamConf[T](spark: SparkSession,
                                       shufflePartitions: Option[Int])
                                      (body: => T): T = {
    // weak-scaling hook for the ×N soak: a pinned partition count that is
    // right for the 1× harness would carry N× the state per task at ×N,
    // conflating plan scaling with single-task memory effects — ScaleSoak
    // sets this property to the data factor so streaming state partitions
    // scale with the data exactly as the batch lanes' shuffle partitions
    // do (state partitioning is fixed at first checkpoint, and each scale
    // uses its own checkpoint name via the dir-keyed query name)
    val partScale = sys.props.get("graft.stream.part.scale")
      .map(_.toInt).getOrElse(1)
    val rocks = "spark.sql.streaming.stateStore.rocksdb."
    val provider =
      if (!spark.conf.getOption(RocksDbFlag).forall(_.toBoolean)) Nil
      else Seq(ProviderKey -> RocksDbProvider,
        // changelog checkpointing: commit the per-batch DELTA instead of
        // a full RocksDB snapshot upload every micro-batch — the
        // production RocksDB deployment mode, and the difference between
        // per-batch cost ∝ state size and ∝ batch size (snapshots still
        // happen, in the background maintenance task)
        rocks + "changelogCheckpointing.enabled" -> "true",
        // metrics-only row counting: every RocksDB put/delete otherwise
        // pays a read-before-write to keep the numRows metric exact —
        // Spark's own docs recommend disabling it for write-heavy state
        // at any scale (round 15; results are unaffected, only the
        // progress-report numRowsTotal goes approximate)
        rocks + "trackTotalNumberOfRows" -> "false") ++
        // bounded memory (round 16, verdict item 3): ONE shared block
        // cache + write-buffer manager for every RocksDB instance on the
        // executor — Spark's memory-GOVERNANCE mode for executors hosting
        // many state partitions. Measured and left OPT-IN (set
        // spark.graft.stateStore.rocksdb.maxMemoryMB to enable): with a
        // stream-stream join's 16 instances opening concurrently against
        // one shared LRU cache, the focused bench read q83 1.70→2.17 s and
        // q286 3.10→3.49 s — the shared-cache lock serializes exactly the
        // instance-open phase the bench pays per fresh query. At
        // production state sizes the bound is about not OOMing the
        // executor, not speed, so the knob stays available. Also
        // measured for the stream-stream join open premium (round 16)
        // and left at defaults: allowFAllocate=false + writeBufferSizeMB=8
        // (the docs' short-lived-stores advice) read as pure probe noise
        // on the q83/q137/q286 focused bench (A 5.94 s vs B 6.52 s at a
        // 17% slower probe — null after normalization).
        spark.conf.getOption("spark.graft.stateStore.rocksdb.maxMemoryMB")
          .toSeq.flatMap(mb => Seq(rocks + "boundedMemoryUsage" -> "true",
            rocks + "maxMemoryUsageMB" -> mb))
    withConf(spark, shufflePartitions.map(p =>
      "spark.sql.shuffle.partitions" -> (p * partScale).toString).toSeq ++
      provider)(body)
  }

  def runToBatch(spark: SparkSession, streamed: DataFrame, name: String,
                 mode: OutputMode = OutputMode.Append,
                 shufflePartitions: Option[Int] = None,
                 awaitStateFlush: Boolean = false): DataFrame = {
    // a query that does not wait for a watermark-advance flush gains
    // nothing from the trailing zero-input micro-batch — skip its whole
    // plan/commit cycle. Queries that DO finalize state on watermark
    // advance (outer-join null padding, session windows) keep it: the
    // no-data batch IS their emission path — and its progress EVENT is
    // rate-limited by noDataProgressEventInterval (default 10 s), which
    // the awaitStateFlush poll below watches, so without lowering it a
    // 2 s query reads as 12 s of idle waiting (measured on the q291
    // 3-batch census)
    val noData =
      if (!awaitStateFlush)
        Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Seq("spark.sql.streaming.noDataProgressEventInterval" -> "50ms")
    withStreamConf(spark, shufflePartitions)(withConf(spark, noData) {
      lastProviderHolder.set(spark.conf.getOption(ProviderKey)
        .getOrElse("HDFSBackedStateStoreProvider(default)"))
      val q = streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      try {
        q.processAllAvailable()
        // processAllAvailable guarantees only DATA batches. Stateful sinks
        // that emit on watermark advance (outer-join null padding, timeout
        // state) flush in the subsequent NO-DATA micro-batch; wait for one
        // zero-input batch to commit before reading the sink. Bounded: the
        // no-data batch is triggered immediately after the watermark
        // update, so the normal path exits in a few polls.
        if (awaitStateFlush) {
          val deadline = System.currentTimeMillis + 30000
          while (!q.recentProgress.exists(_.numInputRows == 0) &&
            System.currentTimeMillis < deadline) Thread.sleep(50)
        }
        lastBatchesHolder.set(q.recentProgress.count(_.numInputRows > 0))
        lastStateOpsHolder.set(Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq)
          .map(s => (s.operatorName, s.numShufflePartitions)))
        // the engine's own per-batch watermark trail (round-12 advice:
        // the q291 oracle MODELS the commit lag; this capture lets the
        // spec cross-check the model against what the engine reports, so
        // a Spark version change to the lag rule fails loudly instead of
        // silently misattributing expected-vs-observed differences)
        lastWatermarksHolder.set(q.recentProgress.toSeq.map(p =>
          (p.batchId, p.numInputRows,
            Option(p.eventTime.get("watermark")).getOrElse(""))))
      } finally q.stop()
      // NOT unloading this drive's state-store providers here, by
      // measurement (round 16): StateStore.stop() after every drive —
      // the "each sample is self-contained" discipline — re-cold-starts
      // the provider machinery per query and read +60% across the
      // 9-lane streaming bench (19.4 → 31.8 s focused total). The
      // pile-up across a long sweep is real but is the SWEEP's problem;
      // ScaleSoak drains between lanes, and Spark unloads inactive
      // providers in its maintenance pass.
    })
    spark.table(name)
  }
}
