package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of a workload.  `build` and `act` are timed (the build
  * span covers frame construction and any eager Spark jobs it runs, the
  * action span the job that produces the output); `check` runs untimed
  * afterwards and returns a reason when the output is wrong. */
final case class Op(name: String, build: () => Any, act: Any => Any = identity,
                    check: Any => Option[String] = _ => None)

final case class OpRec(key: String, name: String, span: Span, build: Option[Span],
                       error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

final case class PassRec(round: Int, index: Int, warm: Boolean, traced: Boolean,
                         span: Span, checkSeconds: Double, ops: Seq[OpRec],
                         layoutsBuilt: Int, extras: Map[String, Double],
                         stealSeconds: Double) {
  /** Wall time of the pass without its output checks. */
  def seconds: Double = span.seconds - checkSeconds
}

/** What a workload supplies: the ops of one pass, and whether their checks
  * wait until the pass has ended (the paper pipeline's later stages consume
  * the earlier stages' outputs, so its checks read them afterwards). */
trait Workload {
  def deferChecks: Boolean
  /** Fewest timed ops a run must collect (so op_s.p75 has 10 beyond it). */
  def minTimedOps: Int
  /** Whether a whole pass is the one operation a user issues (a pipeline of
    * stage calls), rather than each op. */
  def pipeline: Boolean
  /** Whether the ops of a pass get their outputs checked. */
  def checks(warm: Boolean, index: Int): Boolean
  def pass(spark: SparkSession, round: Int, index: Int): Seq[Op]
  /** Per-pass values only the workload knows (fit iterations, rows out). */
  def extras(): Map[String, Double] = Map.empty
}

object Main {
  /** Setups per run: setup_s is their median. */
  val Rounds = 2
  val MinTimedPasses = 4
  val WrongOutput = "wrong output: "

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val code =
      try new Run(props.asScala.toMap).execute()
      catch { case e: Throwable =>
        System.err.println("[perfbench] run aborted: " + e)
        e.printStackTrace()
        3
      }
    sys.exit(code)
  }

  /** A `local[cpus]` session as the repo's own harnesses configure it, with
    * its Spark local dir and warehouse under `runDir`. */
  def session(app: String, cpus: Int, runDir: File, dataDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the same optimizer rule and strategy the repo's own harnesses install
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.MaterializeHofDependencies
    s.experimental.extraStrategies =
      s.experimental.extraStrategies :+ graft.plans.GraftStrategies
    graft.OracleCapture.currentDir = Some(dataDir)
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.size - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq
      .to(mutable.LinkedHashMap))
    case other => json(other.toString)
  }
}

final class Run(opt: Map[String, String]) {
  import Main._

  val workloadName = opt("workload")
  val seed = opt("seed").toLong
  val seconds = opt("seconds").toDouble
  val traced = opt("trace") == "1"
  val cpus = opt("cpus").toInt
  val runDir = new File(opt("run_dir"))
  val tmpDir = new File(sys.props("java.io.tmpdir"))
  val stagingRoot = new File(tmpDir, "graft_prepared")
  val dataDir = opt("data")
  val inject = opt.getOrElse("inject", "")

  val spans = new Spans
  var spark: SparkSession = _
  var trace: Trace = _
  val traces = ArrayBuffer.empty[Trace]
  val passes = ArrayBuffer.empty[PassRec]
  val setups = ArrayBuffer.empty[Double]

  /** Staging markers (layout fingerprints, text-artifact fingerprints and
    * append commits) with their modification times. */
  def markers(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName == "_GRAFT_FP" || c.getName.endsWith(".fp") ||
          (c.getName.startsWith("_GRAFT_APPEND_") && !c.getName.endsWith(".staged")))
          out(c.getPath) = c.lastModified()
      }
    walk(stagingRoot)
    out.toMap
  }

  /** CPU time the hypervisor gave to other guests so far, summed over all
    * CPUs (0 where the kernel does not report it). */
  def stealSeconds(): Double = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    f(8).toDouble / 100
  } catch { case _: Exception => 0.0 }

  def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum

  def wipe(f: File): Unit = {
    def rm(x: File): Unit = {
      if (x.isDirectory && !Files.isSymbolicLink(x.toPath))
        Option(x.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      x.delete()
    }
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
  }

  def runPass(w: Workload, parent: Int, round: Int, index: Int, warm: Boolean,
              tracedPass: Boolean, checked: Boolean): PassRec = {
    if (tracedPass) trace.attach()
    val before = markers()
    val steal0 = stealSeconds()
    var checkSeconds = 0.0
    val kind = if (warm) "warm_pass" else "pass"
    val ((recs, extras), span) = spans.timed(parent, kind, s"r$round.p$index") { pid =>
      val pending = ArrayBuffer.empty[(Int, Op, Any)]
      val recs = ArrayBuffer.empty[OpRec]
      def runCheck(i: Int, op: Op, out: Any): Unit = {
        val n0 = System.nanoTime()
        val (bad, _) = spans.timed(recs(i).span.id, "check", op.name) { _ =>
          if (tracedPass) trace.group("check")
          try op.check(out)
          catch { case e: Throwable => Some("check threw " + e) }
          finally if (tracedPass) trace.group("")
        }
        checkSeconds += (System.nanoTime() - n0) / 1e9
        bad.foreach(r => recs(i) = recs(i).copy(error = Some(WrongOutput + r)))
      }
      w.pass(spark, round, index).zipWithIndex.foreach { case (op, i) =>
        val key = s"r$round.p$index.o$i"
        var build: Option[Span] = None
        var out: Any = null
        val (err, opSpan) = spans.timed(pid, "op", op.name) { oid =>
          try {
            val (a, b) = spans.timed(oid, "build", op.name) { _ =>
              if (tracedPass) trace.group(key + "/build")
              op.build()
            }
            build = Some(b)
            out = spans.timed(oid, "action", op.name) { _ =>
              if (tracedPass) trace.group(key + "/action")
              op.act(a)
            }._1
            None
          } catch { case e: Throwable =>
            Some(("threw " + e).take(400))
          } finally if (tracedPass) trace.group("")
        }
        recs += OpRec(key, op.name, opSpan, build, err)
        if (err.isEmpty && checked) {
          if (w.deferChecks) pending += ((recs.size - 1, op, out))
          else runCheck(recs.size - 1, op, out)
        }
      }
      pending.foreach { case (i, op, out) => runCheck(i, op, out) }
      (recs.toSeq, w.extras())
    }
    if (tracedPass) trace.detach()
    val after = markers()
    val built = after.count { case (p, t) => !before.get(p).contains(t) }
    val rec = PassRec(round, index, warm, tracedPass, span, checkSeconds, recs,
      built, extras, stealSeconds() - steal0)
    passes += rec
    val failed = recs.count(!_.ok)
    System.err.println(f"[perfbench] +${uptime()}%.1f s $kind r$round.p$index ${rec.seconds}%.3f s, " +
      f"${recs.size} ops, $failed failed, $built layouts built, ${rec.stealSeconds}%.2f s stolen")
    rec
  }

  def execute(): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload = workloadName match {
      case "paper_e2e" => new Paper(opt, runDir, seed, inject)
      case _ => new Lanes(opt, dataDir, seed, inject)
    }
    var timedSeconds = 0.0
    var timedOps = 0
    val (_, runSpan) = spans.timed(-1, "run", workloadName) { rid =>
      for (round <- 1 to Rounds) {
        val last = round == Rounds
        val t0 = if (round == 1) jvmStartMs else System.currentTimeMillis()
        spans.timed(rid, "round", s"r$round") { gid =>
          if (round > 1) {
            spark.stop()
            // fresh staging and warehouse: every round's setup pays for its
            // own staged builds (each session makes its own Spark local dir)
            Seq(tmpDir, new File(runDir, "warehouse")).foreach(wipe)
          }
          spark = session(s"perfbench-$workloadName", cpus, runDir, dataDir)
          trace = new Trace(spark)
          traces += trace
          val warm = runPass(w, gid, round, 0, warm = true, tracedPass = traced,
            checked = w.checks(warm = true, 0))
          setups += (System.currentTimeMillis() - t0) / 1e3 - warm.checkSeconds
          // the earlier rounds only measure setup; all timed passes run in
          // the last round's session
          var index = 1
          var tracedDone, plainDone = 0
          // an untraced run needs enough ops for op_s.p75; a traced run
          // needs traced passes and untraced ones to compare them with
          def more: Boolean = last && (timedSeconds < seconds || (
            if (traced) tracedDone < 3 || plainDone < 2
            else plainDone < MinTimedPasses || timedOps < w.minTimedOps))
          while (more) {
            // a traced run alternates traced and untraced passes, so the
            // tracing overhead is measured inside one run
            val t = traced && index % 2 == 1
            val p = runPass(w, gid, round, index, warm = false, tracedPass = t,
              checked = w.checks(warm = false, index))
            if (t) tracedDone += 1
            else {
              plainDone += 1
              timedOps += p.ops.count(_.ok)
            }
            timedSeconds += p.seconds
            index += 1
          }
        }
      }
    }
    val tablesProbe = if (traced) probeTables() else Map.empty[String, Double]
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val stagedMb = bytesUnder(stagingRoot) / 1e6
    spark.stop()
    val code = report(w, runSpan, tablesProbe, cachedMb, stagedMb)
    System.err.println(f"[perfbench] +${uptime()}%.1f s done")
    code
  }

  /** Direct calls to every `graft.Tables` loader: the frame a lane starts
    * from, with the footer reads and jobs the loader runs eagerly. */
  def probeTables(): Map[String, Double] = {
    import graft.Tables
    val loaders = Seq[(String, (SparkSession, String) => DataFrame)](
      "orders" -> Tables.orders, "lineitem" -> Tables.lineitem,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "nation" -> Tables.nation, "region" -> Tables.region,
      "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    trace.attach()
    val times = loaders.map { case (t, f) =>
      t -> (1 to 3).map { _ =>
        trace.group("tables/" + t)
        val n0 = System.nanoTime()
        f(spark, dataDir)
        trace.group("")
        (System.nanoTime() - n0) / 1e9
      }
    }
    trace.detach()
    val jobs = trace.jobs.values.groupBy(_.group)
    times.flatMap { case (t, ts) =>
      Seq(s"tables.$t.read_s" -> median(ts),
        s"tables.$t.read_jobs" -> jobs.get("tables/" + t).map(_.size).getOrElse(0) / 3.0)
    }.toMap
  }

  /** Per-layer values of one traced pass. */
  def layers(p: PassRec, t: Trace): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    // counts of layers a workload does not reach read 0 rather than missing
    Seq("retail.rows_in", "retail.customers_out", "fit.jobs", "fit.iterations",
      "fit.busy_ratio").foreach(add(_, 0.0))
    val ok = p.ops.filter(_.ok)
    val byKey = ok.map(o => o.key -> o).toMap
    def opOf(g: String): Option[OpRec] = byKey.get(t.owner(g).takeWhile(_ != '/'))
    val jobs = t.jobs.values.toSeq.flatMap(j => opOf(j.group).map(_ -> j))
    val stages = t.stages.toSeq.flatMap(s => opOf(s.group).map(_ -> s))
    val phases = t.queries.toSeq.flatten.flatMap { ph =>
      ok.find(o => ph.startMs >= o.span.startMs && ph.startMs <= o.span.endMs).map(_ -> ph)
    }
    val opSeconds = ok.map(_.span.seconds).sum
    val buildSeconds = ok.flatMap(_.build).map(_.seconds).sum
    add("build.s", buildSeconds)
    add("build.jobs", jobs.count { case (_, j) => t.owner(j.group).endsWith("/build") })
    add("build.share", if (opSeconds > 0) buildSeconds / opSeconds else 0.0)
    for (ph <- Seq("analysis", "optimization", "planning"))
      add(s"catalyst.${ph}_s", phases.filter(_._2.name == ph)
        .map { case (_, x) => x.endMs - x.startMs }.sum / 1e3)
    add("catalyst.qe_count", t.queries.count(q => q.nonEmpty && ok.exists { o =>
      val s = q.map(_.startMs).min
      s >= o.span.startMs && s <= o.span.endMs
    }))
    add("exec.jobs", jobs.size)
    add("exec.stages", stages.size)
    add("exec.tasks", stages.map(_._2.tasks).sum)
    val runS = stages.map(_._2.runMs).sum / 1e3
    add("exec.run_s", runS)
    add("exec.cpu_s", stages.map(_._2.cpuNs).sum / 1e9)
    add("exec.busy_ratio", runS / (p.seconds * cpus))
    add("exec.shuffle_read_mb", stages.map(_._2.shuffleRead).sum / 1e6)
    add("exec.shuffle_write_mb", stages.map(_._2.shuffleWrite).sum / 1e6)
    add("exec.input_mb", stages.map(_._2.inputBytes).sum / 1e6)
    add("exec.spill_mb", stages.map(_._2.spill).sum / 1e6)
    // self time: executor-side job time first, Catalyst phases outside any
    // job next, and the rest of the op is driver code
    for (o <- ok) {
      val lo = o.span.startMs
      val hi = o.span.endMs
      val jv = jobs.filter(_._1 eq o).map { case (_, j) => Trace.clip((j.startMs, j.endMs), lo, hi) }
      val pv = phases.filter(_._1 eq o).map { case (_, x) => Trace.clip((x.startMs, x.endMs), lo, hi) }
      val exec = Trace.unionMs(jv)
      val all = Trace.unionMs(jv ++ pv)
      add("self.exec_s", exec / 1e3)
      add("self.catalyst_s", (all - exec) / 1e3)
      add("self.driver_s", ((hi - lo) - all) / 1e3)
    }
    val runIds = t.streamOwner.filter { case (_, g) => opOf(g).isDefined }.keySet
    val prog = t.progress.filter(x => runIds.contains(x.runId))
    add("stream.queries", runIds.size)
    add("stream.batches", prog.size)
    add("stream.batch_s", prog.map(_.batchMs).sum / 1e3)
    add("stream.input_rows", prog.map(_.inputRows).sum)
    val last = prog.groupBy(_.runId).values.map(_.last)
    add("stream.state_rows", last.map(_.stateRows).sum)
    add("stream.state_mb", last.map(_.stateBytes).sum / 1e6)
    // paper stages
    def stage(name: String) = ok.find(_.name == name)
    stage("load").foreach { o =>
      add("retail.load_s", o.span.seconds)
      add("retail.rows_in", stages.filter(_._1 eq o).map(_._2.inputRecords).sum)
    }
    stage("fit").foreach { o =>
      add("fit.s", o.span.seconds)
      add("fit.jobs", jobs.count(_._1 eq o))
      add("fit.busy_ratio", stages.filter(_._1 eq o).map(_._2.runMs).sum / 1e3 /
        (o.span.seconds * cpus))
    }
    stage("report").foreach(o => add("report.s", o.span.seconds))
    stage("charts").foreach(o => add("charts.s", o.span.seconds))
    stage("predict").foreach(o => add("predict.s", o.span.seconds))
    p.extras.foreach { case (k, v) => add(k, v) }
    m.toMap
  }

  /** Per-op values of one traced pass, by op name: op and build seconds,
    * the op's jobs and eager build jobs, and its Catalyst phase seconds. */
  def perOp(p: PassRec, t: Trace): Map[String, Map[String, Double]] =
    p.ops.filter(_.ok).map { o =>
      val groups = t.jobs.values.toSeq.map(j => t.owner(j.group)).filter(_.takeWhile(_ != '/') == o.key)
      val catalyst = t.queries.toSeq.flatten
        .filter(ph => ph.startMs >= o.span.startMs && ph.startMs <= o.span.endMs)
        .map(ph => ph.endMs - ph.startMs).sum / 1e3
      o.name -> Map("op_s" -> o.span.seconds, "build_s" -> o.build.map(_.seconds).getOrElse(0.0),
        "jobs" -> groups.size.toDouble, "build_jobs" -> groups.count(_.endsWith("/build")).toDouble,
        "catalyst_s" -> catalyst)
    }.toMap

  def report(w: Workload, runSpan: Span, tablesProbe: Map[String, Double],
             cachedMb: Double, stagedMb: Double): Int = {
    // a lane whose output failed its check in one pass is wrong in the
    // passes that did not check it too
    val wrong = passes.flatMap(_.ops).filter(_.error.exists(_.startsWith(WrongOutput)))
      .map(_.name).toSet
    def error(o: OpRec): Option[String] = o.error.orElse(
      if (wrong(o.name)) Some(WrongOutput + "in another pass") else None)
    val timed = passes.filter(!_.warm)
    val plain = timed.filter(!_.traced)
    val opTimes =
      if (w.pipeline) plain.filter(_.ops.forall(error(_).isEmpty)).map(_.seconds)
      else plain.flatMap(_.ops.filter(error(_).isEmpty).map(_.span.seconds))
    val attempted = passes.map(_.ops.size).sum
    val failures = passes.flatMap(p => p.ops.flatMap(o => error(o).map(e =>
      Map("pass" -> s"r${p.round}.p${p.index}", "op" -> o.name, "reason" -> e))))
    val badLayouts = timed.filter(_.layoutsBuilt > 0).map(p =>
      Map("pass" -> s"r${p.round}.p${p.index}", "op" -> "-",
        "reason" -> s"${p.layoutsBuilt} staged layouts built in a timed pass"))
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> median(setups.toSeq),
      "pass_s" -> median(plain.map(_.seconds).toSeq),
      "op_s.p50" -> quantile(opTimes.toSeq, 0.5),
      "op_s.p75" -> quantile(opTimes.toSeq, 0.75))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val opLayer = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    if (traced) {
      val ops = timed.filter(_.traced).map(p => perOp(p, traces(p.round - 1)))
      for (n <- ops.flatMap(_.keys).distinct.sorted; per = ops.flatMap(_.get(n)))
        opLayer(n) = per.head.keys.map(k => k -> median(per.map(_(k)).toSeq)).toMap
      val per = timed.filter(_.traced).map(p => layers(p, traces(p.round - 1)))
      per.flatMap(_.keys).distinct.foreach(k => layer(k) = median(per.map(_.getOrElse(k, 0.0)).toSeq))
      layer("tables.read_s") = tablesProbe.filter(_._1.endsWith(".read_s")).values.sum
      layer("tables.read_jobs") = tablesProbe.filter(_._1.endsWith(".read_jobs")).values.sum
      tablesProbe.foreach { case (k, v) => layer(k) = v }
      val warm = passes.filter(_.warm)
      layer("artifact.layouts_built") = median(warm.map(_.layoutsBuilt.toDouble).toSeq)
      layer("artifact.warm_extra_s") = median(warm.map(_.seconds).toSeq) -
        median(timed.map(_.seconds).toSeq)
      layer("cached_mb") = cachedMb
      layer("staged_mb") = stagedMb
      layer("trace.overhead_s") = median(timed.filter(_.traced).map(_.seconds).toSeq) -
        median(plain.map(_.seconds).toSeq)
    }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName,
      "seed" -> seed,
      "cpus" -> cpus,
      "trace" -> traced,
      "correct" -> (failures.isEmpty && badLayouts.isEmpty),
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failed_ratio" -> failures.size.toDouble / math.max(1, attempted),
      "failures" -> (failures ++ badLayouts).take(50),
      "setups_s" -> setups,
      "timed_passes" -> plain.size,
      "timed_ops" -> opTimes.size,
      "pass_s_samples" -> plain.map(_.seconds),
      "pass_steal_s" -> plain.map(_.stealSeconds),
      "end_to_end" -> e2e,
      "per_layer" -> layer,
      "per_op" -> opLayer,
      "cached_mb" -> cachedMb,
      "staged_mb" -> stagedMb,
      "run_s" -> runSpan.seconds)
    Files.writeString(Paths.get(opt("result")), json(result) + "\n")
    writeTrace()
    if (failures.isEmpty && badLayouts.isEmpty) 0 else 1
  }

  def writeTrace(): Unit = {
    val doc = mutable.LinkedHashMap[String, Any](
      "spans" -> spans.all.filter(_ != null),
      "sessions" -> traces.zipWithIndex.map { case (t, i) =>
        mutable.LinkedHashMap[String, Any](
          "round" -> (i + 1),
          "jobs" -> t.jobs.toSeq.map { case (id, j) =>
            Map("id" -> id, "group" -> t.owner(j.group), "start_ms" -> j.startMs,
              "end_ms" -> j.endMs) },
          "stages" -> t.stages.map(s => s.copy(group = t.owner(s.group))),
          "queries" -> t.queries,
          "stream_progress" -> t.progress,
          "stream_owner" -> t.streamOwner)
      })
    Files.writeString(Paths.get(opt("trace_out")), json(doc) + "\n")
  }
}
