package graft

import graft.operators.Staging
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The write-once staged-layout discipline itself: build-once reuse,
  * fingerprint-driven rebuild on in-place source changes, self-heal when
  * tmp cleanup removes data behind the markers, and exact per-source
  * invalidation. These are the guarantees every staged consumer
  * (shingle index, signature tables, clustered/Z-ordered orders) leans
  * on without re-testing them. */
class StagingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSession.spark

  private def newSource(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_staging_spec").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def build(dir: String, name: String): (org.apache.spark.sql.DataFrame, () => Int) = {
    var builds = 0
    val frame = Staging.prepared(spark, name, dir) {
      builds += 1
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), length(col("text")).cast("long").as("n"))
    }
    (frame, () => builds)
  }

  test("prepared() builds once per source snapshot and serves parquet " +
    "scans afterwards") {
    val dir = newSource(Seq((1L, "aa"), (2L, "bbb")))
    try {
      var builds = 0
      def call(): Set[(Long, Long)] = Staging.prepared(spark, "lenmap", dir) {
        builds += 1
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(call() == Set((1L, 2L), (2L, 3L)))
      assert(call() == Set((1L, 2L), (2L, 3L)))
      assert(builds == 1, s"expected one build, saw $builds")
      // the served frame is a plain parquet scan (plan-native leaf with
      // honest file statistics — the whole point of staging)
      val plan = Staging.prepared(spark, "lenmap", dir)(
        sys.error("must not rebuild")).queryExecution.executedPlan.toString
      assert(plan.contains("FileScan parquet"))
    } finally Staging.invalidate(dir)
  }

  test("an in-place source rebuild changes the fingerprint and re-stages " +
    "without any explicit invalidation") {
    import spark.implicits._
    val dir = newSource(Seq((1L, "aa")))
    try {
      var builds = 0
      def call(): Set[(Long, Long)] = Staging.prepared(spark, "fp", dir) {
        builds += 1
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(call() == Set((1L, 2L)) && builds == 1)
      // rebuild the source IN PLACE under the same dir string (the
      // ScaleSoak factor-rebuild shape) — different bytes, same path
      Seq((1L, "aaaa"), (2L, "b")).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(call() == Set((1L, 4L), (2L, 1L)),
        "stale layout served after an in-place source rebuild")
      assert(builds == 2)
    } finally Staging.invalidate(dir)
  }

  test("a layout whose data files were cleaned behind the markers " +
    "self-heals instead of failing forever") {
    val dir = newSource(Seq((7L, "xyz")))
    try {
      val (f1, _) = build(dir, "heal")
      assert(f1.count() == 1)
      // simulate a tmp cleaner: delete the part files, keep _SUCCESS and
      // the fingerprint marker. The layout path comes from the frame's
      // own input files, so this cannot drift from Staging's keying.
      val layout = new java.io.File(f1.inputFiles.head
        .replaceFirst("^file:", "")).getParentFile
      assert(layout.getPath.contains("graft_prepared"))
      val parts = layout.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.nonEmpty)
      parts.foreach(f => assert(f.delete()))
      val (f2, builds2) = build(dir, "heal")
      assert(f2.count() == 1, "self-heal rebuild must serve the data again")
      assert(builds2() == 1, "the cleaned layout must trigger a rebuild")
    } finally Staging.invalidate(dir)
  }

  test("a builder-version bump re-stages even when the source bytes are " +
    "unchanged (round-12 advice: logic changes must invalidate layouts)") {
    val dir = newSource(Seq((1L, "aa"), (2L, "b")))
    try {
      var builds = 0
      def call(version: String): Long =
        Staging.prepared(spark, "ver", dir, version = version) {
          builds += 1
          spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"))
        }.count()
      assert(call("v1") == 2 && builds == 1)
      assert(call("v1") == 2 && builds == 1, "same version must not rebuild")
      assert(call("v2") == 2 && builds == 2,
        "a version bump must rebuild against unchanged source bytes")
      assert(call("v2") == 2 && builds == 2)
    } finally Staging.invalidate(dir)
  }

  test("preparedBucketed serves a bucketed catalog table, builds once, " +
    "and re-registers surviving files in a catalog that lost the entry") {
    val dir = newSource(Seq((1L, "x y"), (2L, "x z"), (3L, "y z")))
    try {
      var builds = 0
      def call(): org.apache.spark.sql.DataFrame =
        Staging.preparedBucketed(spark, "bkt", dir,
          buckets = 4, bucketCol = "text") {
          builds += 1
          spark.read.parquet(s"$dir/documents.parquet")
        }
      assert(call().count() == 3 && builds == 1)
      assert(call().count() == 3 && builds == 1)
      // a self-join on the bucket column reads BUCKETED on both sides
      // and runs with NO exchange on it (a bare scan legitimately shows
      // "Bucketed: false (disabled by query planner)" — bucketed reads
      // engage only where co-location pays)
      val a = call().toDF("ida", "text").hint("merge")
      val b = call().toDF("idb", "text")
      val joinPlan = a.join(b, Seq("text"))
        .queryExecution.executedPlan.toString
      assert(joinPlan.contains("Bucketed: true"), joinPlan.take(600))
      assert(!joinPlan.contains("Exchange hashpartitioning(text"),
        s"bucketed self-join must not exchange on the bucket key:\n$joinPlan")
      // simulate a FRESH SESSION's catalog losing the entry while the
      // files survive: the gate must re-register, not rebuild
      val tbl = spark.catalog.listTables().collect()
        .map(_.name).find(_.startsWith("graft_stg_bkt_")).get
      spark.sql(s"DROP TABLE $tbl")
      assert(call().count() == 3 && builds == 1,
        "surviving bucketed files must re-register without a rebuild")
      val rePlan = call().toDF("ida", "text").hint("merge")
        .join(call().toDF("idb", "text"), Seq("text"))
        .queryExecution.executedPlan.toString
      assert(rePlan.contains("Bucketed: true") &&
        !rePlan.contains("Exchange hashpartitioning(text"),
        s"re-registered table must keep the bucket spec:\n$rePlan")
    } finally Staging.invalidate(spark, dir)
  }

  test("a derived layout gated on its upstream's artifactFingerprint " +
    "re-stages after an appendBucketed into the upstream (append " +
    "cascade — round-13 review pass 2)") {
    import spark.implicits._
    val dir = newSource(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    try {
      def up(): org.apache.spark.sql.DataFrame =
        Staging.preparedBucketed(spark, "up", dir,
          buckets = 2, bucketCol = "text")(
          spark.read.parquet(s"$dir/documents.parquet"))
      up()
      var derivedBuilds = 0
      def derived(): Long = {
        up() // ensure upstream before fingerprinting it
        Staging.prepared(spark, "down", dir,
          extraFp = Staging.artifactFingerprint(dir, "up")) {
          derivedBuilds += 1
          up().groupBy(col("text")).agg(count(lit(1)).as("n"))
        }.count()
      }
      assert(derived() == 3 && derivedBuilds == 1)
      assert(derived() == 3 && derivedBuilds == 1)
      // batch-append into the upstream: the source table is untouched,
      // but the derived layout must re-stage on its next gate pass
      Staging.appendBucketed(spark, "up", dir, "b1",
        buckets = 2, bucketCol = "text")(
        Seq((9L, "z")).toDF("doc_id", "text"))
      assert(derived() == 4 && derivedBuilds == 2,
        "append into the upstream must cascade to the derived layout")
      assert(derived() == 4 && derivedBuilds == 2)
    } finally Staging.invalidate(spark, dir)
  }

  test("a derived layout gated on its upstream's artifactFingerprint " +
    "re-stages after a deleteBucketed from the upstream (delete cascade)") {
    import spark.implicits._
    val dir = newSource(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    try {
      def up(): org.apache.spark.sql.DataFrame =
        Staging.preparedBucketed(spark, "up", dir,
          buckets = 2, bucketCol = "text")(
          spark.read.parquet(s"$dir/documents.parquet"))
      up()
      var derivedBuilds = 0
      def derived(): Long = {
        up()
        Staging.prepared(spark, "down", dir,
          extraFp = Staging.artifactFingerprint(dir, "up")) {
          derivedBuilds += 1
          up().groupBy(col("text")).agg(count(lit(1)).as("n"))
        }.count()
      }
      assert(derived() == 3 && derivedBuilds == 1)
      // tombstone-delete from the upstream: the source table is
      // untouched and the upstream's _GRAFT_FP survives, but the data
      // files changed — the derived layout must re-stage on its next gate
      Staging.deleteBucketed(spark, "up", dir, "d1", Seq("doc_id"),
        buckets = 2, bucketCol = "text")(Seq(2L).toDF("doc_id"))
      assert(derived() == 2 && derivedBuilds == 2,
        "a delete from the upstream must cascade to the derived layout")
      assert(derived() == 2 && derivedBuilds == 2)
    } finally Staging.invalidate(spark, dir)
  }

  test("deletePrepared: copy-on-write tombstone — deleted rows gone, " +
    "untouched part files survive as hard links (same inode), only " +
    "affected files rewritten, idempotent per tag") {
    import spark.implicits._
    val dir = newSource((1L to 40L).map(i => (i, s"doc $i text")))
    try {
      Staging.prepared(spark, "delmap", dir) {
        spark.read.parquet(s"$dir/documents.parquet")
          .repartition(4, col("doc_id"))
          .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      }
      val root = new java.io.File(new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir"), "graft_prepared"),
        graft.streaming.EventStreams.sanitize(
          java.nio.file.Paths.get(dir).toString)), "delmap")
      def inodes(): Map[String, AnyRef] =
        root.listFiles().filter(_.getName.startsWith("part-"))
          .map(f => f.getName ->
            java.nio.file.Files.getAttribute(f.toPath, "fileKey")).toMap
      val before = inodes()
      assert(before.size == 4, s"expected 4 part files, got ${before.size}")
      // which file holds the roster doc?
      val fileOf7 = spark.read.parquet(root.toString)
        .select(input_file_name().as("f"), col("doc_id"))
        .filter(col("doc_id") === 7L).head().getString(0)
      val affectedName =
        new java.io.File(new java.net.URI(fileOf7)).getName
      val after = Staging.deletePrepared(spark, "delmap", dir, "t1",
        Seq("doc_id"))(Seq(7L).toDF("doc_id"))
      assert(after.select("doc_id").collect().map(_.getLong(0)).toSet ==
        (1L to 40L).toSet - 7L)
      val got = inodes()
      before.foreach { case (n, key) =>
        if (n == affectedName)
          assert(!got.get(n).contains(key),
            s"affected file $n must be rewritten (or dropped)")
        else assert(got(n) == key,
          s"untouched file $n must be the SAME inode (hard link, no copy)")
      }
      // idempotent per tag: a re-entry leaves every file untouched
      Staging.deletePrepared(spark, "delmap", dir, "t1",
        Seq("doc_id"))(Seq(7L).toDF("doc_id"))
      assert(inodes() == got, "re-entry with the same tag must be a no-op")
    } finally Staging.invalidate(dir)
  }

  test("deleteBucketed keeps bucket co-location: the post-delete " +
    "self-join runs without an exchange on the bucket key") {
    import spark.implicits._
    val dir = newSource((1L to 30L).map(i => (i, s"t${i % 5}")))
    try {
      Staging.preparedBucketed(spark, "delb", dir,
        buckets = 2, bucketCol = "text")(
        spark.read.parquet(s"$dir/documents.parquet"))
      val t = Staging.deleteBucketed(spark, "delb", dir, "t1",
        Seq("doc_id"), buckets = 2, bucketCol = "text")(
        Seq(3L, 8L).toDF("doc_id"))
      assert(t.select("doc_id").collect().map(_.getLong(0)).toSet ==
        (1L to 30L).toSet -- Set(3L, 8L))
      val plan = t.select(col("doc_id").as("a"), col("text"))
        .hint("merge")
        .join(t.select(col("doc_id").as("b"), col("text")), Seq("text"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true") &&
        !plan.contains("Exchange hashpartitioning(text"),
        s"deleted bucketed layout must keep the bucket spec:\n$plan")
    } finally Staging.invalidate(spark, dir)
  }

  test("a delete that empties EVERY part file publishes a readable " +
    "zero-row layout — the freshness gate must NOT rebuild from source " +
    "and resurrect the forgotten rows (round-14 advice)") {
    import spark.implicits._
    val dir = newSource((1L to 5L).map(i => (i, s"doc $i")))
    try {
      var builds = 0
      def gate(): org.apache.spark.sql.DataFrame =
        Staging.prepared(spark, "allgone", dir) {
          builds += 1
          spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text"))
        }
      gate()
      assert(builds == 1)
      val after = Staging.deletePrepared(spark, "allgone", dir, "wipe",
        Seq("doc_id"))((1L to 5L).toDF("doc_id"))
      assert(after.count() == 0, "the forget batch covered every row")
      // the critical property: the next gate pass serves the EMPTY
      // layout — a zero-part dir would fail layoutOk and silently
      // rebuild from the source, resurrecting all tombstoned rows
      val served = gate()
      assert(builds == 1, "an emptied layout must not trigger a rebuild")
      assert(served.count() == 0,
        "forgotten rows resurrected by a post-delete gate pass")
      assert(served.schema.fieldNames.toSet == Set("doc_id", "text"),
        "the empty layout must keep the layout schema")
    } finally Staging.invalidate(dir)
  }

  test("the delete marker records the ROSTER, not just the base build: " +
    "re-invoking a reused tag with a different key set re-applies " +
    "instead of silently no-opping (round-14 advice)") {
    import spark.implicits._
    val dir = newSource((1L to 10L).map(i => (i, s"doc $i")))
    try {
      Staging.prepared(spark, "roster", dir)(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")))
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val first = Staging.deletePrepared(spark, "roster", dir, "reused",
        Seq("doc_id"))(Seq(3L).toDF("doc_id"))
      assert(ids(first) == (1L to 10L).toSet - 3L)
      // SAME tag, different forget batch — must propagate, not no-op
      val second = Staging.deletePrepared(spark, "roster", dir, "reused",
        Seq("doc_id"))(Seq(8L).toDF("doc_id"))
      assert(ids(second) == (1L to 10L).toSet -- Set(3L, 8L),
        "a changed roster under a reused tag was silently dropped")
      // and same tag + same roster stays the idempotent no-op
      val third = Staging.deletePrepared(spark, "roster", dir, "reused",
        Seq("doc_id"))(Seq(8L).toDF("doc_id"))
      assert(ids(third) == (1L to 10L).toSet -- Set(3L, 8L))
    } finally Staging.invalidate(dir)
  }

  test("the roster memo keys on DATA, not just the plan: the same roster " +
    "plan over in-place-rewritten roster files re-applies the delete " +
    "(round-16 verdict item 5)") {
    import spark.implicits._
    val dir = newSource((1L to 10L).map(i => (i, s"doc $i")))
    val rosterDir = Files.createTempDirectory("graft_roster_rw").toString
    try {
      Staging.prepared(spark, "rosterdata", dir)(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")))
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      Seq(3L).toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$rosterDir/r.parquet")
      val first = Staging.deletePrepared(spark, "rosterdata", dir, "rw",
        Seq("doc_id"))(spark.read.parquet(s"$rosterDir/r.parquet"))
      assert(ids(first) == (1L to 10L).toSet - 3L)
      // rewrite the roster files IN PLACE — same path, so a fresh read
      // has the identical canonical plan (and semanticHash); only the
      // bytes under it changed. A plan-keyed memo would serve the stale
      // roster hash and the delete marker would silently no-op.
      Seq(8L).toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$rosterDir/r.parquet")
      val second = Staging.deletePrepared(spark, "rosterdata", dir, "rw",
        Seq("doc_id"))(spark.read.parquet(s"$rosterDir/r.parquet"))
      assert(ids(second) == (1L to 10L).toSet -- Set(3L, 8L),
        "stale roster memo no-opped a delete after an in-place rewrite")
    } finally {
      Staging.invalidate(dir)
      Staging.deleteRecursively(new java.io.File(rosterDir))
    }
  }

  test("a committed-but-stale .staged manifest (crash between append " +
    "marker and manifest delete) is NOT hard-linked into published " +
    "delete layouts (round-14 advice)") {
    import spark.implicits._
    val dir = newSource((1L to 6L).map(i => (i, s"doc $i")))
    try {
      Staging.prepared(spark, "litter", dir)(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")))
      val root = new java.io.File(new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir"), "graft_prepared"),
        graft.streaming.EventStreams.sanitize(
          java.nio.file.Paths.get(dir).toString)), "litter")
      // simulate the crash window: the append marker committed (content
      // matches the live fp) but the .staged manifest survived
      val fp = java.nio.file.Files.readString(
        new java.io.File(root, "_GRAFT_FP").toPath)
      java.nio.file.Files.writeString(
        new java.io.File(root, "_GRAFT_APPEND_ghost").toPath, fp)
      java.nio.file.Files.writeString(
        new java.io.File(root, "_GRAFT_APPEND_ghost.staged").toPath, "")
      Staging.deletePrepared(spark, "litter", dir, "t1",
        Seq("doc_id"))(Seq(2L).toDF("doc_id"))
      val names = root.listFiles().map(_.getName).toSet
      assert(!names.exists(_.endsWith(".staged")),
        s"stale .staged manifest carried into the published layout: $names")
      assert(names.contains("_GRAFT_APPEND_ghost"),
        "the committed append MARKER must still be carried")
    } finally Staging.invalidate(dir)
  }

  test("compaction preserves delete markers: a compacted layout already " +
    "contains the deletions, so the re-entered delete must stay a no-op") {
    import spark.implicits._
    val dir = newSource((1L to 20L).map(i => (i, s"t${i % 4}")))
    try {
      Staging.preparedBucketed(spark, "lcb", dir,
        buckets = 2, bucketCol = "text")(
        spark.read.parquet(s"$dir/documents.parquet"))
      Staging.appendBucketed(spark, "lcb", dir, "b1",
        buckets = 2, bucketCol = "text")(
        Seq((21L, "t1")).toDF("doc_id", "text"))
      Staging.deleteBucketed(spark, "lcb", dir, "d1", Seq("doc_id"),
        buckets = 2, bucketCol = "text")(Seq(5L, 21L).toDF("doc_id"))
      val expected = ((1L to 20L).toSet - 5L)
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val compacted = Staging.compactBucketed(spark, "lcb", dir,
        buckets = 2, bucketCol = "text")
      assert(ids(compacted) == expected)
      val root = new java.io.File(new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir"), "graft_prepared"),
        graft.streaming.EventStreams.sanitize(
          java.nio.file.Paths.get(dir).toString)), "lcb")
      assert(new java.io.File(root, "_GRAFT_DELETE_d1").exists(),
        "compaction must carry the delete marker")
      assert(new java.io.File(root, "_GRAFT_APPEND_b1").exists(),
        "compaction must carry the append marker")
      // re-entered lifecycle ops after compaction: all no-ops
      Staging.appendBucketed(spark, "lcb", dir, "b1",
        buckets = 2, bucketCol = "text")(
        Seq((21L, "t1")).toDF("doc_id", "text"))
      val again = Staging.deleteBucketed(spark, "lcb", dir, "d1",
        Seq("doc_id"), buckets = 2, bucketCol = "text")(
        Seq(5L, 21L).toDF("doc_id"))
      assert(ids(again) == expected,
        "post-compaction re-append/re-delete must not change the rows")
    } finally Staging.invalidate(spark, dir)
  }

  test("preparedText computes once per (source, version) and round-trips " +
    "the artifact exactly") {
    val dir = newSource(Seq((1L, "aa")))
    try {
      var computes = 0
      def call(version: String): String =
        Staging.preparedText("model", dir, version = version) {
          computes += 1
          "line1\n-1.5;2.25\n"
        }
      assert(call("v1") == "line1\n-1.5;2.25\n" && computes == 1)
      assert(call("v1") == "line1\n-1.5;2.25\n" && computes == 1)
      assert(call("v2") == "line1\n-1.5;2.25\n" && computes == 2,
        "a version bump must recompute the model artifact")
    } finally Staging.invalidate(dir)
  }

  test("invalidate removes exactly one source's staged subtree") {
    val dirA = newSource(Seq((1L, "a")))
    val dirB = newSource(Seq((2L, "b")))
    try {
      build(dirA, "iso")._1.count()
      build(dirB, "iso")._1.count()
      Staging.invalidate(dirA)
      // B's layout survives A's invalidation and serves WITHOUT rebuild
      val (fb, buildsB) = build(dirB, "iso")
      assert(fb.count() == 1 && buildsB() == 0)
      // A rebuilds from scratch
      val (fa, buildsA) = build(dirA, "iso")
      assert(fa.count() == 1 && buildsA() == 1)
    } finally { Staging.invalidate(dirA); Staging.invalidate(dirB) }
  }

  test("the q130/q151/q234/q249/q284 layouts re-stage after the sources " +
    "are rewritten in place, with no invalidate call in between") {
    import graft.operators.{Bucketing, Layout, PartitionedEvents}
    import graft.sources.{OrcInterchange, SchemaEvolution}
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft_fresh_spec").toString
    Seq("events", "customer", "lineitem", "orders").foreach(t =>
      Files.copy(Paths.get(GraftTestSession.Sf0001, s"$t.parquet"),
        Paths.get(dir, s"$t.parquet")))
    val layouts = Seq("events_by_day", "bkt_purchases", "bkt_customer",
      "orc_lineitem", "evolved_orders", "orders_by_date")
    // each lane's row total through its staged layout ...
    def lanes(): Seq[Long] = Seq(
      PartitionedEvents.oneDayHourly(spark, dir).agg(sum("n")),
      Bucketing.bucketedSegmentAgg(spark, dir).agg(sum("n")),
      OrcInterchange.orcRoundTrip(spark, dir).agg(sum("n")),
      SchemaEvolution.evolvedPriorityTotals(spark, dir).agg(sum("n")),
      Layout.clusteredMonthlyRollup(spark, dir).agg(sum("n_orders"))
    ).map(_.head.getLong(0))
    // ... and the same totals straight from the current sources
    def direct(): Seq[Long] = {
      val events = Tables.events(spark, dir)
      val orders = Tables.orders(spark, dir)
      Seq(
        events.filter(to_date(col("ts").cast("timestamp")) ===
          lit(PartitionedEvents.ContractDay).cast("date")).count(),
        events.filter(col("event_type") === "purchase")
          .join(Tables.customer(spark, dir),
            col("user_id") === col("c_custkey")).count(),
        Tables.lineitem(spark, dir).filter(col("l_quantity") >= 25.0).count(),
        orders.count(),
        orders.filter(to_date(col("o_orderdate")) >=
          lit(java.sql.Date.valueOf(Layout.ClusterCutoff))).count())
    }
    def rewrite(table: String, keep: org.apache.spark.sql.Column): Unit = {
      val next = Paths.get(dir, s"$table.next")
      spark.read.parquet(s"$dir/$table.parquet").filter(keep)
        .write.parquet(next.toString)
      Staging.deleteRecursively(new java.io.File(dir, s"$table.parquet"))
      Files.move(next, Paths.get(dir, s"$table.parquet"))
      ()
    }
    try {
      val before = lanes()
      assert(before == direct())
      val stagedBefore = layouts.map(Staging.artifactFingerprint(dir, _))
      rewrite("events", col("user_id") % 2 === 0)
      rewrite("customer", col("c_custkey") % 3 =!= 0)
      rewrite("lineitem", col("l_orderkey") % 2 === 0)
      rewrite("orders", col("o_orderkey") % 3 =!= 0)
      val after = lanes()
      assert(after == direct(), "a lane served a layout of the old sources")
      before.zip(after).foreach { case (b, a) =>
        assert(a != b, "the rewrite must change every lane's rows")
      }
      layouts.zip(stagedBefore).foreach { case (name, fp) =>
        assert(Staging.artifactFingerprint(dir, name) != fp,
          s"$name was not re-staged")
      }
    } finally {
      Staging.invalidate(spark, dir)
      Staging.deleteRecursively(new java.io.File(dir))
    }
  }
}
