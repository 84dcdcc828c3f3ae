package graft.multimodal

import graft.Tables

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Media ANALYTICS on top of the [[Multimodal]] plumbing: operators that
  * consume decoded pixels/samples/frames, not just container metadata —
  * the layer a multimodal training-data pipeline runs between ingest and
  * curation. All three contract queries here drive REAL JDK codecs
  * (ImageIO PNG, javax.sound WAV, ImageIO-sequence GIF) and are
  * hash-oracled by replaying the deterministic payload formulas in DuckDB
  * (the q70 mechanism — see [[Multimodal.featureSummarySql]]): a defect
  * anywhere in synth→container→decode→math goes red.
  *
  *  - [[imagePhashPairs]] (q216): perceptual-hash (aHash) near-duplicate
  *    pairs over decoded images — the image-side analogue of SimHash
  *    dedup, candidate-bounded by banded LSH keys exactly like
  *    `Dedup.simhashPairs`.
  *  - [[audioEnergy]] (q217): windowed RMS-energy profile per clip with
  *    peak-window argmax — the segmentation primitive (silence trim, VAD
  *    pre-filter) of audio curation.
  *  - [[videoMotion]] (q218): per-frame-pair absolute pixel delta — the
  *    temporal-activity score used to drop static clips and pick
  *    keyframes.
  *
  * Scale notes shared by all three: decode is a partition-batched narrow
  * map (payloads never shuffle, never reach the driver); everything after
  * decode is integer column math on rows thousands of times smaller than
  * the blobs, so the exchanges that do happen (hash-band self-join,
  * per-clip aggregates) move hashes and counters, not media. */
object MediaAnalysis {

  // memory-backed ImageIO caches (see [[Multimodal]] — duplicated here
  // because this object's codec paths can initialize first)
  javax.imageio.ImageIO.setUseCache(false)

  /** Decoded per-image aHash as four 16-bit LSH bands (bits 0-15 = band 0,
    * packed little-endian by bit index `by*8+bx`). Four BIGINT bands
    * instead of one 64-bit word keeps every value unsigned-safe in both
    * engines and IS the banding structure the candidate join needs. */
  final case class ImageBands(media_id: Long, b0: Long, b1: Long,
                              b2: Long, b3: Long)

  final case class MediaBlob(media_id: Long, payload: Array[Byte])

  /** Per-window integer energy of a decoded audio clip. */
  final case class AudioWin(media_id: Long, win: Long, energy: Long)

  /** Per-consecutive-frame-pair absolute pixel delta of a decoded video. */
  final case class FrameDelta(media_id: Long, n_frames: Int, frame: Int,
                              delta: Long)

  /** Offset separating planted perturbed copies from their originals in
    * the media_id space (documents ids are far below this at any test SF;
    * at production scale the copies are simply other corpus rows). */
  final val CopyIdOffset = 1000000L

  /** Every `PlantEvery`-th image gets a perturbed near-duplicate copy. */
  final val PlantEvery = 9

  /** Deterministic perturbed PNG: [[Multimodal.synthPng]]'s pixel formula
    * with the RGB INVERTED inside the single 8×8-grid block (bx=0, by=7)
    * (x < w/8, y ≥ h−h/8) — a localized edit (logo swap / caption change)
    * that can flip at most ONE aHash bit, so original and copy are
    * guaranteed hamming ≤ 1 and land in the same LSH band 3 times over. */
  private[graft] def synthPngPerturbed(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bw = w / 8
    val bh = h / 8
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { // batch-local tight loop, no boxing
        val v = (id * 1103515245L + x * 2654435761L + y * 40503L) & 0xFFFFFFL
        val pv = if (x < bw && y >= h - bh) 0xFFFFFFL - v else v
        img.setRGB(x, y, pv.toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val synthOrig =
    udf((id: Long, w: Int, h: Int) => Multimodal.synthPng(id, w, h))
  private val synthPert =
    udf((id: Long, w: Int, h: Int) => synthPngPerturbed(id, w, h))

  /** (src id, w, h) of every image row in the fixture (the
    * [[Multimodal.mediaTable]] dimension formulas: kind image ⇔ id%3=0). */
  private def imageDims(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("src"))
      .filter(col("src") % 3 === 0)
      .select(col("src"),
        (pmod(col("src"), lit(4)) * 16 + 16).cast(IntegerType).as("w"),
        (pmod(col("src"), lit(3)) * 16 + 16).cast(IntegerType).as("h"))

  /** The phash corpus: all original images plus a perturbed near-dup copy
    * of every [[PlantEvery]]-th one (id-offset by [[CopyIdOffset]]) — the
    * seeded ground truth that makes the pair query's output non-vacuous
    * and its recall auditable, like the planted `dup_group`s on the
    * documents table. */
  private[graft] def phashCorpus(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    val dims = imageDims(spark, dir)
    val orig = dims.select(col("src").as("media_id"),
      synthOrig(col("src"), col("w"), col("h")).as("payload"))
    val pert = dims.filter(col("src") % PlantEvery === 0)
      .select((col("src") + CopyIdOffset).as("media_id"),
        synthPert(col("src"), col("w"), col("h")).as("payload"))
    orig.unionAll(pert).as[MediaBlob]
  }

  /** REAL-decode aHash: ImageIO-decode the payload, average-pool luminance
    * onto the 8×8 block grid (dims are multiples of 8 by fixture
    * construction; anything else is dropped like a corrupt blob), and set
    * bit (by·8+bx) iff the block's luminance sum × 64 exceeds the image
    * total — the classic average-hash, kept in EXACT integers so the
    * oracle can replay it. Emitted directly as the four 16-bit bands. */
  private[graft] def aHashBands(blobs: Dataset[MediaBlob]): Dataset[ImageBands] =
    blobs.mapPartitions { rows =>
      // inside the task closure: on a real cluster the executor JVM may
      // never run this object's initializer (the lambda references only
      // ImageIO and the nested case class), so the memory-backed-cache
      // setting must travel with the task (round-13 review finding)
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.payload))
          if (img == null || img.getWidth % 8 != 0 || img.getHeight % 8 != 0)
            None
          else {
            val w = img.getWidth
            val h = img.getHeight
            val bw = w / 8
            val bh = h / 8
            val sums = new Array[Long](64)
            var total = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { // batch-local tight loop, no boxing
                val rgb = img.getRGB(x, y)
                val lum = (((rgb >> 16) & 0xFF) * 299 +
                  ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
                sums((y / bh) * 8 + x / bw) += lum
                total += lum
                x += 1
              }
              y += 1
            }
            val bands = new Array[Long](4)
            var bit = 0
            while (bit < 64) {
              if (sums(bit) * 64 > total)
                bands(bit / 16) |= 1L << (bit % 16)
              bit += 1
            }
            Some(ImageBands(r.media_id, bands(0), bands(1), bands(2), bands(3)))
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }(org.apache.spark.sql.Encoders.product[ImageBands])

  /** q216 — perceptual near-duplicate image pairs: decoded aHash, LSH
    * banding for candidates, exact hamming confirm ≤ `maxHamming`.
    *
    * Scale shape: identical to SimHash dedup — candidates come from an
    * equi-join on (band index, 16-bit key), so the pair space is bounded
    * by band-bucket occupancy (pigeonhole: hamming ≤ 3 over 4 bands
    * guarantees a shared band, so banding loses nothing vs all-pairs —
    * which is also why the DuckDB oracle can be the plain quadratic
    * filter). The hash table is cached: it feeds both sides of the
    * self-join and re-decoding every image twice is exactly the kind of
    * redundant blob work a 100 TB pipeline cannot afford. */
  /** The STAGED perceptual-hash band table (media_id, b0..b3) — built
    * once per corpus snapshot (synth+encode+decode+hash at build time),
    * scanned by every consumer, and delete-maintained by the forget
    * cascade ([[graft.operators.Forget]] tombstones a forgotten doc's
    * media ids — the source id and its [[CopyIdOffset]] twin). */
  private[graft] def phashBands(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Staging.prepared(spark, PhashBandsLayout, dir)(
      aHashBands(phashCorpus(spark, dir)).toDF())

  private[graft] val PhashBandsLayout =
    graft.operators.Staging.Layout("phash_bands")

  def imagePhashPairs(spark: SparkSession, dir: String,
                      maxHamming: Int = 3): DataFrame = {
    // STAGED hash layout (round-12 verdict item 7 via item 3's
    // discipline): perceptual hashes are a persisted index COLUMN of an
    // image corpus — synth+encode+decode+hash runs once per corpus
    // snapshot at build time; every later run (and both sides of the
    // self-join) scans 5 integers per image. This also removes the
    // codec path from the steady-state bench lane, which is where the
    // round-12 closing runs stalled (see also ImageIO.setUseCache).
    val hashes = phashBands(spark, dir)
    val exploded = hashes.select(col("media_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "key")))
    val cand = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("b.media_id").as("b_id"))
      .distinct()
    cand
      .join(hashes.toDF("a_id", "a0", "a1", "a2", "a3"), "a_id")
      .join(hashes.toDF("b_id", "c0", "c1", "c2", "c3"), "b_id")
      .withColumn("hamming",
        expr("bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)").cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** q216 oracle: replay [[Multimodal.synthPng]] / [[synthPngPerturbed]]
    * per-pixel, pool the 8×8 integer block sums, derive the band words,
    * and take ALL pairs at hamming ≤ 3 (banding is lossless at that
    * threshold — see [[imagePhashPairs]]). */
  def imagePhashPairsSql(maxHamming: Int = 3): String =
    s"""WITH imgs AS (
       |  SELECT doc_id AS id, (doc_id % 4) * 16 + 16 AS w,
       |         (doc_id % 3) * 16 + 16 AS h
       |  FROM documents WHERE doc_id % 3 = 0
       |), copies AS (
       |  SELECT id AS mid, id AS src, w, h, 0 AS pert FROM imgs
       |  UNION ALL
       |  SELECT id + $CopyIdOffset, id, w, h, 1 FROM imgs
       |  WHERE id % $PlantEvery = 0
       |), pix AS (
       |  SELECT c.mid,
       |         (y.y // (c.h // 8)) * 8 + (x.x // (c.w // 8)) AS bit,
       |         CASE WHEN c.pert = 1 AND x.x < c.w // 8
       |                   AND y.y >= c.h - c.h // 8
       |              THEN 16777215 - ((c.src * 1103515245
       |                   + x.x * 2654435761 + y.y * 40503) & 16777215)
       |              ELSE (c.src * 1103515245 + x.x * 2654435761
       |                   + y.y * 40503) & 16777215
       |         END AS v
       |  FROM copies c
       |  CROSS JOIN LATERAL (SELECT unnest(range(c.w)) AS x) x
       |  CROSS JOIN LATERAL (SELECT unnest(range(c.h)) AS y) y
       |), blocks AS (
       |  SELECT mid, bit,
       |         sum((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
       |              + (v & 255) * 114) // 1000) AS bs
       |  FROM pix GROUP BY mid, bit
       |), tot AS (
       |  SELECT mid, sum(bs) AS ts FROM blocks GROUP BY mid
       |), bits AS (
       |  SELECT b.mid, b.bit,
       |         CASE WHEN 64 * b.bs > t.ts THEN 1 ELSE 0 END AS bv
       |  FROM blocks b JOIN tot t ON b.mid = t.mid
       |), bands AS (
       |  SELECT mid,
       |         sum(CASE WHEN bit < 16 THEN bv << bit ELSE 0 END) AS b0,
       |         sum(CASE WHEN bit >= 16 AND bit < 32
       |                  THEN bv << (bit - 16) ELSE 0 END) AS b1,
       |         sum(CASE WHEN bit >= 32 AND bit < 48
       |                  THEN bv << (bit - 32) ELSE 0 END) AS b2,
       |         sum(CASE WHEN bit >= 48 THEN bv << (bit - 48) ELSE 0 END) AS b3
       |  FROM bits GROUP BY mid
       |)
       |SELECT a.mid AS a_id, b.mid AS b_id,
       |       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |            AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.mid < b.mid
       |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
       |      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |      <= $maxHamming""".stripMargin

  /** q223 — end-to-end IMAGE dedup: connected components over the q216
    * perceptual-hash pairs, one row per duplicate cluster with the
    * canonical keeper (the minimum media_id — which is also the cluster
    * label [[graft.operators.Dedup.connectedComponents]] converges to)
    * and the member/removal counts — the table an image-corpus release
    * anti-joins to drop the n−1 losers, completing the
    * decode→hash→band-join→components→keeper chain as ONE lineage.
    *
    * Scale: the pair graph is band-candidate-bounded (q216) and the CC
    * iteration runs on pair-graph-sized data with per-round lineage cuts
    * — the q35 discipline; everything upstream of the pair list is the
    * cached hash table, decoded once per session. */
  def imageDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = imagePhashPairs(spark, dir)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))
    graft.operators.Dedup.connectedComponents(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_removed"))
  }

  /** q223 oracle: q216's pair replay as the edge list, the q35 recursive
    * transitive closure, min-label clusters, per-cluster census. */
  def imageDedupClustersSql(maxHamming: Int = 3): String =
    s"""WITH RECURSIVE pairs AS (
       |${imagePhashPairsSql(maxHamming)}
       |), edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION
       |  SELECT b_id AS src, a_id AS dst FROM pairs
       |), ${graft.operators.Dedup.reachCte}, cl AS (
       |  SELECT src AS media_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src
       |)
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |       CAST(count(*) - 1 AS BIGINT) AS n_removed
       |FROM cl GROUP BY cluster_id""".stripMargin

  /** Every `CorruptEvery`-th media row gets its container header zeroed —
    * a guaranteed-undecodable plant (PNG signature / RIFF tag / GIF magic
    * all live in the first 8 bytes). */
  final val CorruptEvery = 13

  private val tamper = udf((payload: Array[Byte], corrupt: Boolean) =>
    if (!corrupt) payload
    else {
      val p = payload.clone()
      java.util.Arrays.fill(p, 0, math.min(8, p.length), 0.toByte)
      p
    })

  /** q232 — MEDIA-QUALITY census: the decode-success/drop census per kind
    * over a corpus with planted corrupt blobs (header-zeroed every
    * [[CorruptEvery]]-th row) — the acceptance report of the
    * drop-on-undecodable quality-filter semantics every real codec branch
    * implements ([[Multimodal.ImageIoCodec]] scaladoc). Totals come from
    * METADATA ONLY (no decode — the payload column prunes out of that
    * branch); decodes run the real per-kind codecs on the tampered
    * payloads.
    *
    * The oracle is closed-form (id mod arithmetic), which is exactly the
    * point: it asserts the codecs drop ALL corrupt payloads and ONLY
    * corrupt payloads — a codec that silently "decodes" garbage or drops
    * a healthy blob goes hash-red. */
  def mediaQualityCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, dir)
      .withColumn("payload",
        tamper(col("payload"), pmod(col("media_id"), lit(CorruptEvery)) === 0))
    def decoded(kind: String, codec: Multimodal.MediaCodec) =
      Multimodal.decode(
        media.filter(col("meta.kind") === kind).as[Multimodal.MediaRow],
        codec).toDF()
        .groupBy(col("kind")).agg(count(lit(1)).as("n_decoded"))
    val totals = Multimodal.mediaTable(spark, dir)
      .groupBy(col("meta.kind").as("kind"))
      .agg(count(lit(1)).as("n_total"))
    val dec = decoded("image", Multimodal.ImageIoCodec)
      .unionByName(decoded("audio", Multimodal.WavPcmCodec))
      .unionByName(decoded("video", Multimodal.GifFramesCodec))
    totals.join(dec, Seq("kind"), "left")
      .select(col("kind"), col("n_total"),
        coalesce(col("n_decoded"), lit(0L)).as("n_decoded"),
        (col("n_total") - coalesce(col("n_decoded"), lit(0L)))
          .as("n_dropped"))
  }

  /** q232 oracle: the plant is id-mod arithmetic, so the census is a
    * closed form over the documents ids — no decoding required. */
  val mediaQualityCensusSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |              ELSE 'video' END AS kind,
       |         CASE WHEN doc_id % $CorruptEvery = 0 THEN 1 ELSE 0 END
       |           AS corrupt
       |  FROM documents
       |)
       |SELECT kind, CAST(count(*) AS BIGINT) AS n_total,
       |       CAST(sum(1 - corrupt) AS BIGINT) AS n_decoded,
       |       CAST(sum(corrupt) AS BIGINT) AS n_dropped
       |FROM m GROUP BY kind""".stripMargin

  /** WAV payloads of every audio row in the fixture (id%3=1). */
  private def audioBlobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    val synth = udf((id: Long) => Multimodal.synthWav(id, 8000))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"))
      .filter(col("media_id") % 3 === 1)
      .select(col("media_id"), synth(col("media_id")).as("payload"))
      .as[MediaBlob]
  }

  /** REAL-decode windowed energy: javax.sound decodes the RIFF container
    * to 16-bit PCM; each 256-sample window emits Σ s² over the RAW integer
    * samples (exact BIGINT — no float normalization, so the oracle replays
    * it bit-for-bit). The trailing partial window is kept: real VAD wants
    * the clip tail scored too. */
  private[graft] def audioWindows(blobs: Dataset[MediaBlob],
                                  windowSize: Int = 256): Dataset[AudioWin] =
    blobs.mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val fmt = in.getFormat
          val bytes = in.readAllBytes()
          in.close()
          if (fmt.getSampleSizeInBits != 16) Iterator.empty
          else {
            val bb = java.nio.ByteBuffer.wrap(bytes).order(
              if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
              else java.nio.ByteOrder.LITTLE_ENDIAN)
            val n = bytes.length / 2
            val nWin = (n + windowSize - 1) / windowSize
            val energies = new Array[Long](nWin)
            var i = 0
            while (i < n) { // batch-local tight loop, no boxing
              val s = bb.getShort(i * 2).toLong
              energies(i / windowSize) += s * s
              i += 1
            }
            energies.iterator.zipWithIndex.map { case (e, w) =>
              AudioWin(r.media_id, w.toLong, e)
            }
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
    }(org.apache.spark.sql.Encoders.product[AudioWin])

  /** q217 — per-clip energy profile summary: window count plus the peak
    * window (argmax energy, ties to the earliest window — struct-max on
    * (energy, −win), the repo's standard deterministic argmax).
    *
    * Scale shape: decode is a narrow map that explodes each clip into
    * per-window COUNTERS (≤ n/256 rows of 3 longs — thousands of times
    * smaller than the audio); the only exchange is the per-clip hash
    * aggregate on media_id, which partitions with the data. */
  def audioEnergy(spark: SparkSession, dir: String,
                  windowSize: Int = 256): DataFrame =
    audioWindows(audioBlobs(spark, dir), windowSize).toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        max(struct(col("energy"), (-col("win")).as("negw"))).as("best"))
      .select(col("media_id"), col("n_windows"),
        (-col("best.negw")).as("peak_window"),
        col("best.energy").as("peak_energy"))

  /** q217 oracle: replay [[Multimodal.synthWav]]'s integer waveform,
    * window by i/256, argmax by (energy DESC, window ASC). */
  def audioEnergySql(windowSize: Int = 256): String =
    s"""WITH a AS (
       |  SELECT doc_id AS id, 256 + (doc_id % 64) * 16 AS nsamp
       |  FROM documents WHERE doc_id % 3 = 1
       |), s AS (
       |  SELECT id, i.i // $windowSize AS win,
       |         (((id * 1103515245 + i.i * 2654435761) >> 8) & 65535)
       |           - 32768 AS v
       |  FROM a CROSS JOIN LATERAL
       |    (SELECT unnest(range(a.nsamp)) AS i) i
       |), w AS (
       |  SELECT id, win, sum(v * v) AS energy FROM s GROUP BY id, win
       |), r AS (
       |  SELECT id, win, energy,
       |         row_number() OVER (PARTITION BY id
       |                            ORDER BY energy DESC, win) AS rk,
       |         count(*) OVER (PARTITION BY id) AS nw
       |  FROM w
       |)
       |SELECT id AS media_id, CAST(nw AS BIGINT) AS n_windows,
       |       CAST(win AS BIGINT) AS peak_window,
       |       CAST(energy AS BIGINT) AS peak_energy
       |FROM r WHERE rk = 1""".stripMargin

  /** q219 — STREAMING media decode: the documents table staged as a file
    * stream; audio rows synthesize their WAV payloads and decode through
    * the REAL javax.sound codec INSIDE micro-batches; the per-window
    * energy counters feed a stateful per-clip argmax aggregate (Complete
    * mode). The oracle is literally [[audioEnergySql]] — q217's batch
    * SQL — so stream/batch equivalence is the hash gate.
    *
    * This is the multimodal INGEST shape at 100 TB: media lands
    * continuously; decode is per-batch narrow work that never enters
    * state; only fixed-width counters (3 longs per window) reach the
    * state store, so state is O(open clips), not O(bytes). */
  def audioEnergyStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    val staged = graft.streaming.EventStreams.streamFeed(dir, "documents")
    val schema = spark.read.parquet(staged).schema
    val synth = udf((id: Long) => Multimodal.synthWav(id, 8000))
    val blobs = spark.readStream.schema(schema).parquet(staged)
      .select(col("doc_id").as("media_id"))
      .filter(col("media_id") % 3 === 1)
      .select(col("media_id"), synth(col("media_id")).as("payload"))
      .as[MediaBlob]
    val agg = audioWindows(blobs).toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        max(struct(col("energy"), (-col("win")).as("negw"))).as("best"))
      .select(col("media_id"), col("n_windows"),
        (-col("best.negw")).as("peak_window"),
        col("best.energy").as("peak_energy"))
    graft.streaming.EventStreams.runToBatch(spark, agg,
      s"audio_energy_stream_${graft.streaming.EventStreams.sanitize(dir)}",
      OutputMode.Complete, shufflePartitions = Some(4))
  }

  /** GIF payloads of every video row in the fixture (id%3=2). */
  private def videoBlobs(spark: SparkSession, dir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    val synth = udf((id: Long, w: Int, h: Int) =>
      Multimodal.synthGif(id, w, h, Multimodal.videoFrames(id)))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"))
      .filter(col("media_id") % 3 === 2)
      .select(col("media_id"),
        synth(col("media_id"),
          (pmod(col("media_id"), lit(4)) * 16 + 16).cast(IntegerType),
          (pmod(col("media_id"), lit(3)) * 16 + 16).cast(IntegerType))
          .as("payload"))
      .as[MediaBlob]
  }

  /** REAL-decode temporal deltas: the ImageIO sequence reader walks the
    * GIF's frame index; each consecutive pair emits Σ |g_f − g_{f−1}| over
    * the gray pixels (the fixture's gray palette makes luminance = gray
    * level exactly — see [[Multimodal.synthGif]]). One decoded frame is
    * held as the comparison base at a time, so memory per task is one
    * frame, not one clip. */
  private[graft] def frameDeltas(blobs: Dataset[MediaBlob]): Dataset[FrameDelta] =
    blobs.mapPartitions { rows =>
      // see aHashBands: the cache setting must travel with the task
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) { iis.close(); Iterator.empty }
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis, false, true)
              val n = reader.getNumImages(true)
              val out = new Array[FrameDelta](math.max(0, n - 1))
              var prev = reader.read(0)
              var f = 1
              while (f < n) {
                val cur = reader.read(f)
                var delta = 0L
                var y = 0
                while (y < cur.getHeight) {
                  var x = 0
                  while (x < cur.getWidth) { // tight loop, no boxing
                    delta += math.abs((cur.getRGB(x, y) & 0xFF) -
                      (prev.getRGB(x, y) & 0xFF))
                    x += 1
                  }
                  y += 1
                }
                out(f - 1) = FrameDelta(r.media_id, n, f, delta)
                prev = cur
                f += 1
              }
              out.iterator
            } finally { reader.dispose(); iis.close() }
          }
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      }
    }(org.apache.spark.sql.Encoders.product[FrameDelta])

  /** q218 — temporal activity per clip: total absolute inter-frame pixel
    * delta plus the peak frame transition (argmax delta, ties to the
    * earliest pair) — the score that separates static clips (drop) from
    * high-motion ones (keyframe candidates).
    *
    * Scale shape: same as [[audioEnergy]] — decode explodes each clip
    * into per-transition counters, the per-clip aggregate is the only
    * exchange. */
  def videoMotion(spark: SparkSession, dir: String): DataFrame =
    frameDeltas(videoBlobs(spark, dir)).toDF()
      .groupBy(col("media_id"))
      .agg(max(col("n_frames")).cast(LongType).as("n_frames"),
        sum(col("delta")).as("total_abs_delta"),
        max(struct(col("delta"), (-col("frame")).as("negf"))).as("best"))
      .select(col("media_id"), col("n_frames"), col("total_abs_delta"),
        (-col("best.negf")).cast(LongType).as("peak_frame"))

  /** q218 oracle: replay [[Multimodal.synthGif]]'s pixel hash per frame
    * pair (the gray palette guarantees decoded luminance == formula
    * output), aggregate per transition, argmax per clip. */
  val videoMotionSql: String =
    """WITH v AS (
      |  SELECT doc_id AS id, (doc_id % 4) * 16 + 16 AS w,
      |         (doc_id % 3) * 16 + 16 AS h, 2 + doc_id % 7 AS nf
      |  FROM documents WHERE doc_id % 3 = 2
      |), p AS (
      |  SELECT id, nf, f.f,
      |         abs(((id * 1103515245 + f.f * 97003 + x.x * 2654435761
      |               + y.y * 40503) & 255)
      |           - ((id * 1103515245 + (f.f - 1) * 97003
      |               + x.x * 2654435761 + y.y * 40503) & 255)) AS d
      |  FROM v
      |  CROSS JOIN LATERAL (SELECT unnest(range(1, v.nf)) AS f) f
      |  CROSS JOIN LATERAL (SELECT unnest(range(v.w)) AS x) x
      |  CROSS JOIN LATERAL (SELECT unnest(range(v.h)) AS y) y
      |), fd AS (
      |  SELECT id, nf, f, sum(d) AS delta FROM p GROUP BY id, nf, f
      |), r AS (
      |  SELECT id, nf, f, delta,
      |         sum(delta) OVER (PARTITION BY id) AS total,
      |         row_number() OVER (PARTITION BY id
      |                            ORDER BY delta DESC, f) AS rk
      |  FROM fd
      |)
      |SELECT id AS media_id, CAST(nf AS BIGINT) AS n_frames,
      |       CAST(total AS BIGINT) AS total_abs_delta,
      |       CAST(f AS BIGINT) AS peak_frame
      |FROM r WHERE rk = 1""".stripMargin
}
