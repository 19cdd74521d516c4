package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow

/** Multimodal plumbing exercised with document text bytes standing in
  * for media payloads (ASCII → byte ops == char ops, so the typed
  * JVM pipeline can still be oracle-checked in SQL: histogram entropy,
  * mean byte, stub dimensions, md5 frame ids are all reproducible).
  */
object MultimodalQueries {

  /** The fixed-point DCT-II basis as a DuckDB VALUES literal (the SRP
    * hyperplane discipline, EmbeddingQueries.srpPlanesValues): 256 rows
    * (u, x, c) straight from [[Multimodal.dctCosQ14]], so both engines
    * multiply the SAME integers and no trig ever evaluates in SQL. */
  private def dctCosValues: String =
    (for (u <- 0 until 8; x <- 0 until 32)
      yield s"($u,$x,${Multimodal.dctCosQ14(u * 32 + x)})").mkString(",")

  /** The per-doc corpus rule of the perceptual queries as a pure
    * function (shared by the batch frame and the streaming twin's
    * ingest map): a 19x17 grayscale synth image keyed gid = doc_id/2
    * (so consecutive docs pair on content) is encoded through a
    * DIFFERENT real codec per parity — even docs PNG, odd docs BMP —
    * decoded by the REAL decoders, and hashed; every 5th gid perturbs
    * the ODD twin's one sampled cell by +delta mod 256. */
  /** One doc's synthetic pixels through the REAL codec round trip —
    * the shared decode of [[perceptualHashOf]] / [[perceptualHashQOf]]
    * / [[perceptualHashesDual]] (r16: factored out so dual-hash
    * consumers decode ONCE; the codec pass is the dominant cost and
    * both hashes read the same pixels). */
  private def perceptualPixelsOf(id: Long,
      delta: Int): (Int, Int, Array[Byte]) = {
    val gid = id / 2
    val pcell =
      if (id % 2 == 1 && gid % 5 == 0)
        Some(((gid % 8).toInt, (gid % 9).toInt))
      else None
    val px = Multimodal.synthGrayImage(gid, 19, 17, pcell, delta)
    if (id % 2 == 0) {
      val p = Multimodal.decodePng(Multimodal.encodePng(19, 17, px))
      (p.width, p.height, p.pixels)
    } else {
      val b = Multimodal.decodeBmp(Multimodal.encodeBmp(19, 17, px))
      (b.width, b.height, b.pixels)
    }
  }

  private def perceptualHashOf(id: Long, delta: Int,
      hash: (Int, Int, Array[Byte]) => Long): Long = {
    val (w, h, pixels) = perceptualPixelsOf(id, delta)
    hash(w, h, pixels)
  }

  /** Document ids SPREAD ACROSS the session's full parallelism —
    * mandatory in front of every expensive per-doc decode map (r13):
    * the grading corpus is ONE small parquet file = one scan
    * partition, so a decode map planned directly on the scan runs
    * single-threaded — invisible on cheap maps, a measured 30x wall
    * penalty on real-codec decodes (mm_phash_lossy_dups 15.5 -> ~1 s;
    * SCALE.md r13). The exchange ships bare longs, hash-placed on
    * doc_id (deterministic). At production scale the scan has native
    * partitions and this is noise. */
  private def docIdsSpread(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables.documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** [[perceptualHashOf]] variant that also returns an integer
    * QUALITY key from the DECODED payload — sum of decoded RGB bytes
    * (an exposure/energy proxy; channels equal on the gray corpus, so
    * it equals 3x the luma-formula sum and the oracle replays it
    * exactly). The real decode feeds the score: a decoder bug diverges
    * the election, not just the hash. */
  private def perceptualHashQOf(id: Long, delta: Int,
      hash: (Int, Int, Array[Byte]) => Long): (Long, Long) = {
    val (w, h, pixels) = perceptualPixelsOf(id, delta)
    var q = 0L
    var k = 0
    while (k < pixels.length) { q += (pixels(k) & 0xFF); k += 1 }
    (hash(w, h, pixels), q)
  }

  /** The named hash functions of the perceptual family — string keys
    * so the memo below can key on VALUE (an eta-expanded
    * `Multimodal.dhash64 _` is a fresh object per call site, useless
    * as a map key). */
  private val hashFns: Map[String, (Int, Int, Array[Byte]) => Long] = Map(
    "dhash" -> Multimodal.dhash64,
    "dct" -> Multimodal.phashDct64)

  /** [[perceptualHashQOf]] over the documents table as a persisted
    * (doc_id, simhash, q_dm) frame: decode+hash is the expensive pass,
    * and the band machinery consumes the frame up to four times (the
    * doc_ngram_jaccard persisted-shingle pattern; pinned in
    * EXPLAINS.md).
    *
    * MEMOIZED per (session, dir, delta, hash) — r13 ADVICE: six mm
    * queries flow through this frame, and before the memo each query
    * build persisted a FRESH copy of the identical decode pass, so a
    * long-lived session accumulated unreleased MEMORY_AND_DISK
    * entries. Now a session holds AT MOST ONE cache entry per corpus
    * variant; if an external clearCache() dropped it (the Bench
    * between-query sweep), the next build re-persists the same frame
    * instead of stacking a new one. */
  private val hashFrameMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.DataFrame]
  private def memoPersisted(s: org.apache.spark.sql.SparkSession,
      dir: String, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // sessionUUID key + dead-session sweep (r14 ADVICE): identity
    // hashes can recycle across sessions, and stopped sessions'
    // persisted frames would otherwise pin heap forever. Eviction
    // unpersists when the owning context still runs (r15 ADVICE —
    // a stopped context dropped its blocks already; Sessions scaladoc
    // has the shared-context caveat)
    graft.core.Sessions.sweepDead(hashFrameMemo)(_._1,
      (df: org.apache.spark.sql.DataFrame) =>
        if (!df.sparkSession.sparkContext.isStopped) df.unpersist())
    val df = hashFrameMemo.computeIfAbsent(
      (graft.core.Sessions.token(s), dir, key), _ => build)
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }
  private def perceptualHashes(s: org.apache.spark.sql.SparkSession,
      dir: String, delta: Int, hashKey: String) =
    memoPersisted(s, dir, s"synth:$delta:$hashKey") {
      import s.implicits._
      val hash = hashFns(hashKey)
      docIdsSpread(s, dir).as[Long]
        .map { id =>
          val (h, q) = perceptualHashQOf(id, delta, hash)
          (id, h, q)
        }
        .toDF("doc_id", "simhash", "q_dm")
    }

  /** Decode-once-hash-twice for the plain agreement pair (r16 — the
    * r15 blur-lossy discipline applied to mm_phash_agreement, which
    * still decoded the SAME corpus twice, once per hash): ONE
    * persisted decode pass computes BOTH 64-bit hashes per doc; both
    * miner legs are then InMemoryTableScans over a single codec pass.
    * Hash values are bit-identical to the two-frame form (same pixels,
    * same hash functions), so the shared oracle is untouched. */
  private def perceptualHashesDual(s: org.apache.spark.sql.SparkSession,
      dir: String, delta: Int) =
    memoPersisted(s, dir, s"synth_dual:$delta") {
      import s.implicits._
      docIdsSpread(s, dir).as[Long]
        .map { id =>
          val (w, h, px) = perceptualPixelsOf(id, delta)
          (id, Multimodal.dhash64(w, h, px), Multimodal.phashDct64(w, h, px))
        }
        .toDF("doc_id", "dh", "ch")
    }

  /** The per-doc corpus rule of the BLUR agreement query as a pure
    * function: gid = doc_id/2 pairs an untouched even twin (PNG)
    * with an ODD twin run through [[Multimodal.blurH121]] (BMP) — the
    * low-frequency-preserving edit elected by tools/BlurRegimeProbe
    * (dHash drifts past its radius on ~16% of content groups while
    * the DCT hash stays inside — the (F,T) regime the r13 agreement
    * matrix could only pin at unit level). Both twins still cross a
    * REAL codec. */
  private def blurTwinPixels(id: Long): (Int, Int, Array[Byte]) = {
    val gid = id / 2
    val base = Multimodal.synthGrayImage(gid, 19, 17)
    if (id % 2 == 0) {
      val p = Multimodal.decodePng(Multimodal.encodePng(19, 17, base))
      (p.width, p.height, p.pixels)
    } else {
      val b = Multimodal.decodeBmp(Multimodal.encodeBmp(19, 17,
        Multimodal.blurH121(19, 17, base)))
      (b.width, b.height, b.pixels)
    }
  }

  /** BOTH hashes of the blur corpus from ONE decode pass — the
    * agreement queries are this frame's only consumers, so
    * decode-once-hash-twice halves their dominant cost vs two
    * per-hash frames (r15; the codec pass is the expensive part, the
    * two 64-bit hashes over decoded pixels are noise next to it). */
  private def blurHashes2(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    memoPersisted(s, dir, "blur2") {
      import s.implicits._
      docIdsSpread(s, dir).as[Long]
        .map { id =>
          val (w, h, px) = blurTwinPixels(id)
          (id, Multimodal.dhash64(w, h, px), Multimodal.phashDct64(w, h, px))
        }
        .toDF("doc_id", "dh", "ch")
    }

  /** Single-sourced CTE chain for the dHash near-dup pair set —
    * consumed by the batch query (mm_phash_dups), the streaming twin's
    * min-fold (mm_phash_stream), and the cross-modal verdict report
    * (image leg, via `pred`), so the oracles cannot drift. `pairs` =
    * all (a_id < b_id) within hamming 3 of the replayed corpus rule
    * (gid-paired docs, every 5th gid's odd twin perturbed +`delta` at
    * its sampled cell — 128 for the dHash corpus, 24 when the
    * agreement query reads the DCT corpus with both hashes). `pred`
    * filters the doc universe (default: all). */
  private def PHASH_PAIRS_CTES(pred: String = "TRUE",
      delta: Int = 128): String =
    s"""q AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid,
      |    (doc_id % 2 = 1 AND (doc_id // 2) % 5 = 0) AS pert
      |  FROM documents WHERE $pred),
      |v AS (
      |  SELECT q.id, q.gid, q.pert, cy, cx,
      |    (cy * 17 // 8) * 19 + (cx * 19 // 9) AS i
      |  FROM q, unnest(range(0, 8)) AS ry(cy), unnest(range(0, 9)) AS rx(cx)),
      |g AS (
      |  SELECT id, cy, cx,
      |    CASE WHEN pert AND cy = gid % 8 AND cx = gid % 9
      |      THEN (((gid * 31 + i) * 97 + (gid * 7 + 13) * i * i
      |             + (gid // 256) * (59 * i + 17)) % 256 + $delta) % 256
      |      ELSE ((gid * 31 + i) * 97 + (gid * 7 + 13) * i * i
      |             + (gid // 256) * (59 * i + 17)) % 256
      |    END AS l
      |  FROM v),
      |b AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS i,
      |    CASE WHEN b2.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b2 ON b2.id = a.id AND b2.cy = a.cy
      |    AND b2.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |pairs AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM b x JOIN b y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3)""".stripMargin

  /** Single-sourced CTE chain for the DCT-hash near-dup pair set over
    * the delta=24 corpus (gid-paired docs, PNG vs BMP per parity,
    * every 5th gid's odd twin perturbed +24 at one sampled cell) — the
    * deepest formula replay in the family: the 32x32 sampled-luma
    * grid, the separable fixed-point DCT-II against the SAME 256
    * integer cosine literals the Scala side uses ([[dctCosValues]]),
    * the median as an exact order statistic (row_number 32 of 63), and
    * ALL-pairs hamming <= 3. Consumed by mm_phash_dct_dups and the
    * dHash/DCT agreement query. Every arithmetic step is exact integer
    * (|co| <= 255*32^2*2^28 ~ 7.0e16 < 2^63 on the JVM; DuckDB sums in
    * HUGEINT), so the hash compare is bit-exact. */
  private def DCT_PAIRS_CTES(pred: String = "TRUE"): String =
    s"""ct(u, x, c) AS (VALUES $dctCosValues),
      |q AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid,
      |    (doc_id % 2 = 1 AND (doc_id // 2) % 5 = 0) AS pert
      |  FROM documents WHERE $pred),
      |v AS (
      |  SELECT q.id, q.gid, q.pert, gy, gx,
      |    (gy * 17 // 32) * 19 + (gx * 19 // 32) AS i,
      |    ((q.gid % 8) * 17 // 8) * 19 + ((q.gid % 9) * 19 // 9) AS pidx
      |  FROM q, unnest(range(0, 32)) AS ry(gy), unnest(range(0, 32)) AS rx(gx)),
      |g AS (
      |  SELECT id, gy, gx,
      |    CASE WHEN pert AND i = pidx
      |      THEN (((gid * 31 + i) * 97 + (gid * 7 + 13) * i * i
      |             + (gid // 256) * (59 * i + 17)) % 256 + 24) % 256
      |      ELSE ((gid * 31 + i) * 97 + (gid * 7 + 13) * i * i
      |             + (gid // 256) * (59 * i + 17)) % 256
      |    END AS l
      |  FROM v),
      |s1 AS (
      |  SELECT g.id, ct.u, g.gy, sum(g.l * ct.c) AS s
      |  FROM g JOIN ct ON ct.x = g.gx GROUP BY 1, 2, 3),
      |co AS (
      |  SELECT s1.id, s1.u, ct.u AS v2, sum(s1.s * ct.c) AS co
      |  FROM s1 JOIN ct ON ct.x = s1.gy GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT id, u, v2, co,
      |    row_number() OVER (PARTITION BY id ORDER BY co) AS rn
      |  FROM co WHERE NOT (u = 0 AND v2 = 0)),
      |med AS (SELECT id, co AS m FROM ac WHERE rn = 32),
      |b AS (
      |  SELECT ac.id, ac.u * 8 + ac.v2 - 1 AS i,
      |    CASE WHEN ac.co > med.m THEN 1 ELSE 0 END AS bit
      |  FROM ac JOIN med ON med.id = ac.id),
      |pairs AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM b x JOIN b y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3)""".stripMargin

  /** The per-doc corpus rule of the LOSSY-boundary perceptual query
    * (mm_phash_lossy_dups) as a pure function: gid = doc_id/2 pairs
    * one REAL-JPEG twin with one REAL-PNG twin of the same content.
    * Even docs round-trip Multimodal.synthJpegWide (a 256x256
    * grayscale baseline JFIF, block-constant DC-only so the lossy
    * roundtrip is bit-exact) through the REAL JPEG decoder — Huffman,
    * DC prediction, dequant, IDCT; odd docs encode the SAME pixels
    * (Multimodal.jpegWidePixels) through the REAL PNG codec. 256x256
    * with 8-pixel blocks means phashDct64's 32x32 sampled grid reads
    * one pixel from a DISTINCT block per cell — a full-entropy grid,
    * the synthGrayImage discipline (a 64x40 draft had 40 content DoF
    * and measured 7.5k unrelated-gid pairs at 2500 gids; SCALE.md
    * r13). Every 5th gid perturbs the ODD twin's one sampled pixel by
    * +24 — hamming > 0 matches ACROSS the codec boundary. */
  private def lossyHashOf(id: Long): Long = {
    val gid = id / 2
    if (id % 2 == 0) {
      val img = Multimodal.decodeJpeg(Multimodal.synthJpegWide(gid, 256, 256))
      Multimodal.phashDct64(img.width, img.height,
        Multimodal.grayToRgb(img.pixels))
    } else {
      val pcell =
        if (gid % 5 == 0) Some(((gid % 32).toInt, ((gid * 7) % 32).toInt))
        else None
      val px = Multimodal.jpegWidePixels(gid, 256, 256, pcell, 24)
      val p = Multimodal.decodePng(Multimodal.encodePng(256, 256, px))
      Multimodal.phashDct64(p.width, p.height, p.pixels)
    }
  }

  /** The per-doc corpus rule of the audio queries as a pure function
    * (batch frame + streaming twin): 1300-sample even synth clip keyed
    * gid = doc_id/2, odd twin GAIN-HALVED (exact: samples even), every
    * 5th gid's odd twin gets +4000 on one energy block; REAL WAV
    * encode/decode round trip, then the 65-block fingerprint. */
  private[graft] def audioFingerprintOf(id: Long): Long = {
    val n = 1300
    val gid = id / 2
    val raw = Array.tabulate(n)(i => Multimodal.synthSampleEven(gid, i.toLong))
    val base = if (id % 2 == 1) raw.map(_ >> 1) else raw
    val clip =
      if (id % 2 == 1 && gid % 5 == 0) {
        val b = (1 + gid % 63).toInt
        val lo = b * n / 65
        val hi = (b + 1) * n / 65
        Array.tabulate(n)(i =>
          if (i >= lo && i < hi) base(i) + 4000 else base(i))
      } else base
    val dec = Multimodal.decodeWav(Multimodal.encodeWav(clip, 8000))
    Multimodal.audioFingerprint64(dec.samples)
  }

  /** Single-sourced CTE chain for the audio-fingerprint pair set —
    * consumed by the batch query (mm_audio_dups), the streaming twin's
    * min-fold (mm_audio_stream), and the cross-modal verdict report
    * (audio leg, via `pred`). */
  private def AUDIO_PAIRS_CTES(pred: String = "TRUE"): String =
    s"""q AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid,
      |    doc_id % 2 = 1 AS halved,
      |    (doc_id % 2 = 1 AND (doc_id // 2) % 5 = 0) AS pert
      |  FROM documents WHERE $pred),
      |sm AS (
      |  SELECT id, i * 65 // 1300 AS k,
      |    CASE WHEN halved
      |      THEN (2 * (((gid % 32768) * 2654435761 + i * 40503
      |                  + ((gid % 32768) * 7 + 13) * i * i) % 16384)
      |            - 16384) // 2
      |      ELSE 2 * (((gid % 32768) * 2654435761 + i * 40503
      |                  + ((gid % 32768) * 7 + 13) * i * i) % 16384)
      |            - 16384
      |    END
      |    + CASE WHEN pert AND i * 65 // 1300 = 1 + gid % 63
      |        THEN 4000 ELSE 0 END AS s
      |  FROM q, unnest(range(0, 1300)) AS r(i)),
      |e AS (SELECT id, k, sum(s * s) AS e FROM sm GROUP BY 1, 2),
      |b AS (
      |  SELECT a.id, a.k AS i,
      |    CASE WHEN b2.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM e a JOIN e b2 ON b2.id = a.id AND b2.k = a.k + 1
      |  WHERE a.k < 64),
      |pairs AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM b x JOIN b y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3)""".stripMargin

  /** The per-doc corpus + extraction rule of mm_video_dups as a pure
    * function (shared with tools/VideoProbe so its stage timings can
    * never describe a stale pipeline): decode the re-edit-aware scene
    * GIF, dHash every frame, keep keyframes by the mm_keyframes
    * DETECTION rule, and pack (video, keyframe-seq) into one
    * band-joinable id. */
  private[graft] def videoKeyframeHashes(id: Long): Seq[(Long, Long)] = {
    val gid = id / 2
    val par = (id % 2).toInt
    val frames = Multimodal.decodeGifFrames(
      Multimodal.synthGifScenes(gid, 19, 17, 9, 3,
        scenePerm = par, jitterFrame = 1 - par))
    val hashes = frames.map { fr =>
      val rgb = new Array[Byte](fr.width * fr.height * 3)
      var k = 0
      while (k < rgb.length) { rgb(k) = fr.rgb(k).toByte; k += 1 }
      Multimodal.dhash64(fr.width, fr.height, rgb)
    }
    val kf = hashes.zipWithIndex.filter { case (hsh, f) =>
      f == 0 || java.lang.Long.bitCount(hsh ^ hashes(f - 1)) > 3
    }
    require(kf.length <= 16, s"video $id: ${kf.length} keyframes")
    kf.zipWithIndex.map { case ((hsh, _), q) => (id * 16 + q, hsh) }
  }

  /** Single-sourced CTE chain for the cross-video KEYFRAME pair set —
    * the mm_video_dups replay (re-edit corpus rule, scene/jitter
    * palette, per-frame dHash bits, the mm_keyframes detection rule,
    * cross-video keyframe pairs within hamming <= 3) up to `pr`
    * (a_id, a_f, b_id, b_f, hamming). Consumed by mm_video_dups
    * (matches >= 2 / min-hamming roll-up) and the cross-modal verdict
    * report (video leg: max-hamming exact tier, via `pred`). */
  private def VIDEO_PAIRS_CTES(pred: String = "TRUE"): String =
    s"""d AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid, doc_id % 2 AS par
      |  FROM documents WHERE $pred),
      |v AS (
      |  SELECT id, gid, par, f, ((f // 3) + par) % 3 AS s, cy, cx,
      |    (cy * 17 // 8) * 19 + (cx * 19 // 9) AS p
      |  FROM d, unnest(range(0, 9)) AS rf(f),
      |    unnest(range(0, 8)) AS ry(cy), unnest(range(0, 9)) AS rx(cx)),
      |ix AS (
      |  SELECT id, f, cy, cx,
      |    CASE WHEN f % 3 = 1 - par
      |        AND p = ((s % 8) * 17 // 8) * 19 + ((s % 9) * 19 // 9)
      |      THEN (((((gid * 131 + s) * 31 + p) * 97
      |             + ((gid * 131 + s) * 7 + 13) * p * p
      |             + ((gid * 131 + s) // 256) * (53 * p + 11)) % 256) % 64
      |            + 32) % 64
      |      ELSE ((((gid * 131 + s) * 31 + p) * 97
      |             + ((gid * 131 + s) * 7 + 13) * p * p
      |             + ((gid * 131 + s) // 256) * (53 * p + 11)) % 256) % 64
      |    END AS idx
      |  FROM v),
      |g AS (
      |  SELECT id, f, cy, cx,
      |    (299 * ((idx * 37) % 256) + 587 * ((idx * 91 + 17) % 256)
      |     + 114 * ((idx * 53 + 101) % 256)) // 1000 AS l
      |  FROM ix),
      |b AS (
      |  SELECT a.id, a.f, a.cy * 8 + a.cx AS i,
      |    CASE WHEN b2.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b2 ON b2.id = a.id AND b2.f = a.f
      |    AND b2.cy = a.cy AND b2.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |hd AS (
      |  SELECT x.id, x.f,
      |    sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS dist
      |  FROM b x JOIN b y ON y.id = x.id AND y.f = x.f - 1 AND y.i = x.i
      |  WHERE x.f > 0 GROUP BY 1, 2),
      |kf AS (
      |  SELECT fr.id, fr.f
      |  FROM (SELECT DISTINCT id, f FROM v) fr
      |  LEFT JOIN hd ON hd.id = fr.id AND hd.f = fr.f
      |  WHERE fr.f = 0 OR hd.dist > 3),
      |kb AS (SELECT b.id, b.f, b.i, b.bit FROM b JOIN kf
      |  ON kf.id = b.id AND kf.f = b.f),
      |pr AS (
      |  SELECT x.id AS a_id, x.f AS a_f, y.id AS b_id, y.f AS b_f,
      |    sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS hamming
      |  FROM kb x JOIN kb y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2, 3, 4 HAVING hamming <= 3)""".stripMargin

  /** Spark side of [[VIDEO_PAIRS_CTES]]: keyframe extraction
    * ([[videoKeyframeHashes]] — decode + dHash + lag in ONE typed
    * flatMap, zero exchange on the temporal dimension), banded
    * in-bucket Hamming pairing over the packed (video, keyframe) ids,
    * unpacked to cross-video keyframe pairs. Shared by mm_video_dups
    * and the verdict report's video leg. */
  private def videoKeyframePairs(s: org.apache.spark.sql.SparkSession,
      vids: org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    import graft.operators.Dedup
    val keyframeHashes = vids.select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long]
      .flatMap(id => videoKeyframeHashes(id)).toDF("doc_id", "simhash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.simhashPairsBucketed(keyframeHashes, maxDist = 3,
        maxBucket = 1024)
      .select(expr("a_id div 16").as("a_vid"),
        expr("b_id div 16").as("b_vid"), col("hamming"))
      // a_id < b_id on packed ids implies a_vid <= b_vid; equality is
      // the same video's own keyframes (distinct scenes, excluded)
      .filter(col("a_vid") =!= col("b_vid"))
  }

  private def media(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id").as("id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("payload"),
        map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta"))
      .as[MediaRow]
  }

  /** The synth gray-pixel formula at index expression `i` for content
    * key expression `g` — the one base rule every perceptual CTE
    * replays, as a splice helper for chains that need it at SEVERAL
    * indices per row (the blur chains evaluate it at x-1/x/x+1). */
  private def pixF(g: String, i: String): String =
    s"((($g * 31 + $i) * 97 + ($g * 7 + 13) * $i * $i" +
      s" + ($g // 256) * (59 * $i + 17)) % 256)"

  /** The blurred-or-original sampled luma as a CASE splice: odd docs
    * (par = 1) read the 1-2-1 horizontal blur of the formula plane
    * (x CLAMPED via greatest/least — [[Multimodal.blurH121]]
    * verbatim), even docs the plane itself. `sy`/`sx` are the sampled
    * pixel's row/col expressions. */
  private def blurLum(sy: String, sx: String): String =
    s"""CASE WHEN par = 1 THEN
      |      (${pixF("gid", s"(($sy) * 19 + greatest(($sx) - 1, 0))")}
      |       + 2 * ${pixF("gid", s"(($sy) * 19 + ($sx))")}
      |       + ${pixF("gid", s"(($sy) * 19 + least(($sx) + 1, 18))")}) // 4
      |    ELSE ${pixF("gid", s"(($sy) * 19 + ($sx))")} END""".stripMargin

  /** Oracle for mm_phash_agreement_blur: both perceptual hash chains
    * (dHash 9x8 gradient bits; fixed-point 32x32 DCT-II vs exact
    * median) replayed over the blur corpus — the odd twin's pixels
    * are the 1-2-1 clamped floor blur of the even twin's formula
    * plane — then ALL-pairs hamming <= 3 per hash, full-outer-joined
    * on the pair key. Single-sourced splices: [[pixF]] (the base
    * plane), [[blurLum]] (the edit), [[dctCosValues]] (the integer
    * cosine literals). */
  private def BLUR_AGREEMENT_SQL: String =
    s"""WITH ct(u, x, c) AS (VALUES $dctCosValues),
      |q AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid, doc_id % 2 AS par
      |  FROM documents),
      |vd AS (
      |  SELECT id, gid, par, cy, cx,
      |    cy * 17 // 8 AS sy, cx * 19 // 9 AS sx
      |  FROM q, unnest(range(0, 8)) AS ry(cy), unnest(range(0, 9)) AS rx(cx)),
      |gd AS (
      |  SELECT id, cy, cx, ${blurLum("sy", "sx")} AS l
      |  FROM vd),
      |bd AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS i,
      |    CASE WHEN b2.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM gd a JOIN gd b2 ON b2.id = a.id AND b2.cy = a.cy
      |    AND b2.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |dp AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM bd x JOIN bd y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3),
      |vc AS (
      |  SELECT id, gid, par, gy, gx,
      |    gy * 17 // 32 AS sy, gx * 19 // 32 AS sx
      |  FROM q, unnest(range(0, 32)) AS ry(gy), unnest(range(0, 32)) AS rx(gx)),
      |gc AS (
      |  SELECT id, gy, gx, ${blurLum("sy", "sx")} AS l
      |  FROM vc),
      |s1 AS (
      |  SELECT gc.id, ct.u, gc.gy, sum(gc.l * ct.c) AS s
      |  FROM gc JOIN ct ON ct.x = gc.gx GROUP BY 1, 2, 3),
      |co AS (
      |  SELECT s1.id, s1.u, ct.u AS v2, sum(s1.s * ct.c) AS co
      |  FROM s1 JOIN ct ON ct.x = s1.gy GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT id, u, v2, co,
      |    row_number() OVER (PARTITION BY id ORDER BY co) AS rn
      |  FROM co WHERE NOT (u = 0 AND v2 = 0)),
      |med AS (SELECT id, co AS m FROM ac WHERE rn = 32),
      |bc AS (
      |  SELECT ac.id, ac.u * 8 + ac.v2 - 1 AS i,
      |    CASE WHEN ac.co > med.m THEN 1 ELSE 0 END AS bit
      |  FROM ac JOIN med ON med.id = ac.id),
      |cp AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM bc x JOIN bc y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3)
      |SELECT coalesce(d.a_id, c.a_id) AS a_id,
      |  coalesce(d.b_id, c.b_id) AS b_id,
      |  d.a_id IS NOT NULL AS dhash_dup, c.a_id IS NOT NULL AS dct_dup,
      |  d.hamming AS d_hamming, c.hamming AS c_hamming
      |FROM dp d FULL OUTER JOIN cp c
      |  ON d.a_id = c.a_id AND d.b_id = c.b_id""".stripMargin

  /** The jpegWide formula plane's luma at pixel (y, x) of the 256x256
    * 32-blocks-wide corpus — [[Multimodal.jpegBlockMWide]] folded into
    * pixel = 128 + 2*(m) = 64 + 2*((...) % 251 % 64), the same splice
    * the mm_phash_lossy_dups oracle uses, here parameterized over
    * PIXEL coordinates because the blur chain evaluates it at
    * x-1/x/x+1 (the [[pixF]] pattern for the lossy plane). */
  private def jpegPixF(g: String, y: String, x: String): String = {
    val b = s"((($y) // 8) * 32 + (($x) // 8))"
    s"(64 + 2 * (((($g * 31 + $b) * 97 + ($g * 7 + 13) * $b * $b" +
      s" + ($g // 251) * (59 * $b + 17)) % 251) % 64))"
  }

  /** [[blurLum]] for the 256x256 jpegWide plane: odd docs read the
    * 1-2-1 clamped floor blur of the block formula, even docs the
    * plane itself. */
  private def jpegBlurLum(sy: String, sx: String): String =
    s"""CASE WHEN par = 1 THEN
      |      (${jpegPixF("gid", s"($sy)", s"greatest(($sx) - 1, 0)")}
      |       + 2 * ${jpegPixF("gid", s"($sy)", s"($sx)")}
      |       + ${jpegPixF("gid", s"($sy)", s"least(($sx) + 1, 255)")}) // 4
      |    ELSE ${jpegPixF("gid", s"($sy)", s"($sx)")} END""".stripMargin

  /** Oracle for mm_phash_agreement_blur_lossy — the BLUR_AGREEMENT
    * chain transplanted onto the REAL-CODEC lossy corpus: both hash
    * chains replayed over the jpegWide formula plane (even docs: the
    * plane the real JPEG roundtrip reproduces bit-exactly; odd docs:
    * its 1-2-1 clamped blur, what the PNG twin encodes), sample
    * combs at the 256x256 resize rule (dHash sx = cx*256//9, DCT
    * sx = gx*8). */
  private def BLUR_LOSSY_AGREEMENT_SQL: String =
    s"""WITH ct(u, x, c) AS (VALUES $dctCosValues),
      |q AS (
      |  SELECT doc_id AS id, doc_id // 2 AS gid, doc_id % 2 AS par
      |  FROM documents),
      |vd AS (
      |  SELECT id, gid, par, cy, cx,
      |    cy * 32 AS sy, cx * 256 // 9 AS sx
      |  FROM q, unnest(range(0, 8)) AS ry(cy), unnest(range(0, 9)) AS rx(cx)),
      |gd AS (
      |  SELECT id, cy, cx, ${jpegBlurLum("sy", "sx")} AS l
      |  FROM vd),
      |bd AS (
      |  SELECT a.id, a.cy * 8 + a.cx AS i,
      |    CASE WHEN b2.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM gd a JOIN gd b2 ON b2.id = a.id AND b2.cy = a.cy
      |    AND b2.cx = a.cx + 1
      |  WHERE a.cx < 8),
      |dp AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM bd x JOIN bd y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3),
      |vc AS (
      |  SELECT id, gid, par, gy, gx, gy * 8 AS sy, gx * 8 AS sx
      |  FROM q, unnest(range(0, 32)) AS ry(gy), unnest(range(0, 32)) AS rx(gx)),
      |gc AS (
      |  SELECT id, gy, gx, ${jpegBlurLum("sy", "sx")} AS l
      |  FROM vc),
      |s1 AS (
      |  SELECT gc.id, ct.u, gc.gy, sum(gc.l * ct.c) AS s
      |  FROM gc JOIN ct ON ct.x = gc.gx GROUP BY 1, 2, 3),
      |co AS (
      |  SELECT s1.id, s1.u, ct.u AS v2, sum(s1.s * ct.c) AS co
      |  FROM s1 JOIN ct ON ct.x = s1.gy GROUP BY 1, 2, 3),
      |ac AS (
      |  SELECT id, u, v2, co,
      |    row_number() OVER (PARTITION BY id ORDER BY co) AS rn
      |  FROM co WHERE NOT (u = 0 AND v2 = 0)),
      |med AS (SELECT id, co AS m FROM ac WHERE rn = 32),
      |bc AS (
      |  SELECT ac.id, ac.u * 8 + ac.v2 - 1 AS i,
      |    CASE WHEN ac.co > med.m THEN 1 ELSE 0 END AS bit
      |  FROM ac JOIN med ON med.id = ac.id),
      |cp AS (
      |  SELECT x.id AS a_id, y.id AS b_id,
      |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
      |      AS hamming
      |  FROM bc x JOIN bc y ON y.i = x.i AND x.id < y.id
      |  GROUP BY 1, 2 HAVING hamming <= 3)
      |SELECT coalesce(d.a_id, c.a_id) AS a_id,
      |  coalesce(d.b_id, c.b_id) AS b_id,
      |  d.a_id IS NOT NULL AS dhash_dup, c.a_id IS NOT NULL AS dct_dup,
      |  d.hamming AS d_hamming, c.hamming AS c_hamming
      |FROM dp d FULL OUTER JOIN cp c
      |  ON d.a_id = c.a_id AND d.b_id = c.b_id""".stripMargin

  /** The per-doc rule of the blur-ACROSS-the-lossy-boundary corpus:
    * even docs round-trip [[Multimodal.synthJpegWide]] through the
    * REAL JPEG decoder (unedited); odd docs take the SAME content's
    * pixel plane, blur it ([[Multimodal.blurH121]] — blur BEFORE
    * encode, the re-encode-an-edited-image pipeline), and round-trip
    * the blurred plane through the REAL PNG codec. */
  private def lossyBlurTwinPixels(id: Long): (Int, Int, Array[Byte]) = {
    val gid = id / 2
    if (id % 2 == 0) {
      val img = Multimodal.decodeJpeg(Multimodal.synthJpegWide(gid, 256, 256))
      (img.width, img.height, Multimodal.grayToRgb(img.pixels))
    } else {
      val px = Multimodal.blurH121(256, 256,
        Multimodal.jpegWidePixels(gid, 256, 256))
      val p = Multimodal.decodePng(Multimodal.encodePng(256, 256, px))
      (p.width, p.height, p.pixels)
    }
  }

  /** BOTH hashes of the blur-across-the-lossy-boundary corpus from
    * ONE real-codec pass ([[blurHashes2]]'s rationale at 256x256
    * payloads, where the decode dominates even more — sf1eq measured
    * the two-frame draft at 17.2 s/10x, decode-bound). */
  private def lossyBlurHashes2(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    memoPersisted(s, dir, "lossyblur2") {
      import s.implicits._
      docIdsSpread(s, dir).as[Long]
        .map { id =>
          val (w, h, px) = lossyBlurTwinPixels(id)
          (id, Multimodal.dhash64(w, h, px), Multimodal.phashDct64(w, h, px))
        }
        .toDF("doc_id", "dh", "ch")
    }

  /** Session-scoped (table, path) for a stored band index — the r13
    * leak fix: mm_phash_index_roundtrip used to create a FRESH temp
    * dir per build (never deleted — the overwrite drops the catalog
    * table, not the previous run's external path) under a FIXED
    * catalog name (two sessions sharing a metastore would race). Now
    * each (session, tag, dir) gets ONE path + ONE session-unique table
    * name, created on first use: re-builds overwrite IN PLACE (zero
    * accumulation), concurrent sessions never collide (uuid suffix),
    * and the JVM-exit sweeper reclaims the dir
    * ([[graft.streaming.Streaming.sweepOnExit]]). The WRITE still
    * happens on every build — it is part of the query's graded work. */
  private val idxStores = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), (String, String)]
  private def idxStore(s: org.apache.spark.sql.SparkSession, tag: String,
      dir: String): (String, String) = {
    graft.core.Sessions.sweepDead(idxStores)(_._1)
    idxStores.computeIfAbsent((graft.core.Sessions.token(s), tag, dir), _ => {
      val root = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
      graft.streaming.Streaming.sweepOnExit(root)
      val uniq = java.util.UUID.randomUUID().toString
        .replace("-", "").take(8)
      (s"graft_${tag}_$uniq", root.resolve("idx").toString)
    })
  }

  /** Stage each frame as EXACTLY ONE parquet file (b00, b01, ...) in a
    * fresh swept temp dir, modTimes pinned 10 s apart in list order —
    * the deterministic-trigger-slicing harness for file-source streams
    * read with maxFilesPerTrigger=1 (FileStreamSource orders pending
    * files by modTime): file i IS trigger i, so a multi-trigger oracle
    * can replay per-trigger state exactly. Fresh dir per call — a
    * re-build must not see the previous run's files. */
  private def stageIdFiles(s: org.apache.spark.sql.SparkSession,
      tag: String, parts: Seq[org.apache.spark.sql.DataFrame]): String = {
    val stage = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    graft.streaming.Streaming.sweepOnExit(stage)
    parts.zipWithIndex.foreach { case (df, i) =>
      val tmp = stage.resolve(s"_stage$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      var src: java.nio.file.Path = null
      try {
        val part = listing.iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
      } finally listing.close() // taking only the iterator leaks the dir fd
      require(src != null, s"no parquet part written under $tmp")
      val dest = stage.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.move(src, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + i * 10000L))
      // drop the writer scaffolding (_SUCCESS, crc, the dir itself) so
      // the file source sees ONLY the staged files
      val rest = java.nio.file.Files.walk(tmp).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      rest.forEach(p => java.nio.file.Files.deleteIfExists(p))
      rest.close()
    }
    stage.toString
  }

  /** Shared verdict oracle for the incremental perceptual pair
    * (mm_phash_incremental / mm_phash_index_roundtrip): all pairs
    * from the single-sourced dHash chain, split into index /
    * earlier-batch legs by the doc family's md5 side rule.
    * Persistence must not change one verdict, so both queries grade
    * against the SAME SQL (the EXACT_KEEP_SQL discipline). */
  /** Shared oracle for the batch-batch maintenance cycle
    * (mm_phash_index_maintenance) AND its compacted twin
    * (mm_phash_maintenance_compacted): ingest b1 vs stored index ->
    * keeper election -> append -> ingest b2 vs the UPDATED index.
    * The compacted twin runs compactBuckets between the append and
    * b2 — grading, through the driver's exact hash gate, that a
    * one-file-per-bucket rewrite changes NO verdict (the
    * EXACT_KEEP_SQL discipline, compaction edition). */
  private def MM_PHASH_MAINT_SQL: String =
    s"""WITH ${PHASH_PAIRS_CTES()},
        |side AS (SELECT doc_id,
        |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '8' THEN 0
        |         WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'c' THEN 1
        |         ELSE 2 END AS g
        |  FROM documents),
        |pboth AS (SELECT a_id AS x, b_id AS y FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |d1i AS (SELECT DISTINCT p.x AS doc_id FROM pboth p
        |  JOIN side sx ON p.x = sx.doc_id
        |  JOIN side sy ON p.y = sy.doc_id
        |  WHERE sx.g = 1 AND sy.g = 0),
        |d1b AS (SELECT DISTINCT b_id AS doc_id FROM pairs
        |  JOIN side sa ON a_id = sa.doc_id
        |  JOIN side sb2 ON b_id = sb2.doc_id
        |  WHERE sa.g = 1 AND sb2.g = 1),
        |v1 AS (SELECT d.doc_id,
        |    d.doc_id IN (SELECT doc_id FROM d1i) AS dup_of_index,
        |    d.doc_id IN (SELECT doc_id FROM d1b) AS dup_of_batch_earlier
        |  FROM documents d JOIN side ON d.doc_id = side.doc_id
        |  WHERE side.g = 1),
        |keep1 AS (SELECT doc_id FROM v1
        |  WHERE NOT dup_of_index AND NOT dup_of_batch_earlier),
        |d2i AS (SELECT DISTINCT p.x AS doc_id FROM pboth p
        |  JOIN side sx ON p.x = sx.doc_id
        |  JOIN side sy ON p.y = sy.doc_id
        |  WHERE sx.g = 2 AND (sy.g = 0
        |    OR p.y IN (SELECT doc_id FROM keep1))),
        |d2b AS (SELECT DISTINCT b_id AS doc_id FROM pairs
        |  JOIN side sa ON a_id = sa.doc_id
        |  JOIN side sb2 ON b_id = sb2.doc_id
        |  WHERE sa.g = 2 AND sb2.g = 2),
        |v2 AS (SELECT d.doc_id,
        |    d.doc_id IN (SELECT doc_id FROM d2i) AS dup_of_index,
        |    d.doc_id IN (SELECT doc_id FROM d2b) AS dup_of_batch_earlier
        |  FROM documents d JOIN side ON d.doc_id = side.doc_id
        |  WHERE side.g = 2),
        |u AS (SELECT 1 AS stage, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2)
        |SELECT doc_id, CAST(stage AS BIGINT) AS stage, dup_of_index,
        |  dup_of_batch_earlier,
        |  NOT dup_of_index AND NOT dup_of_batch_earlier AS keep
        |FROM u""".stripMargin

  /** Shared oracle for the STREAMING maintenance drain
    * (mm_phash_maintenance_stream) AND its self-compacting twin
    * (mm_phash_maintenance_stream_compacted): vs MM_PHASH_MAINT_SQL,
    * no stage column and d2b spans g IN (1, 2) — the cross-trigger
    * band state sees g1 arrivals whether or not they kept. The
    * compacted twin grading against the SAME SQL is the point: an
    * in-loop rewrite between triggers must change no verdict. */
  private def MM_PHASH_MAINT_STREAM_SQL: String =
    s"""WITH ${PHASH_PAIRS_CTES()},
      |side AS (SELECT doc_id,
      |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) < '8' THEN 0
      |         WHEN substr(md5(doc_id::VARCHAR), 1, 1) < 'c' THEN 1
      |         ELSE 2 END AS g
      |  FROM documents),
      |pboth AS (SELECT a_id AS x, b_id AS y FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |d1i AS (SELECT DISTINCT p.x AS doc_id FROM pboth p
      |  JOIN side sx ON p.x = sx.doc_id
      |  JOIN side sy ON p.y = sy.doc_id
      |  WHERE sx.g = 1 AND sy.g = 0),
      |d1b AS (SELECT DISTINCT b_id AS doc_id FROM pairs
      |  JOIN side sa ON a_id = sa.doc_id
      |  JOIN side sb2 ON b_id = sb2.doc_id
      |  WHERE sa.g = 1 AND sb2.g = 1),
      |v1 AS (SELECT d.doc_id,
      |    d.doc_id IN (SELECT doc_id FROM d1i) AS dup_of_index,
      |    d.doc_id IN (SELECT doc_id FROM d1b) AS dup_of_batch_earlier
      |  FROM documents d JOIN side ON d.doc_id = side.doc_id
      |  WHERE side.g = 1),
      |keep1 AS (SELECT doc_id FROM v1
      |  WHERE NOT dup_of_index AND NOT dup_of_batch_earlier),
      |d2i AS (SELECT DISTINCT p.x AS doc_id FROM pboth p
      |  JOIN side sx ON p.x = sx.doc_id
      |  JOIN side sy ON p.y = sy.doc_id
      |  WHERE sx.g = 2 AND (sy.g = 0
      |    OR p.y IN (SELECT doc_id FROM keep1))),
      |d2b AS (SELECT DISTINCT b_id AS doc_id FROM pairs
      |  JOIN side sa ON a_id = sa.doc_id
      |  JOIN side sb2 ON b_id = sb2.doc_id
      |  WHERE sb2.g = 2 AND sa.g IN (1, 2)),
      |v2 AS (SELECT d.doc_id,
      |    d.doc_id IN (SELECT doc_id FROM d2i) AS dup_of_index,
      |    d.doc_id IN (SELECT doc_id FROM d2b) AS dup_of_batch_earlier
      |  FROM documents d JOIN side ON d.doc_id = side.doc_id
      |  WHERE side.g = 2),
      |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
      |SELECT doc_id, dup_of_index, dup_of_batch_earlier,
      |  NOT dup_of_index AND NOT dup_of_batch_earlier AS keep
      |FROM u""".stripMargin

  /** Shared build of the streaming maintenance drain: g0 -> stored
    * bucketed index; g1/g2 staged as one file per trigger
    * (modTime-pinned slicing); decode+hash in the stateless map;
    * hashDedupMaintStream folds each trigger against the CURRENT
    * index files and appends its keepers' chunks in-loop.
    * `compactAt` threads to compactAtFilesPerBucket — Some(0) makes
    * compactIfFragmented fire after every trigger's append. */
  private def maintStreamBuild(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String,
      compactAt: Option[Int]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    import graft.streaming.Streaming
    val hashes = perceptualHashes(s, dir, 128, "dhash")
    val c = substring(md5(col("doc_id").cast("string")), 1, 1)
    val (table, path) = idxStore(s, tag, dir)
    graft.sources.BucketedStore.write(
      Dedup.simhashChunks(hashes.filter(c < "8"), maxDist = 3),
      table, path, Seq("cidx", "cval"), buckets = 8)
    val dc = substring(md5(col("doc_id").cast("string")), 1, 1)
    val stage = stageIdFiles(s, "maint_arrivals", Seq(
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(dc >= "8" && dc < "c"),
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(dc >= "c")))
    val arrivals = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
      // docIdsSpread IN-STREAM (r16): one staged file per trigger =
      // one scan partition, so the decode map ran single-threaded per
      // trigger; spreading bare ids inside each micro-batch keeps
      // trigger membership (and therefore every verdict) identical
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[Long]
      .map(id => (id, (id + 1) * 1000000L,
        perceptualHashOf(id, 128, Multimodal.dhash64)))
    Streaming.hashDedupMaintStream(arrivals, maxDist = 3,
      watermarkDelayMs = 31536000000L, indexTable = table,
      compactAtFilesPerBucket = compactAt,
      // shard count derived from input size (corpusStateShards
      // scaladoc): no-op at scale, 8 shards at bench SF
      statePartitions = Streaming.corpusStateShards(s,
        s"$dir/documents.parquet"))
  }

  private def MM_PHASH_INCR_SQL: String =
    s"""WITH ${PHASH_PAIRS_CTES()},
      |side AS (SELECT doc_id,
      |    substr(md5(doc_id::VARCHAR), 1, 1) < 'a' AS is_idx
      |  FROM documents),
      |pboth AS (SELECT a_id AS x, b_id AS y FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |di AS (SELECT DISTINCT p.x AS doc_id FROM pboth p
      |  JOIN side sx ON p.x = sx.doc_id
      |  JOIN side sy ON p.y = sy.doc_id
      |  WHERE NOT sx.is_idx AND sy.is_idx),
      |db AS (SELECT DISTINCT b_id AS doc_id FROM pairs
      |  JOIN side sa ON a_id = sa.doc_id
      |  JOIN side sb2 ON b_id = sb2.doc_id
      |  WHERE NOT sa.is_idx AND NOT sb2.is_idx)
      |SELECT d.doc_id,
      |  d.doc_id IN (SELECT doc_id FROM di) AS dup_of_index,
      |  d.doc_id IN (SELECT doc_id FROM db) AS dup_of_batch_earlier,
      |  d.doc_id NOT IN (SELECT doc_id FROM di)
      |    AND d.doc_id NOT IN (SELECT doc_id FROM db) AS keep
      |FROM documents d JOIN side ON d.doc_id = side.doc_id
      |WHERE NOT side.is_idx""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Typed batch feature extraction over binary payloads. Entropy is
    // rounded 4dp (fp log sums; engines bin in different orders).
    "mm_media_features" -> QueryDef(
      """SELECT id, modality, n_bytes, mean_byte, round(entropy, 4) AS entropy,
        |  64 + (n_bytes % 512) AS width,
        |  64 + ((n_bytes // 2) % 512) AS height
        |FROM (
        |  SELECT doc_id AS id,
        |    ['image','audio','video'][(doc_id % 3 + 1)::INT] AS modality,
        |    length(text) AS n_bytes,
        |    coalesce((SELECT sum(unicode(c))*1.0/length(d.text)
        |     FROM unnest(string_split(d.text,'')) AS u(c)
        |     WHERE length(d.text) > 0), 0.0) AS mean_byte,
        |    coalesce((SELECT -sum(p * log2(p)) FROM (
        |       SELECT count(*)*1.0/length(d.text) AS p
        |       FROM unnest(string_split(d.text,'')) AS u(c)
        |       WHERE length(d.text) > 0 GROUP BY c)), 0.0) + 0.0 AS entropy
        |  FROM documents d) t""".stripMargin) { (s, dir) =>
      Multimodal.extractFeatures(media(s, dir)).toDF()
        .withColumn("entropy", round(col("entropy"), 4))
        .select("id", "modality", "n_bytes", "mean_byte", "entropy",
          "width", "height")
    },

    // Audio-style hop/window framing: 32-byte windows every 24 bytes,
    // exact integer features (mean as one division, peak) — no
    // rounding anywhere.
    "mm_payload_windows" -> QueryDef(
      """SELECT doc_id AS id, w AS win_idx, w * 24 AS win_start,
        |  (SELECT sum(unicode(c)) * 1.0 / 32
        |   FROM unnest(string_split(substr(d.text, 1 + (w*24)::INT, 32), '')) AS u(c))
        |    AS mean_byte,
        |  (SELECT max(unicode(c))
        |   FROM unnest(string_split(substr(d.text, 1 + (w*24)::INT, 32), '')) AS u(c))
        |    AS peak
        |FROM documents d,
        |  unnest(range(0, (length(text) - 32) // 24 + 1)) AS r(w)
        |WHERE length(text) >= 32""".stripMargin) { (s, dir) =>
      Multimodal.windowFeatures(media(s, dir), windowLen = 32, hop = 24).toDF()
        .withColumn("peak", col("peak").cast("int"))
    },

    // Frame sampling: 4 evenly-spaced 16-byte windows, md5-identified.
    "mm_frame_sample" -> QueryDef(
      """SELECT doc_id AS id, i AS frame_idx,
        |  md5(substr(text, 1 + (i * (length(text) - 16) // 3)::INT, 16)) AS frame_md5
        |FROM documents, unnest([0,1,2,3]) AS u(i)
        |WHERE length(text) >= 16""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(media(s, dir), nFrames = 4, frameLen = 16).toDF()
    },

    // REAL WAV DECODE round-trip: per doc, a valid RIFF/WAVE PCM16
    // file is synthesized from the integer sample formula, parsed by
    // the REAL chunk-walking decoder, and integer audio features
    // (duration, sum|s|, strict-sign zero crossings, peak) computed
    // from the DECODED samples. The oracle regenerates the formula
    // directly — a wrong endianness, chunk offset, or sample width in
    // the parser diverges the hash. Decode is no longer a stub for
    // uncompressed containers.
    "mm_wav_decode" -> QueryDef(
      """WITH s AS (
        |  SELECT doc_id AS id, i,
        |    CAST(((doc_id % 65536) * 2654435761 + i * 40503) % 65536 - 32768 AS BIGINT) AS v
        |  FROM documents, unnest(range(0, 256)) AS r(i)),
        |l AS (SELECT id, i, v,
        |    lag(v) OVER (PARTITION BY id ORDER BY i) AS pv FROM s)
        |SELECT id, CAST(16000 AS BIGINT) AS sample_rate,
        |  count(*) AS n_samples,
        |  CAST(count(*) * 1000000 // 16000 AS BIGINT) AS duration_us,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND v * pv < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
        |FROM l GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val a = Multimodal.decodeWav(Multimodal.synthWav(id, 256, 16000))
          var sumAbs = 0L
          var zc = 0L
          var peak = 0L
          var i = 0
          while (i < a.samples.length) {
            val v = a.samples(i).toLong
            sumAbs += math.abs(v)
            if (math.abs(v) > peak) peak = math.abs(v)
            if (i > 0 && v * a.samples(i - 1).toLong < 0) zc += 1
            i += 1
          }
          (id, a.sampleRate.toLong, a.samples.length.toLong,
            a.samples.length.toLong * 1000000L / a.sampleRate, sumAbs, zc, peak)
        }
        .toDF("id", "sample_rate", "n_samples", "duration_us", "sum_abs",
          "zero_crossings", "peak_abs")
    },

    // REAL BMP DECODE + RESIZE round-trip: a 13x7 24-bpp BMP (width 13
    // FORCES 4-byte row padding; storage is bottom-up — the two layout
    // quirks naive readers get wrong), decoded by the real parser,
    // then nearest-neighbor resized to 4x4. The oracle recomputes the
    // pixel formula in logical order; the POSITION-WEIGHTED checksums
    // (sum k*b) are order-sensitive, so a decoder that misorders rows
    // or counts padding bytes fails the hash, as does any resize
    // source-index error.
    "mm_bmp_decode" -> QueryDef(
      """WITH p AS (SELECT doc_id AS id, k,
        |    CAST(((doc_id * 31 + k) * 97) % 256 AS BIGINT) AS b
        |  FROM documents, unnest(range(0, 273)) AS r(k)),
        |f AS (SELECT id, CAST(sum(b) AS BIGINT) AS pix_sum,
        |    CAST(sum(k * b) AS BIGINT) AS pix_wsum FROM p GROUP BY 1),
        |rz AS (SELECT d.doc_id AS id, (y * 4 + x) * 3 + c AS rk,
        |    CAST(((d.doc_id * 31 +
        |      (((y * 7 // 4) * 13 + (x * 13 // 4)) * 3 + c)) * 97) % 256
        |      AS BIGINT) AS b
        |  FROM documents d, unnest(range(0, 4)) AS ry(y),
        |    unnest(range(0, 4)) AS rx(x), unnest(range(0, 3)) AS rc(c)),
        |rs AS (SELECT id, CAST(sum(rk * b) AS BIGINT) AS resized_wsum
        |  FROM rz GROUP BY 1)
        |SELECT f.id, CAST(13 AS BIGINT) AS width, CAST(7 AS BIGINT) AS height,
        |  CAST(24 AS BIGINT) AS bpp, pix_sum, pix_wsum, resized_wsum
        |FROM f JOIN rs ON rs.id = f.id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.decodeBmp(Multimodal.synthBmp(id, 13, 7))
          val rz = Multimodal.resizeNearest(img, 4, 4)
          var ps = 0L
          var pw = 0L
          var k = 0
          while (k < img.pixels.length) {
            val b = (img.pixels(k) & 0xFF).toLong
            ps += b
            pw += k * b
            k += 1
          }
          var rw = 0L
          k = 0
          while (k < rz.pixels.length) {
            rw += k * (rz.pixels(k) & 0xFF).toLong
            k += 1
          }
          (id, img.width.toLong, img.height.toLong, img.bpp.toLong, ps, pw, rw)
        }
        .toDF("id", "width", "height", "bpp", "pix_sum", "pix_wsum",
          "resized_wsum")
    },

    // REAL PNG DECODE round-trip: an 11x6 8-bit RGB PNG per doc —
    // scanline filters cycle y mod 5 through None/Sub/Up/Average/
    // Paeth (all five the spec defines; 6 rows cover each at least
    // once), the filtered stream zlib-DEFLATEd, the IDAT split across
    // two chunks, every chunk CRC-stamped. The decoder must verify
    // CRCs, concatenate IDATs, inflate, and invert every filter to
    // reconstruct the formula's bytes — the oracle recomputes the
    // formula directly, and the position-weighted checksum fails on
    // any filter/inflate/chunk-walk error. The first COMPRESSED format
    // decoded for real (WAV/BMP are uncompressed containers).
    "mm_png_decode" -> QueryDef(
      """WITH p AS (SELECT doc_id AS id, k,
        |    CAST(((doc_id * 31 + k) * 97) % 256 AS BIGINT) AS b
        |  FROM documents, unnest(range(0, 198)) AS r(k))
        |SELECT id, CAST(11 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        |  CAST(sum(b) AS BIGINT) AS pix_sum,
        |  CAST(sum(k * b) AS BIGINT) AS pix_wsum
        |FROM p GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.decodePng(Multimodal.synthPng(id, 11, 6))
          var ps = 0L
          var pw = 0L
          var k = 0
          while (k < img.pixels.length) {
            val b = (img.pixels(k) & 0xFF).toLong
            ps += b
            pw += k * b
            k += 1
          }
          (id, img.width.toLong, img.height.toLong, ps, pw)
        }
        .toDF("id", "width", "height", "pix_sum", "pix_wsum")
    },

    // REAL GIF DECODE round-trip: a 15x22 GIF89a per doc (330 noisy
    // pixels — the LZW dictionary crosses the 128- and 256-entry
    // boundaries, so the variable code width grows 7->8->9 bits inside
    // every graded payload), compressed by a REAL dictionary LZW
    // encoder and decoded by the full variable-width decoder
    // (clear/EOI, KwKwK, sub-block framing, extension skip). The
    // oracle recomputes palette[pixel-formula] directly; the
    // position-weighted checksum fails on any dictionary, width-bump,
    // or palette-indexing error.
    "mm_gif_decode" -> QueryDef(
      """WITH g AS (SELECT doc_id AS id, k,
        |    ((doc_id * 31 + (k // 3)) * 97) % 256 % 64 AS ix, k % 3 AS c
        |  FROM documents, unnest(range(0, 990)) AS r(k)),
        |p AS (SELECT id, k, CAST(CASE c WHEN 0 THEN (ix * 37) % 256
        |    WHEN 1 THEN (ix * 91 + 17) % 256
        |    ELSE (ix * 53 + 101) % 256 END AS BIGINT) AS b FROM g)
        |SELECT id, CAST(15 AS BIGINT) AS width, CAST(22 AS BIGINT) AS height,
        |  CAST(sum(b) AS BIGINT) AS pix_sum,
        |  CAST(sum(k * b) AS BIGINT) AS pix_wsum
        |FROM p GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.decodeGif(Multimodal.synthGif(id, 15, 22))
          var ps = 0L
          var pw = 0L
          var k = 0
          val n = img.width * img.height * 3
          while (k < n) {
            val b = img.rgb(k).toLong
            ps += b
            pw += k * b
            k += 1
          }
          (id, img.width.toLong, img.height.toLong, ps, pw)
        }
        .toDF("id", "width", "height", "pix_sum", "pix_wsum")
    },

    // REAL ANIMATED GIF decode (r11): a 4-frame 11x9 GIF89a per doc —
    // per-frame graphic-control extensions, four image blocks, the LZW
    // dictionary reset at every block. Frame f's pixel (y·w+x) rides
    // the frame-OFFSET formula synthPixelByte(id, f·w·h + y·w+x) mod
    // 64, so a decoder that repeats frame 0, miscounts frames, or
    // leaks dictionary state across blocks fails the position-weighted
    // checksum over the concatenated frame bytes (global byte position
    // k = f·w·h·3 + in-frame byte). The oracle replays palette[formula]
    // directly, exactly like mm_gif_decode with the frame dimension
    // unrolled into the range.
    "mm_gif_frames" -> QueryDef(
      """WITH g AS (SELECT doc_id AS id, k, k // 297 AS f,
        |    ((doc_id * 31 + ((k // 297) * 99 + (k % 297) // 3)) * 97)
        |      % 256 % 64 AS ix, k % 3 AS c
        |  FROM documents, unnest(range(0, 1188)) AS r(k)),
        |p AS (SELECT id, k, CAST(CASE c WHEN 0 THEN (ix * 37) % 256
        |    WHEN 1 THEN (ix * 91 + 17) % 256
        |    ELSE (ix * 53 + 101) % 256 END AS BIGINT) AS b FROM g)
        |SELECT id, CAST(4 AS BIGINT) AS n_frames,
        |  CAST(11 AS BIGINT) AS width, CAST(9 AS BIGINT) AS height,
        |  CAST(sum(b) AS BIGINT) AS pix_sum,
        |  CAST(sum(k * b) AS BIGINT) AS pix_wsum
        |FROM p GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val frames = Multimodal.decodeGifFrames(
            Multimodal.synthGifAnimated(id, 11, 9, 4))
          var ps = 0L
          var pw = 0L
          var f = 0
          var base = 0L // running global byte offset (r12: correct even
          //              for mixed-size frames — never f * current n)
          while (f < frames.length) {
            val img = frames(f)
            val n = img.width * img.height * 3
            var kb = 0
            while (kb < n) {
              val b = img.rgb(kb).toLong
              val k = base + kb
              ps += b
              pw += k * b
              kb += 1
            }
            base += n
            f += 1
          }
          (id, frames.length.toLong, frames(0).width.toLong,
            frames(0).height.toLong, ps, pw)
        }
        .toDF("id", "n_frames", "width", "height", "pix_sum", "pix_wsum")
    },

    // REAL baseline JPEG DECODE round-trip: a 20x12 grayscale JFIF per
    // doc — marker walk, DQT/DHT table parsing (canonical Huffman
    // reconstruction), entropy decode with DC prediction and 0xFF00
    // unstuffing, dequant through the zigzag, full 2D IDCT, and the
    // non-multiple-of-8 MCU crop (20x12 -> 3x2 blocks of which the
    // right/bottom edges are cropped). The payload is BLOCK-CONSTANT
    // with even offsets and DC quant step 16, so the lossy roundtrip
    // is bit-exact (Multimodal scaladoc) and the oracle replays the
    // pixel formula directly: block(x,y) = (y//8)*3 + x//8, v = 128 +
    // 2*(synthPixelByte(id, block) % 64 - 32). The position-weighted
    // checksum fails on any Huffman, prediction, dequant, IDCT or crop
    // error.
    "mm_jpeg_decode" -> QueryDef(
      """WITH p AS (SELECT doc_id AS id, k,
        |    CAST(64 + 2 * (((doc_id * 31
        |        + ((k // 20) // 8) * 3 + (k % 20) // 8) * 97)
        |      % 256 % 64) AS BIGINT) AS b
        |  FROM documents, unnest(range(0, 240)) AS r(k))
        |SELECT id, CAST(20 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |  CAST(sum(b) AS BIGINT) AS pix_sum,
        |  CAST(sum(k * b) AS BIGINT) AS pix_wsum
        |FROM p GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val img = Multimodal.decodeJpeg(Multimodal.synthJpeg(id, 20, 12))
          var ps = 0L
          var pw = 0L
          var k = 0
          while (k < img.pixels.length) {
            val b = img.pixels(k).toLong
            ps += b
            pw += k * b
            k += 1
          }
          (id, img.width.toLong, img.height.toLong, ps, pw)
        }
        .toDF("id", "width", "height", "pix_sum", "pix_wsum")
    },

    // REAL baseline COLOR JPEG (YCbCr 4:2:0) DECODE round-trip: a
    // 24x20 three-component JFIF per doc — interleaved 4-Y+Cb+Cr MCUs,
    // per-component DC prediction and quant/Huffman table SELECTION
    // (chroma rides table id 1), box chroma upsample, fixed-point
    // YCbCr->RGB. The payload is block-constant per component (Y per
    // 8x8 block of the unpadded 3x3 grid, chroma per 16x16 MCU of the
    // 2x2 grid), so the lossy YCbCr roundtrip is bit-exact (the
    // synthJpeg argument per component) and the RGB transform is
    // integer arithmetic the oracle replays verbatim: the dividend is
    // biased by 512<<16 so truncating (DuckDB //) and flooring
    // (Scala >>) division coincide. The position-weighted RGB checksum
    // fails on any interleave, prediction, table-selection, upsample
    // or transform error.
    "mm_jpeg_color_decode" -> QueryDef(
      """WITH p AS (SELECT doc_id AS id, k, k % 24 AS x, k // 24 AS y
        |  FROM documents, unnest(range(0, 480)) AS r(k)),
        |c AS (SELECT id, k,
        |    64 + 2 * (((id * 31 + (y // 8) * 3 + x // 8) * 97)
        |      % 256 % 64) AS yv,
        |    64 + 2 * (((id * 31 + 100000 + (y // 16) * 2 + x // 16) * 97)
        |      % 256 % 64) - 128 AS cb,
        |    64 + 2 * (((id * 31 + 200000 + (y // 16) * 2 + x // 16) * 97)
        |      % 256 % 64) - 128 AS cr
        |  FROM p),
        |g AS (SELECT id, k,
        |    greatest(0, least(255, (65536 * yv + 32768 + 33554432
        |      + 91881 * cr) // 65536 - 512)) AS r,
        |    greatest(0, least(255, (65536 * yv + 32768 + 33554432
        |      - 22554 * cb - 46802 * cr) // 65536 - 512)) AS g,
        |    greatest(0, least(255, (65536 * yv + 32768 + 33554432
        |      + 116130 * cb) // 65536 - 512)) AS b
        |  FROM c)
        |SELECT id, CAST(24 AS BIGINT) AS width, CAST(20 AS BIGINT) AS height,
        |  CAST(sum(r + g + b) AS BIGINT) AS pix_sum,
        |  CAST(sum((3 * k) * r + (3 * k + 1) * g + (3 * k + 2) * b)
        |    AS BIGINT) AS pix_wsum
        |FROM g GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val img =
            Multimodal.decodeJpegColor(Multimodal.synthJpegColor(id, 24, 20))
          var ps = 0L
          var pw = 0L
          var k = 0
          while (k < img.rgb.length) {
            val b = img.rgb(k).toLong
            ps += b
            pw += k * b
            k += 1
          }
          (id, img.width.toLong, img.height.toLong, ps, pw)
        }
        .toDF("id", "width", "height", "pix_sum", "pix_wsum")
    },

    // COMPOSITED ANIMATED GIF (r12): the viewer-facing half of the
    // animation contract — decodeGifFrames' raw frames REPLAYED onto
    // the logical screen with graphic-control semantics: frames drawn
    // at their (left, top) offsets, transparent-index pixels leaving
    // the canvas through, disposal 1/2/3 (leave / restore rect to
    // background / restore to previous) applied between frames. The
    // synth exercises ALL of it in 4 frames: a full-screen opaque
    // base, a transparent partial frame that disposes to background,
    // an opaque partial frame that disposes to previous, and a
    // transparent strip. The oracle replays the composite rule as a
    // closed-form CASE over rect membership + the transparency
    // condition (disposal-2's rect restore makes the post-f1 canvas
    // "rect1 -> bg index 0, else frame-0 formula"; disposal-3 restores
    // exactly that canvas after f2) — any offset, transparency-skip,
    // or disposal error on the Spark side diverges the
    // position-weighted checksum over the concatenated 13x11 canvases.
    "mm_gif_composite" -> QueryDef(
      """WITH cell AS (
        |  SELECT doc_id AS id, f, y, x,
        |    ((doc_id*31 + (y*13 + x))*97) % 256 % 64 AS i0,
        |    ((doc_id*31 + (143 + y*13 + x))*97) % 256 % 64 AS i1,
        |    ((doc_id*31 + (286 + y*13 + x))*97) % 256 % 64 AS i2,
        |    ((doc_id*31 + (429 + y*13 + x))*97) % 256 % 64 AS i3,
        |    (x BETWEEN 3 AND 9 AND y BETWEEN 2 AND 6) AS r1,
        |    (x BETWEEN 5 AND 10 AND y BETWEEN 4 AND 7) AS r2,
        |    (y BETWEEN 8 AND 10) AS r3
        |  FROM documents, unnest(range(0, 4)) AS rf(f),
        |    unnest(range(0, 11)) AS ry(y), unnest(range(0, 13)) AS rx(x)),
        |vw AS (
        |  SELECT id, f, y, x,
        |    CASE f
        |      WHEN 0 THEN i0
        |      WHEN 1 THEN CASE WHEN r1 AND i1 != 63 THEN i1 ELSE i0 END
        |      WHEN 2 THEN CASE WHEN r2 THEN i2 WHEN r1 THEN 0 ELSE i0 END
        |      ELSE CASE WHEN r3 AND i3 != 63 THEN i3
        |        WHEN r1 THEN 0 ELSE i0 END
        |    END AS v
        |  FROM cell),
        |p AS (
        |  SELECT id, f*429 + (y*13 + x)*3 + c AS k,
        |    CAST(CASE c WHEN 0 THEN (v*37) % 256
        |      WHEN 1 THEN (v*91 + 17) % 256
        |      ELSE (v*53 + 101) % 256 END AS BIGINT) AS b
        |  FROM vw, unnest(range(0, 3)) AS rc(c))
        |SELECT id, CAST(4 AS BIGINT) AS n_frames,
        |  CAST(13 AS BIGINT) AS width, CAST(11 AS BIGINT) AS height,
        |  CAST(sum(b) AS BIGINT) AS pix_sum,
        |  CAST(sum(k * b) AS BIGINT) AS pix_wsum
        |FROM p GROUP BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { id =>
          val frames = Multimodal.compositeGifFrames(
            Multimodal.synthGifComposited(id, 13, 11))
          var ps = 0L
          var pw = 0L
          var base = 0L
          frames.foreach { img =>
            val n = img.width * img.height * 3
            var kb = 0
            while (kb < n) {
              val b = (img.pixels(kb) & 0xff).toLong
              ps += b
              pw += (base + kb) * b
              kb += 1
            }
            base += n
          }
          (id, frames.length.toLong, frames(0).width.toLong,
            frames(0).height.toLong, ps, pw)
        }
        .toDF("id", "n_frames", "width", "height", "pix_sum", "pix_wsum")
    },

    // PERCEPTUAL IMAGE NEAR-DUP (r12): the operator that connects the
    // real codecs to the banded-Hamming dedup family. Per doc, a 19x17
    // grayscale image keyed by gid = doc_id/2 (so consecutive docs
    // PAIR on content) is encoded through a DIFFERENT codec per parity
    // — even docs PNG, odd docs BMP — decoded by the REAL decoders,
    // dHashed (Multimodal.dhash64: 9x8 nearest-resize grid, integer
    // luma, horizontal gradient sign bits), and near-dup pairs found
    // by Dedup.simhashPairs' 16-bit chunk-pair banding + popcount
    // verify at hamming <= 3. Every 5th gid additionally perturbs the
    // ODD twin's one sampled cell by +128 mod 256, so the graded
    // output exercises hamming > 0 matches, not only exact collisions.
    //
    // The oracle replays the integer hash formula over the synth pixel
    // formulas (the mm_gif_frames discipline): sampled-grid luma ==
    // the pixel formula at src = (cy*17//8, cx*19//9) (channels equal,
    // 299+587+114 = 1000 => luma == v exactly), gradient bits, ALL-
    // pairs hamming <= 3 — no banding replay needed because chunk-pair
    // banding is pigeonhole-EXACT for hamming <= 6 (the simhashPairs
    // theorem) and the 1024 cap cannot trip below 1024 docs SHARING A
    // BAND VALUE — impossible at the 500-doc grading corpus (at bench
    // scales the cap may bite, but no oracle compare runs there).
    // A decoder that misorders rows, botches a filter, or breaks the
    // resize index rule hashes differently on the SPARK side only and
    // fails the compare; so does any dHash/banding drift.
    "mm_phash_dups" -> QueryDef(
      s"""WITH ${PHASH_PAIRS_CTES()}
        |SELECT a_id, b_id, hamming FROM pairs""".stripMargin) { (s, dir) =>
      import graft.operators.Dedup
      // IN-BUCKET pair scoring, not the band self-join: dHash bits are
      // Markov-correlated (adjacent bits share a grid cell), so a few
      // chunk patterns are population-heavy and the join form's
      // sort+pair volume goes quadratic on them — the bucketed form
      // verifies pairs inside each capped bucket group and only
      // survivors ever shuffle (measured at 15M docs, SCALE.md r12)
      Dedup.simhashPairsBucketed(
        perceptualHashes(s, dir, 128, "dhash"),
        maxDist = 3, maxBucket = 1024)
        .withColumn("hamming", col("hamming").cast("long"))
    },

    // PERCEPTUAL DCT HASH NEAR-DUP (r12): the LOSSY-boundary companion
    // to mm_phash_dups. Same corpus shape (gid-paired docs, PNG vs BMP
    // per parity, every 5th gid's odd twin perturbed — here by a SMALL
    // +24 so the low-frequency coefficient shifts stay within the
    // radius on most gids; the ones that escape drop out of BOTH
    // engines identically), but the hash is Multimodal.phashDct64: a
    // separable fixed-point 2D DCT-II over a 32x32 nearest-resize,
    // bits = coefficient > median of the 63 non-DC coefficients. The
    // oracle is the single-sourced DCT_PAIRS_CTES formula replay —
    // ALL-pairs hamming <= 3, exact vs the engine's 4-band
    // disjoint-pair banding by pigeonhole, and the 1024 cap cannot
    // trip below 1024 docs sharing a band value (impossible at the
    // 500-doc grading corpus).
    "mm_phash_dct_dups" -> QueryDef(
      s"""WITH ${DCT_PAIRS_CTES()}
        |SELECT a_id, b_id, hamming FROM pairs""".stripMargin) { (s, dir) =>
      import graft.operators.Dedup
      Dedup.simhashPairsBucketed(
        perceptualHashes(s, dir, 24, "dct"),
        maxDist = 3, maxBucket = 1024)
        .withColumn("hamming", col("hamming").cast("long"))
    },

    // LOSSY-BOUNDARY PERCEPTUAL NEAR-DUP (r13): the DCT hash graded at
    // the thing it exists for — pairing a REAL JPEG against a REAL PNG
    // of the same content. mm_phash_dct_dups pairs PNG vs BMP (both
    // lossless); here even docs round-trip synthJpegWide through the
    // real JPEG decoder (Huffman, DC prediction, dequant, IDCT, crop)
    // and odd docs encode the same pixels (jpegWidePixels) through the
    // real PNG codec, gid-paired on content. The payload is 256x256
    // block-constant DC-only (quant step 16), so the JPEG roundtrip is
    // bit-exact and the oracle replays the decoded pixels from the
    // block formula alone — jpegBlockMWide, a quadratic mix MOD THE
    // PRIME 251 folded to the 64-level DC alphabet (a mod-64 draft
    // collapsed: b^2 on a 32-wide block grid loses all gy terms mod
    // 64, giving degenerate spectra, unrelated-gid hamming-0
    // collisions, and 25-bit one-pixel perturbation flips; measured,
    // SCALE.md r13). 256x256 makes phashDct64's 32x32 grid sample one
    // pixel per DISTINCT block (b = gy*32 + gx), so the sampled grid
    // is full-entropy; measured at 2500 gids: ZERO unrelated pairs
    // within radius, min cross distance 6. Every 5th gid perturbs the
    // odd twin's one sampled pixel by +24 (no mod-256 wrap: values <=
    // 190 + 24): typically ONE low-frequency coefficient crosses the
    // median, flipping that bit plus a median-rank partner — hamming-2
    // matches ACROSS the codec boundary (172 of 500 perturbed at sf0.1
    // scale; escapes > 3 drop out of BOTH engines identically). The
    // DCT/median/all-pairs tail is the mm_phash_dct_dups chain
    // verbatim; banding is pigeonhole-exact at hamming <= 3 and the
    // 1024 cap cannot trip below 1024 docs sharing a band value.
    "mm_phash_lossy_dups" -> QueryDef(
      s"""WITH ct(u, x, c) AS (VALUES $dctCosValues),
        |q AS (
        |  SELECT doc_id AS id, doc_id // 2 AS gid,
        |    (doc_id % 2 = 1 AND (doc_id // 2) % 5 = 0) AS pert
        |  FROM documents),
        |v AS (
        |  SELECT q.id, q.gid, q.pert, gy, gx, gy * 32 + gx AS b
        |  FROM q, unnest(range(0, 32)) AS ry(gy), unnest(range(0, 32)) AS rx(gx)),
        |g AS (
        |  SELECT id, gy, gx,
        |    64 + 2 * ((((gid * 31 + b) * 97 + (gid * 7 + 13) * b * b
        |        + (gid // 251) * (59 * b + 17)) % 251) % 64)
        |      + CASE WHEN pert AND gy = gid % 32 AND gx = (gid * 7) % 32
        |          THEN 24 ELSE 0 END AS l
        |  FROM v),
        |s1 AS (
        |  SELECT g.id, ct.u, g.gy, sum(g.l * ct.c) AS s
        |  FROM g JOIN ct ON ct.x = g.gx GROUP BY 1, 2, 3),
        |co AS (
        |  SELECT s1.id, s1.u, ct.u AS v2, sum(s1.s * ct.c) AS co
        |  FROM s1 JOIN ct ON ct.x = s1.gy GROUP BY 1, 2, 3),
        |ac AS (
        |  SELECT id, u, v2, co,
        |    row_number() OVER (PARTITION BY id ORDER BY co) AS rn
        |  FROM co WHERE NOT (u = 0 AND v2 = 0)),
        |med AS (SELECT id, co AS m FROM ac WHERE rn = 32),
        |b AS (
        |  SELECT ac.id, ac.u * 8 + ac.v2 - 1 AS i,
        |    CASE WHEN ac.co > med.m THEN 1 ELSE 0 END AS bit
        |  FROM ac JOIN med ON med.id = ac.id)
        |SELECT x.id AS a_id, y.id AS b_id,
        |  CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hamming
        |FROM b x JOIN b y ON y.i = x.i AND x.id < y.id
        |GROUP BY 1, 2 HAVING hamming <= 3""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.Dedup
      val hashes = docIdsSpread(s, dir).as[Long]
        .map(id => (id, lossyHashOf(id)))
        .toDF("doc_id", "simhash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.simhashPairsBucketed(hashes, maxDist = 3, maxBucket = 1024)
        .withColumn("hamming", col("hamming").cast("long"))
    },

    // dHASH vs DCT AGREEMENT (r13): the method-agreement discipline of
    // doc_dedup_verdict_report applied to the image family — r12's JDK
    // differential showed the two hashes complementary BY REGIME
    // (dHash tracks local gradients, DCT low-frequency structure), and
    // this grades that claim per pair: ONE corpus (the DCT query's
    // delta=24 rule) hashed BOTH ways, each hash's near-dup pair set
    // mined through the same banded machinery, full-outer-joined. The
    // production read: (T,T) pairs are safe under either hash, (T,F)/
    // (F,T) pairs are what switching hashes would gain/lose. On this
    // corpus the +24 single-pixel class lands 245 (T,T) + 5 (T,F) at
    // sf0.01 — dHash tolerates small luma shifts that push the DCT
    // spectrum past the radius; the (F,T) regime (blur/low-frequency-
    // preserving edits) is pinned by the r12 JDK-differential spec,
    // which is unit-level by necessity (JDK JPEG is not SQL-replayable).
    // Oracle: the two single-sourced chains (PHASH_PAIRS_CTES at delta
    // 24, DCT_PAIRS_CTES) spliced as nested-WITH CTEs, same outer join.
    "mm_phash_agreement" -> QueryDef(
      s"""WITH dp AS (
        |  WITH ${PHASH_PAIRS_CTES("TRUE", 24)}
        |  SELECT a_id, b_id, hamming FROM pairs),
        |cp AS (
        |  WITH ${DCT_PAIRS_CTES()}
        |  SELECT a_id, b_id, hamming FROM pairs)
        |SELECT coalesce(d.a_id, c.a_id) AS a_id,
        |  coalesce(d.b_id, c.b_id) AS b_id,
        |  d.a_id IS NOT NULL AS dhash_dup, c.a_id IS NOT NULL AS dct_dup,
        |  d.hamming AS d_hamming, c.hamming AS c_hamming
        |FROM dp d FULL OUTER JOIN cp c
        |  ON d.a_id = c.a_id AND d.b_id = c.b_id""".stripMargin) { (s, dir) =>
      import graft.operators.Dedup
      // decode-once-hash-twice (r16): both legs read ONE persisted
      // decode pass — see perceptualHashesDual
      val dual = perceptualHashesDual(s, dir, 24)
      val dh = Dedup.simhashPairsBucketed(
          dual.select(col("doc_id"), col("dh").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("d_hamming"))
      val ch = Dedup.simhashPairsBucketed(
          dual.select(col("doc_id"), col("ch").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("c_hamming"))
      dh.join(ch, Seq("a_id", "b_id"), "full_outer")
        .select(col("a_id"), col("b_id"),
          col("d_hamming").isNotNull.as("dhash_dup"),
          col("c_hamming").isNotNull.as("dct_dup"),
          col("d_hamming"), col("c_hamming"))
    },

    // dHASH vs DCT AGREEMENT, BLUR REGIME (r14; closes the r13
    // verdict's (F,T) gap): the agreement matrix's missing cell —
    // "DCT catches what dHash misses" — graded end-to-end instead of
    // unit-pinned. The corpus pairs each even doc with an odd twin
    // run through the exact-integer 1-2-1 horizontal blur
    // (Multimodal.blurH121, elected by tools/BlurRegimeProbe: it
    // attacks the adjacent-pixel gradients dHash keys on while the
    // low 8x8 DCT spectrum survives). At sf0.01 the twins land ~43
    // (F,T) + ~32 (T,F) + ~4 (T,T) — every observable cell fires,
    // and the (F,T) rows are the measured evidence for the
    // production rule "near-dup mining over blur-class edits needs
    // the DCT leg". Oracle: both hash chains replayed over the
    // formula pixels with the blur spliced as greatest/least-clamped
    // floor arithmetic, same full-outer join as mm_phash_agreement.
    "mm_phash_agreement_blur" -> QueryDef(BLUR_AGREEMENT_SQL) { (s, dir) =>
      import graft.operators.Dedup
      val both = blurHashes2(s, dir)
      val dh = Dedup.simhashPairsBucketed(
          both.select(col("doc_id"), col("dh").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("d_hamming"))
      val ch = Dedup.simhashPairsBucketed(
          both.select(col("doc_id"), col("ch").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("c_hamming"))
      dh.join(ch, Seq("a_id", "b_id"), "full_outer")
        .select(col("a_id"), col("b_id"),
          col("d_hamming").isNotNull.as("dhash_dup"),
          col("c_hamming").isNotNull.as("dct_dup"),
          col("d_hamming"), col("c_hamming"))
    },

    // BLUR ACROSS THE LOSSY BOUNDARY (r15; r14 verdict #7): the blur
    // agreement discipline composed with the REAL-codec corpus — even
    // docs are real JPEG decodes of synthJpegWide (unedited), odd docs
    // blur the same content's plane BEFORE a real PNG round-trip (the
    // re-encode-an-edited-image pipeline), both hashed BOTH ways. The
    // measured lesson INVERTS the 19x17 synthetic-plane regime and is
    // itself the point: on block-structured content the DCT's 32x32
    // sample comb lands on block-LEFT-edge pixels (sx = 8*gx), exactly
    // the pixels a horizontal blur mixes across block boundaries,
    // while dHash's 256//9 comb mostly samples block interiors a
    // 1-2-1 blur leaves untouched — so (T,F) dominates (108 cells at
    // 250 gids) and (F,T) shrinks to 29 (vs 43-of-75 dominance on the
    // gradient-rich plane; numpy census r15, replayed exactly by this
    // oracle). Production read: blur-robustness of a perceptual hash
    // is a CONTENT-CLASS property, not a hash property — elect the
    // hash per corpus, which is what the agreement matrix measures.
    "mm_phash_agreement_blur_lossy" -> QueryDef(BLUR_LOSSY_AGREEMENT_SQL) {
      (s, dir) =>
      import graft.operators.Dedup
      val both = lossyBlurHashes2(s, dir)
      val dh = Dedup.simhashPairsBucketed(
          both.select(col("doc_id"), col("dh").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("d_hamming"))
      val ch = Dedup.simhashPairsBucketed(
          both.select(col("doc_id"), col("ch").as("simhash")),
          maxDist = 3, maxBucket = 1024)
        .select(col("a_id"), col("b_id"),
          col("hamming").cast("long").as("c_hamming"))
      dh.join(ch, Seq("a_id", "b_id"), "full_outer")
        .select(col("a_id"), col("b_id"),
          col("d_hamming").isNotNull.as("dhash_dup"),
          col("c_hamming").isNotNull.as("dct_dup"),
          col("d_hamming"), col("c_hamming"))
    },

    // INCREMENTAL PERCEPTUAL DEDUP (r13): the persistent-index leg the
    // media family was missing — what doc_dedup_incremental_simhash is
    // for text, this is for images: an accumulated perceptual index
    // (decode+dHash of the already-ingested side, bucketable on the
    // band keys) meets a new batch, and each batch doc reports
    // dup_of_index / dup_of_batch_earlier / keep. The side split is
    // the doc family's md5 rule (replayable in SQL); the batch-side
    // hashes are dHashes of real-codec decodes (the mm_phash_dups
    // corpus). The index enters the plan ONLY via the band join (the
    // r13 form rule's two-sided shape); banding is pigeonhole-exact at
    // hamming <= 3, so the oracle compares ALL pairs from the
    // single-sourced chain with no banding replay, split by side.
    // The SQL is shared with mm_phash_index_roundtrip (the stored-
    // bucketed-index path must produce the identical verdict frame —
    // the EXACT_KEEP_SQL discipline).
    "mm_phash_incremental" -> QueryDef(MM_PHASH_INCR_SQL) { (s, dir) =>
      import graft.operators.Dedup
      val hashes = perceptualHashes(s, dir, 128, "dhash")
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      Dedup.incrementalNearDupHashes(hashes.filter(side >= "a"),
        hashes.filter(side < "a"), maxDist = 3)
    },

    // PERCEPTUAL INDEX PERSISTENCE ROUND-TRIP (r13): the production
    // shape of the incremental leg, driver-graded — the banded index
    // table (simhashChunks of the index side) is WRITTEN to a
    // BucketedStore bucketed on its (cidx, cval) join keys, read back
    // through the table catalog, and fed to the verdict via
    // indexChunks, with an EMPTY indexSigs frame proving the stored
    // chunks are the only index input (the ev_catalog_scan round-trip
    // discipline applied to the dedup index). Oracle: the SAME shared
    // SQL as mm_phash_incremental — persistence must not change one
    // verdict. At 15M docs the stored index cut verdict wall 45.2 ->
    // 16.3 s (tools/IncrementalScaleProbe; SCALE.md r13).
    "mm_phash_index_roundtrip" -> QueryDef(MM_PHASH_INCR_SQL) { (s, dir) =>
      import s.implicits._
      import graft.operators.Dedup
      val hashes = perceptualHashes(s, dir, 128, "dhash")
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      // session-scoped store (r13 leak fix): one reused path + one
      // uuid-suffixed table per session — re-builds overwrite in
      // place, the exit sweeper reclaims the dir, no fixed-name race
      val (table, path) = idxStore(s, "phash_idx_rt", dir)
      graft.sources.BucketedStore.write(
        Dedup.simhashChunks(hashes.filter(side < "a"), maxDist = 3)
          .select("doc_id", "simhash", "cidx", "cval"),
        table, path, Seq("cidx", "cval"), buckets = 8)
      val emptySigs = Seq.empty[(Long, Long)].toDF("doc_id", "simhash")
      Dedup.incrementalNearDupHashes(hashes.filter(side >= "a"),
        emptySigs, maxDist = 3,
        indexChunks = Some(graft.sources.BucketedStore.read(s, table)))
    },

    // STREAMING-vs-PERSISTENT-INDEX COMPOSITION (r14; r13 verdict #1):
    // the production ingest path — documents ARRIVE as a stream, each
    // is decoded + dHashed in the stateless map, and every arrival is
    // checked BOTH against the stored (cidx, cval)-bucketed band index
    // (the already-ingested side, persisted via BucketedStore) and
    // against earlier arrivals (the fMGWS band state, spanning
    // micro-batches) — hashDedupStream and incrementalNearDupHashes
    // composed through foreachBatch (the K2/BlockWriter discipline
    // applied to the dedup index). Graded under the SAME shared SQL as
    // mm_phash_incremental / mm_phash_index_roundtrip: neither the
    // arrival engine nor index persistence may change one verdict.
    "mm_phash_incremental_stream" -> QueryDef(MM_PHASH_INCR_SQL) { (s, dir) =>
      import s.implicits._
      import graft.streaming.Streaming
      import graft.operators.Dedup
      val hashes = perceptualHashes(s, dir, 128, "dhash")
      val sideCol = substring(md5(col("doc_id").cast("string")), 1, 1)
      val (table, path) = idxStore(s, "phash_idx_st", dir)
      graft.sources.BucketedStore.write(
        Dedup.simhashChunks(hashes.filter(sideCol < "a"), maxDist = 3),
        table, path, Seq("cidx", "cval"), buckets = 8)
      // arrivals: the batch side streams in (same md5 side rule,
      // evaluated on the stream), decode+hash in the stateless map.
      // The repartition is the docIdsSpread discipline IN-STREAM (r16,
      // r15 verdict #5): a staged trigger is ONE file = one scan
      // partition, so the decode map ran single-threaded per trigger;
      // spreading the bare ids inside each micro-batch parallelizes
      // the decode without touching trigger membership — verdicts are
      // slicing-dependent, not placement-dependent, so the graded
      // oracle is unchanged (and the fourth-decade probe reads a
      // decode-parallel curve, the caveat SCALE.md r15 pinned).
      val arrivals = Streaming.documentsStream(s, dir)
        .select(col("doc_id"))
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) >= "a")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .as[Long]
        .map(id => (id, (id + 1) * 1000000L,
          perceptualHashOf(id, 128, Multimodal.dhash64)))
      Streaming.hashDedupIncrementalStream(arrivals, maxDist = 3,
        watermarkDelayMs = 31536000000L,
        indexChunks = graft.sources.BucketedStore.read(s, table),
        rocksdbState = true, // band-bucket state: corpus-sized
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
    },

    // INDEX MAINTENANCE CYCLE (r14): the full production loop the
    // pieces above compose into — ingest batch 1 against the stored
    // index, elect its keepers, APPEND their band chunks to the index
    // (BucketedStore.append — each append adds one file per touched
    // bucket, co-location preserved by the restated spec), then ingest
    // batch 2 against the UPDATED index. Batch 2's dup_of_index now
    // covers original index docs AND batch-1 keepers — the semantics
    // that make incremental dedup converge across days. Three-way md5
    // split (0-7 index / 8-b batch1 / c-f batch2); oracle replays the
    // keeper election and the updated-index membership in SQL.
    "mm_phash_index_maintenance" -> QueryDef(
      MM_PHASH_MAINT_SQL) { (s, dir) =>
      import s.implicits._
      import graft.operators.Dedup
      val hashes = perceptualHashes(s, dir, 128, "dhash")
      val c = substring(md5(col("doc_id").cast("string")), 1, 1)
      val idxSide = hashes.filter(c < "8")
      val b1 = hashes.filter(c >= "8" && c < "c")
      val b2 = hashes.filter(c >= "c")
      val (table, path) = idxStore(s, "phash_idx_maint", dir)
      graft.sources.BucketedStore.write(
        Dedup.simhashChunks(idxSide, maxDist = 3),
        table, path, Seq("cidx", "cval"), buckets = 8)
      val emptySigs = Seq.empty[(Long, Long)].toDF("doc_id", "simhash")
      def verdict(batch: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalNearDupHashes(batch, emptySigs, maxDist = 3,
          indexChunks = Some(graft.sources.BucketedStore.read(s, table)))
      // batch 1's verdict is FROZEN (eager localCheckpoint) before the
      // append mutates the table it reads: re-executing v1's plan
      // after maintenance would let every keeper find ITSELF in the
      // updated index and flip to dup_of_index — the read-your-own-
      // writes trap of any mutate-what-you-scan cycle
      val v1 = verdict(b1).localCheckpoint()
      // MAINTENANCE: append batch-1 keepers' band chunks — the updated
      // index is what batch 2 reads through the same catalog table
      graft.sources.BucketedStore.append(
        Dedup.simhashChunks(
          b1.join(v1.filter(col("keep")).select("doc_id"), Seq("doc_id")),
          maxDist = 3),
        table)
      val v2 = verdict(b2)
      v1.withColumn("stage", lit(1L)).unionByName(
          v2.withColumn("stage", lit(2L)))
        .select("doc_id", "stage", "dup_of_index", "dup_of_batch_earlier",
          "keep")
    },

    // MAINTENANCE + COMPACTION (r15): the cycle above with
    // BucketedStore.compactBuckets run between the append and batch 2
    // — the file-count hygiene pass the 50M probe measured (~2x
    // verdict-wall recovery after 10 fragmenting appends) graded for
    // VERDICT NEUTRALITY through the driver's exact hash gate: the
    // oracle is the SAME MM_PHASH_MAINT_SQL, so the one-file-per-
    // bucket rewrite (write-new-then-swap, catalog repointed, old dir
    // reclaimed) must change NOTHING batch 2 can see.
    "mm_phash_maintenance_compacted" -> QueryDef(MM_PHASH_MAINT_SQL) {
      (s, dir) =>
      import s.implicits._
      import graft.operators.Dedup
      val hashes = perceptualHashes(s, dir, 128, "dhash")
      val c = substring(md5(col("doc_id").cast("string")), 1, 1)
      val idxSide = hashes.filter(c < "8")
      val b1 = hashes.filter(c >= "8" && c < "c")
      val b2 = hashes.filter(c >= "c")
      val (table, path) = idxStore(s, "phash_idx_maintc", dir)
      graft.sources.BucketedStore.write(
        Dedup.simhashChunks(idxSide, maxDist = 3),
        table, path, Seq("cidx", "cval"), buckets = 8)
      val emptySigs = Seq.empty[(Long, Long)].toDF("doc_id", "simhash")
      def verdict(batch: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalNearDupHashes(batch, emptySigs, maxDist = 3,
          indexChunks = Some(graft.sources.BucketedStore.read(s, table)))
      val v1 = verdict(b1).localCheckpoint()
      graft.sources.BucketedStore.append(
        Dedup.simhashChunks(
          b1.join(v1.filter(col("keep")).select("doc_id"), Seq("doc_id")),
          maxDist = 3),
        table)
      // the r15 piece: collapse write+append fragmentation to one
      // file per bucket BEFORE batch 2 reads — a maintenance-window
      // pass, invisible to every verdict by construction
      graft.sources.BucketedStore.compactBuckets(s, table)
      val v2 = verdict(b2)
      v1.withColumn("stage", lit(1L)).unionByName(
          v2.withColumn("stage", lit(2L)))
        .select("doc_id", "stage", "dup_of_index", "dup_of_batch_earlier",
          "keep")
    },

    // STREAMING MAINTENANCE LOOP (r15, r14 verdict #6): the
    // batch-batch cycle above run at INGEST CADENCE —
    // hashDedupMaintStream drains the g1/g2 arrivals as TWO pinned
    // triggers (one staged file per trigger, modTime-ordered), each
    // trigger folding against the index table's CURRENT files and
    // appending its keepers' band chunks before the next trigger
    // fires (read-frozen per trigger: fold localCheckpoints before
    // the append). Differences from the batch-batch cycle the oracle
    // replays exactly: g2's dup_of_index covers g0 AND g1's keepers
    // (the in-loop append — 30 docs at sf0.01 flip only via it), and
    // dup_of_batch_earlier comes from the CROSS-TRIGGER band state,
    // so a g2 doc near a smaller-id g1 dup (keeper or not) carries it
    // too — the d2b leg spans g IN (1,2), not g=2 alone.
    "mm_phash_maintenance_stream" -> QueryDef(
      MM_PHASH_MAINT_STREAM_SQL) { (s, dir) =>
      maintStreamBuild(s, dir, "phash_idx_mstream", compactAt = None)
    },

    // SELF-COMPACTING MAINTENANCE DRAIN (r16, r15 verdict #2): the
    // loop above with compactAtFilesPerBucket = Some(0), so
    // BucketedStore.compactIfFragmented FIRES MID-DRAIN after EVERY
    // trigger's append (threshold 0 = any file fragments it — the
    // deterministic-firing setting THAT GRADES NEUTRALITY, chosen so
    // the oracle provably covers rewrites racing the drain's appends;
    // it is NOT the production cadence — the 15M triad measured
    // every-trigger rewrites a 2x LOSS, and the knob's scaladoc +
    // SCALE.md r16 state the choose-threshold-in-APPENDS rule)
    // and vacuumBuckets reclaims the superseded dirs at
    // drain end. Graded under the SAME oracle as the uncompacted
    // drain: through the driver's exact hash gate, an in-loop
    // one-file-per-bucket rewrite between triggers must change NO
    // verdict — the EXACT_KEEP_SQL discipline, now covering rewrites
    // that race the drain's own appends. StreamingSpec pins that the
    // compactions actually fired (location changes per trigger).
    "mm_phash_maintenance_stream_compacted" -> QueryDef(
      MM_PHASH_MAINT_STREAM_SQL) { (s, dir) =>
      maintStreamBuild(s, dir, "phash_idx_mstreamc", compactAt = Some(0))
    },

    // PERCEPTUAL SURVIVOR ELECTION (r13): the media family's cluster
    // roll-up — what doc_simhash_survivors is for text: the dHash pair
    // graph -> connected components (min-reachable-id canonical
    // cluster) -> one keeper per component (the earliest doc), one row
    // per doc. Catches CHAINED near-dups the pairwise verdicts cannot
    // (a~b, b~c, a!~c still lands a, b, c in ONE cluster). Pairs come
    // from the shared banded machinery; the oracle reuses the doc
    // family's recursive-CTE survivors tail verbatim on the
    // single-sourced dHash chain.
    "mm_phash_survivors" -> QueryDef(
      s"""WITH RECURSIVE ${PHASH_PAIRS_CTES()},
        |${DocQueries.SURVIVORS_TAIL}""".stripMargin) { (s, dir) =>
      import graft.operators.Dedup
      Dedup.survivors(Tables.documents(s, dir), col("doc_id"),
        Dedup.simhashPairsBucketed(
          perceptualHashes(s, dir, 128, "dhash"),
          maxDist = 3, maxBucket = 1024))
    },

    // QUALITY-KEEPER ELECTION FOR MEDIA CLUSTERS (r14): what
    // doc_dedup_survivors_best is for text — mm_phash_survivors keeps
    // the EARLIEST doc per near-dup cluster; a media pipeline keeps
    // the BEST copy. The quality key is integer and comes from the
    // DECODED payload: sum of decoded RGB bytes (channels equal on the
    // gray corpus, so it equals 3x the luma-formula sum — exposure/
    // energy as the deterministic stand-in for the resolution/bitrate
    // keys a production corpus would carry; this corpus is fixed-size
    // by pair-consistency necessity). Election: per component the
    // max-q_dm doc keeps, ties -> lowest id (Dedup.survivorsBest's
    // exact integer rule). The oracle reuses the doc family's
    // SURVIVORS_BEST_TAIL verbatim with `scored` replaying the
    // pixel-sum over ALL 323 pixels (perturbed cell included) — a
    // decode bug now diverges the ELECTION, not only the hash.
    "mm_phash_survivors_best" -> QueryDef(
      s"""WITH RECURSIVE ${PHASH_PAIRS_CTES()},
        |scored AS (
        |  SELECT q.id AS doc_id,
        |    3 * sum(CASE WHEN q.pert
        |        AND r.i = ((q.gid % 8) * 17 // 8) * 19
        |          + ((q.gid % 9) * 19 // 9)
        |      THEN (((q.gid * 31 + r.i) * 97 + (q.gid * 7 + 13) * r.i * r.i
        |             + (q.gid // 256) * (59 * r.i + 17)) % 256 + 128) % 256
        |      ELSE ((q.gid * 31 + r.i) * 97 + (q.gid * 7 + 13) * r.i * r.i
        |             + (q.gid // 256) * (59 * r.i + 17)) % 256 END) AS q_dm
        |  FROM q, unnest(range(0, 323)) AS r(i) GROUP BY 1),
        |${DocQueries.SURVIVORS_BEST_TAIL}""".stripMargin) { (s, dir) =>
      import graft.operators.Dedup
      val hq = perceptualHashes(s, dir, 128, "dhash")
      Dedup.survivorsBest(hq, col("doc_id"), col("q_dm"),
        Dedup.simhashPairsBucketed(hq, maxDist = 3, maxBucket = 1024))
    },

    // STREAMING PERCEPTUAL DEDUP (r12): the image near-dup at INGEST
    // time — the Kappa twin of mm_phash_dups, the way
    // doc_simhash_stream twins doc_simhash. Documents arrive as a
    // stream; each is decoded through the real codecs and dHashed in
    // the stateless map (Streaming.hashDedupStream's caller side: the
    // expensive decode is embarrassingly parallel at ingest), band
    // rows enter the fMGWS bucket state (4 DISJOINT chunk-pair bands —
    // the hamming<=3 tier), and each doc reports dup_of = the smallest
    // earlier doc within the radius, null for survivors. The oracle is
    // the SAME single-sourced pair CTE chain as the batch query,
    // folded to min(a_id) per b_id — the arrival engine must not
    // change the pair set (banding pigeonhole-exact, so the expected
    // frame is ALL pairs within the distance).
    "mm_phash_stream" -> QueryDef(
      s"""WITH ${PHASH_PAIRS_CTES()},
        |m AS (SELECT b_id, min(a_id) AS dup_of FROM pairs GROUP BY 1)
        |SELECT d.doc_id, m.dup_of
        |FROM documents d LEFT JOIN m ON d.doc_id = m.b_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        import graft.streaming.Streaming
        // in-stream spread (the maintStreamBuild r16 discipline): the
        // file source hands each micro-batch ~one scan partition, so
        // the REAL-codec decode map ran near-single-threaded; spreading
        // bare ids inside the batch keeps trigger membership (and every
        // verdict) identical while the decode takes the session's cores
        val hashes = Streaming.documentsStream(s, dir)
          .select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .as[Long]
          .map(id => (id, (id + 1) * 1000000L,
            perceptualHashOf(id, 128, Multimodal.dhash64)))
        val verdicts = Streaming.hashDedupStream(hashes, maxDist = 3,
          watermarkDelayMs = 31536000000L)
        Streaming.collapseNearDupVerdicts(
            Streaming.runAvailableNow(verdicts.toDF(),
              rocksdbState = true, // band-bucket state: corpus-sized
              statePartitions = Streaming.corpusStateShards(s,
                s"$dir/documents.parquet")))
          .select(col("docId").as("doc_id"), col("dup_of"))
    },

    // AUDIO FINGERPRINT NEAR-DUP (r12): the WAV decoder joins the
    // perceptual-dedup family — what dhash64 did for the image codecs,
    // audioFingerprint64 (65-block energy-envelope gradient signs,
    // gain-invariant) does for audio. Per doc, a 1300-sample EVEN-
    // valued synth clip keyed gid = doc_id/2 is REAL-encoded to
    // RIFF/WAVE and REAL-decoded back; the odd twin is GAIN-HALVED
    // (every sample even, so s >> 1 is an exact scaling and the
    // fingerprint is provably identical — the gain-invariance claim as
    // a graded equality, not a tolerance); every 5th gid additionally
    // perturbs ONE energy block of the odd twin (+4000 per sample),
    // moving at most the two gradient bits adjacent to that block.
    // Banded pairing as in the image queries (disjoint-pair tier,
    // pigeonhole-exact at hamming <= 3). The oracle replays sample
    // formula, halving (// 2 exact on even values), perturbation,
    // block energies, and gradient bits verbatim; block k of sample i
    // is i*65//1300 — exact because 1300 = 20*65 (the Scala side's
    // generic k*n/65 bounds coincide).
    "mm_audio_dups" -> QueryDef(
      s"""WITH ${AUDIO_PAIRS_CTES()}
        |SELECT a_id, b_id, hamming FROM pairs""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.operators.Dedup
      val hashes = docIdsSpread(s, dir).as[Long]
        .map(id => (id, audioFingerprintOf(id)))
        .toDF("doc_id", "simhash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.simhashPairsBucketed(hashes, maxDist = 3, maxBucket = 1024)
        .withColumn("hamming", col("hamming").cast("long"))
    },

    // STREAMING AUDIO DEDUP (r12): the audio leg of the ingest-time
    // Kappa twins — mm_phash_stream for clips. Same shared band-bucket
    // engine (Streaming.hashDedupStream), same single-sourced pair
    // CTEs folded to min(a_id): the arrival engine must not change the
    // pair set. The gain-halved twins dedup at ingest EXACTLY (integer
    // gain invariance), perturbed twins within the radius.
    "mm_audio_stream" -> QueryDef(
      s"""WITH ${AUDIO_PAIRS_CTES()},
        |m AS (SELECT b_id, min(a_id) AS dup_of FROM pairs GROUP BY 1)
        |SELECT d.doc_id, m.dup_of
        |FROM documents d LEFT JOIN m ON d.doc_id = m.b_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        import graft.streaming.Streaming
        // in-stream spread — same decode-parallelism rationale as the
        // phash stream twin above
        val hashes = Streaming.documentsStream(s, dir)
          .select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .as[Long]
          .map(id => (id, (id + 1) * 1000000L, audioFingerprintOf(id)))
        val verdicts = Streaming.hashDedupStream(hashes, maxDist = 3,
          watermarkDelayMs = 31536000000L)
        Streaming.collapseNearDupVerdicts(
            Streaming.runAvailableNow(verdicts.toDF(),
              rocksdbState = true, // band-bucket state: corpus-sized
              statePartitions = Streaming.corpusStateShards(s,
                s"$dir/documents.parquet")))
          .select(col("docId").as("doc_id"), col("dup_of"))
    },

    // KEYFRAME / SCENE-CUT DETECTION (r12): the smarter sibling of
    // mm_frame_sample's uniform sampling — what a video-curation
    // pipeline actually wants is one frame per SCENE. Per doc, a
    // 9-frame scene-structured animated GIF (3 scenes of 3 frames;
    // the middle frame of each scene carries a one-pixel jitter — a
    // camera wobble the rule must tolerate) is REAL-decoded frame by
    // frame, each frame dHashed, and the inter-frame Hamming distance
    // computed as a LAG inside the same typed map (the temporal window
    // needs no shuffle: a clip's frames arrive as one row). Keyframe
    // rule: frame 0, or distance > 3 to the previous frame — jitter
    // frames (<= 2 gradient bits) never fire, scene boundaries (~32
    // bits of fresh content) always do. The oracle replays palette
    // formula, scene/jitter rules, sampled-grid luma, per-frame
    // gradient bits, and the frame-lag XOR in SQL.
    "mm_keyframes" -> QueryDef(
      """WITH d AS (SELECT doc_id AS id FROM documents),
        |v AS (
        |  SELECT id, f, f // 3 AS sc, cy, cx,
        |    (cy * 17 // 8) * 19 + (cx * 19 // 9) AS p
        |  FROM d, unnest(range(0, 9)) AS rf(f),
        |    unnest(range(0, 8)) AS ry(cy), unnest(range(0, 9)) AS rx(cx)),
        |ix AS (
        |  SELECT id, f, cy, cx,
        |    CASE WHEN f % 3 = 1
        |        AND p = ((sc % 8) * 17 // 8) * 19 + ((sc % 9) * 19 // 9)
        |      THEN (((((id * 131 + sc) * 31 + p) * 97
        |             + ((id * 131 + sc) * 7 + 13) * p * p
        |             + ((id * 131 + sc) // 256) * (53 * p + 11)) % 256) % 64
        |            + 32) % 64
        |      ELSE ((((id * 131 + sc) * 31 + p) * 97
        |             + ((id * 131 + sc) * 7 + 13) * p * p
        |             + ((id * 131 + sc) // 256) * (53 * p + 11)) % 256) % 64
        |    END AS idx
        |  FROM v),
        |g AS (
        |  SELECT id, f, cy, cx,
        |    (299 * ((idx * 37) % 256) + 587 * ((idx * 91 + 17) % 256)
        |     + 114 * ((idx * 53 + 101) % 256)) // 1000 AS l
        |  FROM ix),
        |b AS (
        |  SELECT a.id, a.f, a.cy * 8 + a.cx AS i,
        |    CASE WHEN b2.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM g a JOIN g b2 ON b2.id = a.id AND b2.f = a.f
        |    AND b2.cy = a.cy AND b2.cx = a.cx + 1
        |  WHERE a.cx < 8),
        |hd AS (
        |  SELECT x.id, x.f,
        |    CAST(sum(CASE WHEN x.bit != y.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dist
        |  FROM b x JOIN b y ON y.id = x.id AND y.f = x.f - 1 AND y.i = x.i
        |  WHERE x.f > 0 GROUP BY 1, 2)
        |SELECT fr.id AS doc_id, fr.f AS frame,
        |  coalesce(hd.dist, -1) AS dist,
        |  CAST(CASE WHEN fr.f = 0 OR hd.dist > 3 THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_key
        |FROM (SELECT DISTINCT id, f FROM v) fr
        |LEFT JOIN hd ON hd.id = fr.id AND hd.f = fr.f""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          val frames = Multimodal.decodeGifFrames(
            Multimodal.synthGifScenes(id, 19, 17, 9, 3))
          val hashes = frames.map { fr =>
            val rgb = new Array[Byte](fr.width * fr.height * 3)
            var k = 0
            while (k < rgb.length) { rgb(k) = fr.rgb(k).toByte; k += 1 }
            Multimodal.dhash64(fr.width, fr.height, rgb)
          }
          hashes.zipWithIndex.map { case (hsh, f) =>
            val dist =
              if (f == 0) -1L
              else java.lang.Long.bitCount(hsh ^ hashes(f - 1)).toLong
            (id, f.toLong, dist, if (f == 0 || dist > 3) 1L else 0L)
          }
        }.toDF("doc_id", "frame", "dist", "is_key")
    },

    // VIDEO-LEVEL NEAR-DUP (r12): the composition the two pieces above
    // exist for — RE-EDITED video detection. Per doc, a scene-
    // structured clip keyed gid = doc_id/2; the ODD twin is the same
    // three scenes CUT IN A DIFFERENT ORDER (scenePerm 1) with its
    // camera wobble on the scene-OPENING frames (jitterFrame 0), so
    // whole-file digests miss it (different bytes), frame-aligned
    // compares miss it (different order), and only scene-AGNOSTIC
    // keyframe matching finds it: extract keyframes by the
    // mm_keyframes detection rule (frame 0 or dHash lag > 3 — NOT a
    // positional shortcut: the oracle replays the full rule), band the
    // keyframe hashes through the shared Hamming machinery, decode
    // (video, keyframe) pairs, and report video pairs sharing >= 2
    // near-matching keyframes. The synthetic corpus's content-key
    // periodicity means some NON-twin videos genuinely share scene
    // content — those are real content-level matches and both engines
    // report them identically. Twins match on all 3 scenes at hamming
    // <= 2 (the odd twin's keyframes carry the jitter).
    "mm_video_dups" -> QueryDef(
      s"""WITH ${VIDEO_PAIRS_CTES()}
        |SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS matches,
        |  CAST(min(hamming) AS BIGINT) AS min_hamming
        |FROM pr GROUP BY 1, 2 HAVING matches >= 2""".stripMargin) { (s, dir) =>
      videoKeyframePairs(s, Tables.documents(s, dir))
        .groupBy(col("a_vid").as("a_id"), col("b_vid").as("b_id"))
        .agg(count(lit(1)).cast("long").as("matches"),
          min(col("hamming")).cast("long").as("min_hamming"))
        .filter(col("matches") >= 2)
    },

    // STREAMING VIDEO DEDUP (r14): the last modality without an
    // ingest-time leg. Clips ARRIVE as a stream; keyframe extraction
    // (decode + per-frame dHash + the detection rule) happens in the
    // stateless flatMap — one clip in, <= 16 packed (video*16+q,
    // hash) keyframe rows out — and the band state answers "which
    // EARLIER keyframes sit within hamming <= 3" via hashMatchStream
    // (the all-matches engine leg: the video rollup counts matched
    // keyframes per video PAIR, which a min-fold cannot). The collapse
    // replays the batch rollup: distinct matched keyframe pairs ->
    // video pairs -> matches >= 2 -> dup_of = smallest earlier
    // qualifying video. Oracle: the single-sourced VIDEO_PAIRS_CTES
    // folded exactly that way — the arrival engine must not change
    // the pair set.
    "mm_video_stream" -> QueryDef(
      s"""WITH ${VIDEO_PAIRS_CTES()},
        |vp AS (SELECT a_id, b_id, count(*) AS matches
        |  FROM pr GROUP BY 1, 2 HAVING matches >= 2),
        |m AS (SELECT b_id, min(a_id) AS dup_of FROM vp GROUP BY 1)
        |SELECT d.doc_id, m.dup_of
        |FROM documents d LEFT JOIN m ON d.doc_id = m.b_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        import graft.streaming.Streaming
        // in-stream spread — the GIF decode + per-frame dHash is the
        // dominant cost and ran on the file source's ~one scan
        // partition; bare ids spread across the session's cores,
        // verdicts unchanged (band state sorts per bucket)
        val kfs = Streaming.documentsStream(s, dir)
          .select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .as[Long]
          .flatMap { id =>
            videoKeyframeHashes(id).map { case (pid, hsh) =>
              (pid, (id + 1) * 1000000L, hsh)
            }
          }
        val verdicts = Streaming.hashMatchStream(kfs, maxDist = 3,
          watermarkDelayMs = 31536000000L)
        Streaming.collapseVideoDupVerdicts(
          Streaming.runAvailableNow(
            verdicts.toDF("docId", "tsUs", "bidx", "matched"),
            rocksdbState = true, // band-bucket state: corpus-sized
            statePartitions = Streaming.corpusStateShards(s,
              s"$dir/documents.parquet")))
    },

    // CROSS-MODAL DEDUP VERDICT REPORT (r13): the media family's
    // single roll-up — what doc_dedup_verdict_report is for text, this
    // is for a MIXED-MEDIA corpus. The corpus partitions by content
    // group: gid = doc_id/2 pairs consecutive docs on content, and
    // gid % 3 assigns each GROUP a modality (0 image, 1 audio,
    // 2 video), so every twin pair lives inside one modality and each
    // leg runs its own perceptual dedup end-to-end over REAL codecs:
    // image = PNG/BMP encode+decode -> dhash64; audio = WAV round-trip
    // -> audioFingerprint64 (odd twin gain-halved); video = scene-GIF
    // decode -> keyframe rule -> cross-video keyframe matching
    // (matches >= 2). Per doc, verdicts fold with the dedup keep
    // discipline (earlier doc keeps) and PRECEDENCE exact > near:
    //   exact = an earlier same-modality partner at hamming 0 (image/
    //           audio) or with >= 2 matched keyframes ALL at hamming 0
    //           (video) — subsumes byte-exact: identical decoded
    //           content hashes identically;
    //   near  = an earlier partner within the radius (hamming <= 3 /
    //           matches >= 2);
    //   keep  = no earlier partner.
    // dup_of = the smallest earlier partner OF THE WINNING TIER (an
    // exact doc reports its earliest exact partner even when a nearer-
    // id near partner exists). Oracle: the three single-sourced pair
    // chains spliced verbatim as nested-WITH CTEs with the modality
    // predicate pushed into each chain's doc scan (image/audio doc ids
    // are disjoint, so their folds share one UNION ALL), then the same
    // tier fold in SQL. All columns integer/string — exact compare.
    "mm_dedup_verdict_report" -> QueryDef(
      s"""WITH imgp AS (
        |  WITH ${PHASH_PAIRS_CTES("(doc_id // 2) % 3 = 0")}
        |  SELECT a_id, b_id, hamming FROM pairs),
        |audp AS (
        |  WITH ${AUDIO_PAIRS_CTES("(doc_id // 2) % 3 = 1")}
        |  SELECT a_id, b_id, hamming FROM pairs),
        |vidp AS (
        |  WITH ${VIDEO_PAIRS_CTES("(doc_id // 2) % 3 = 2")}
        |  SELECT a_id, b_id, count(*) AS matches, max(hamming) AS maxh
        |  FROM pr GROUP BY 1, 2 HAVING matches >= 2),
        |fold AS (
        |  SELECT b_id AS doc_id,
        |    min(CASE WHEN hamming = 0 THEN a_id END) AS dup0,
        |    min(a_id) AS dupn
        |  FROM (SELECT a_id, b_id, hamming FROM imgp
        |        UNION ALL SELECT a_id, b_id, hamming FROM audp) u
        |  GROUP BY 1),
        |vfold AS (
        |  SELECT b_id AS doc_id,
        |    min(CASE WHEN maxh = 0 THEN a_id END) AS dup0,
        |    min(a_id) AS dupn
        |  FROM vidp GROUP BY 1),
        |allf AS (SELECT * FROM fold UNION ALL SELECT * FROM vfold)
        |SELECT d.doc_id,
        |  CASE (d.doc_id // 2) % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS modality,
        |  CASE WHEN f.dup0 IS NOT NULL THEN 'exact'
        |       WHEN f.dupn IS NOT NULL THEN 'near' ELSE 'keep' END AS verdict,
        |  CASE WHEN f.dup0 IS NOT NULL THEN f.dup0 ELSE f.dupn END AS dup_of
        |FROM documents d LEFT JOIN allf f ON d.doc_id = f.doc_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        import graft.operators.Dedup
        val docs = Tables.documents(s, dir).select(col("doc_id"))

        // image/audio legs share the signature->pairs->tier-fold shape;
        // only the decode+hash map differs (the expensive, zero-shuffle
        // pass). Pairs already arrive a_id < b_id, so min(a_id) IS the
        // earliest-earlier-partner keep rule.
        def sigLeg(mod: Int, name: String, hashOf: Long => Long) = {
          val ids = docs.filter(expr(s"(doc_id div 2) % 3 = $mod"))
          val hashes = ids
            .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
            .as[Long].map(id => (id, hashOf(id)))
            .toDF("doc_id", "simhash")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val fold = Dedup.simhashPairsBucketed(hashes, maxDist = 3,
              maxBucket = 1024)
            .groupBy(col("b_id").as("doc_id"))
            .agg(min(when(col("hamming") === 0, col("a_id"))).as("dup0"),
              min(col("a_id")).as("dupn"))
          ids.join(fold, Seq("doc_id"), "left")
            .select(col("doc_id"), lit(name).as("modality"),
              when(col("dup0").isNotNull, lit("exact"))
                .when(col("dupn").isNotNull, lit("near"))
                .otherwise(lit("keep")).as("verdict"),
              coalesce(col("dup0"), col("dupn")).as("dup_of"))
        }
        val img = sigLeg(0, "image",
          id => perceptualHashOf(id, 128, Multimodal.dhash64))
        val aud = sigLeg(1, "audio", id => audioFingerprintOf(id))

        val vids = docs.filter(expr("(doc_id div 2) % 3 = 2"))
        val vfold = videoKeyframePairs(s, vids)
          .groupBy("a_vid", "b_vid")
          .agg(count(lit(1)).as("matches"), max(col("hamming")).as("maxh"))
          .filter(col("matches") >= 2)
          .groupBy(col("b_vid").as("doc_id"))
          .agg(min(when(col("maxh") === 0, col("a_vid"))).as("dup0"),
            min(col("a_vid")).as("dupn"))
        val vid = vids.join(vfold, Seq("doc_id"), "left")
          .select(col("doc_id"), lit("video").as("modality"),
            when(col("dup0").isNotNull, lit("exact"))
              .when(col("dupn").isNotNull, lit("near"))
              .otherwise(lit("keep")).as("verdict"),
            coalesce(col("dup0"), col("dupn")).as("dup_of"))

        img.unionByName(aud).unionByName(vid)
    })
}
