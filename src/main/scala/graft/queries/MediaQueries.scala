package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.DriverParquet
import graft.operators.MultimodalOps
import graft.sinks.TarSink
import graft.sources.{Tables, TarSource}

/** Multimodal queries: audio, image and video codecs run end to end over
  * payloads synthesized from the events table, plus perceptual and audio
  * fingerprints and their near-duplicate pairs.
  */
object MediaQueries extends Family("media") {
  import QuerySupport._

  /** Cycle-pad a group's event samples to exactly `n`: the multimodal
    * fixtures have fixed payload geometry (image dims, DFT length, box
    * parameters), so a group smaller than `n` — which only happens at
    * tiny scale factors — wraps around deterministically instead of
    * failing the whole query; a group with >= n samples is take(n),
    * unchanged. The oracle mirrors this with a `p % count` position
    * join (see [[cycCte]]), so both engines see identical samples at
    * every scale factor.
    */
  private def cyclePad[T: scala.reflect.ClassTag](rows: Array[T],
                                                  n: Int): Array[T] =
    if (rows.length >= n) rows.take(n)
    else Array.tabulate(n)(i => rows(i % rows.length))

  /** Real multimodal decode end-to-end: per user group, a 16-bit PCM WAV
    * (all the group's quantized event values; RMS and peak are
    * order-independent, and the squared sums are integer-valued doubles
    * below 2^53, so they are EXACT on both engines), a 16×25 BMP (the
    * first 400 samples by event_id, value-derived channels), and a 20×20
    * RGBA PNG (same 400 samples, alpha from a fourth multiplier — the
    * zlib inflate + unfilter path) are synthesized on executors, decoded
    * back by the pure-JVM codecs in `functions/Media`, and reduced.
    * Quantization uses floor, which is bit-deterministic across engines
    * (round's tie rule is not); both image codecs are lossless, so the
    * channel means recompute exactly from events.
    */
  q("q_media_decode",
    // The WAV/BMP payloads round-trip 16-bit samples and 8-bit channels
    // exactly, so every feature recomputes straight from events.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |wav AS (SELECT g, CAST(count(*) AS BIGINT) AS n_frames,
        |    round(sqrt(sum(CAST(v * v AS DOUBLE)) / count(*)) + 1e-9, 4) AS rms,
        |    CAST(max(abs(v)) AS INT) AS peak
        |  FROM q GROUP BY 1),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(400)},
        |img AS (SELECT g,
        |    round(avg(CAST((v % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_r,
        |    round(avg(CAST((v * 3 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_g,
        |    round(avg(CAST((v * 7 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_b,
        |    round(avg(CAST((v * 11 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_a
        |  FROM e GROUP BY 1)
        |SELECT wav.g, 8000 AS sample_rate, 1 AS n_channels, wav.n_frames,
        |  wav.rms, wav.peak, 16 AS width, 25 AS height,
        |  img.mean_r, img.mean_g, img.mean_b,
        |  20 AS png_w, 20 AS png_h, 4 AS png_ch, img.mean_a
        |FROM wav JOIN img USING (g) ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the image
        val smp = cyclePad(rows, 400)
        val wav = graft.functions.Media.renderWav(8000, 1, rows.map(_._3))
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val px = smp.map(r => (ch(r._3, 1), ch(r._3, 3), ch(r._3, 7)))
        val bmp = graft.functions.Media.renderBmp(16, 25, px)
        val rgba = smp.flatMap(r =>
          Seq(ch(r._3, 1), ch(r._3, 3), ch(r._3, 7), ch(r._3, 11)))
        val png = graft.functions.Media.renderPng(20, 20, 4, rgba)
        (g, wav, bmp, png)
      }.toDF("g", "wav", "bmp", "png")
    val wavF = MultimodalOps.wavFeatures(payloads, "g", "wav")
    val bmpF = MultimodalOps.bmpFeatures(payloads, "g", "bmp")
    val pngF = MultimodalOps.pngFeatures(payloads, "g", "png")
      .select(col("g"), col("width").as("png_w"), col("height").as("png_h"),
        col("n_channels").as("png_ch"), rnd("mean_a", 4).as("mean_a"))
    wavF.join(bmpF, "g").join(pngF, "g")
      .select(col("g"), col("sample_rate"), col("n_channels"), col("n_frames"),
        rnd("rms", 4).as("rms"), col("peak"), col("width"), col("height"),
        rnd("mean_r", 4).as("mean_r"), rnd("mean_g", 4).as("mean_g"),
        rnd("mean_b", 4).as("mean_b"),
        col("png_w"), col("png_h"), col("png_ch"), col("mean_a"))
      .orderBy("g")
  }

  /** Audio spectral analysis end-to-end: per group a mono PCM WAV is
    * synthesized from the first 256 quantized events, decoded back, and
    * put through the windowed DFT (4 frames × 64 samples). The twiddle
    * vectors materialize so DuckDB re-runs the transform itself —
    * `list_dot_product` reproduces the identical left-to-right double
    * folds — and recomputes energy, spectral centroid, and the peak bin
    * from the event stream, not from our output.
    */
  q("q_audio_spectral",
    // DFT mirror: frames rebuilt from the event stream, the transform
    // re-run against the materialized twiddle vectors (list_dot_product =
    // the same left-to-right double fold), energy exact in integers.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
         |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
         |  FROM events),
         |r AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
         |  FROM q),
        |${cycCte(256)},
         |f AS (SELECT g, CAST((rn - 1) // 64 AS INT) AS frame, rn, v
         |  FROM e),
         |s AS (SELECT g, frame, list(CAST(v AS DOUBLE) ORDER BY rn) AS sv
         |  FROM f GROUP BY 1, 2),
         |tw AS (SELECT k, re_w, im_w FROM '$DftTwiddlesDir/*.parquet'),
         |d AS (SELECT g, frame, k,
         |    list_dot_product(sv, re_w) AS re, list_dot_product(sv, im_w) AS im,
         |    list_dot_product(sv, sv) AS e2
         |  FROM s CROSS JOIN tw),
         |m AS (SELECT g, frame, k, sqrt(re * re + im * im) / 64 AS mag, e2 FROM d),
         |agg AS (SELECT g, frame, max(e2) / 64 AS energy,
         |    sum(k * mag) / sum(mag) AS centroid
         |  FROM m GROUP BY 1, 2),
         |pk AS (SELECT g, frame, k AS peak_bin, mag AS peak_mag FROM (
         |    SELECT g, frame, k, mag,
         |      row_number() OVER (PARTITION BY g, frame ORDER BY mag DESC, k) AS rn
         |    FROM m) z WHERE rn = 1)
         |SELECT agg.g, agg.frame, round(agg.energy + 1e-9, 4) AS energy_r,
         |  round(agg.centroid + 1e-9, 4) AS centroid_r,
         |  CAST(pk.peak_bin AS INT) AS peak_bin,
         |  round(pk.peak_mag + 1e-9, 4) AS peak_mag_r
         |FROM agg JOIN pk USING (g, frame) ORDER BY g, frame""".stripMargin) { (s, dir) =>
    import s.implicits._
    DriverParquet.write(s, DftTwiddlesDir,
      StructType.fromDDL("k INT, re_w ARRAY<DOUBLE>, im_w ARRAY<DOUBLE>"),
      MultimodalOps.dftTwiddles(64).map { case (k, re, im) => Seq(k, re, im) })
    MultimodalOps.audioSpectral(audioCorpus(s, dir, withCopies = false),
      "g", "wav", frameLen = 64, nFrames = 4)
      .select(col("g"), col("frame"),
        rnd("energy", 4).as("energy_r"), rnd("centroid", 4).as("centroid_r"),
        col("peak_bin"), rnd("peak_mag", 4).as("peak_mag_r"))
      .orderBy("g", "frame")
  }

  /** The 10 base WAV clips shared by the spectral queries, optionally
    * extended per base with an EXACT copy (g+100) and a one-sample
    * perturbed copy (g+200, sample 0 shifted +50 — a few fingerprint
    * bits at most) for the near-dup gate.
    */
  private def audioCorpus(s: SparkSession, dir: String,
                          withCopies: Boolean): DataFrame = {
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    quant.as[(Long, Long, Int)].groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the signal
        val sm = cyclePad(rows, 256).map(_._3)
        val base = graft.functions.Media.renderWav(8000, 1, sm)
        if (!withCopies) Seq((g, base))
        else {
          val pert = sm.clone()
          pert(0) = math.min(pert(0) + 50, 32767)
          Seq((g, base), (g + 100L, base),
            (g + 200L, graft.functions.Media.renderWav(8000, 1, pert)))
        }
      }.toDF("g", "wav")
  }

  /** Chromaprint-style fingerprints over the 10 base clips: the oracle
    * replays the DFT (materialized twiddles), the rounded band energies,
    * and the frame-gradient bit packing.
    */
  q("q_audio_fingerprint",
    // Fingerprint mirror: the spectral DFT CTEs, band energies over bins
    // 1..32 (4 bins/band, 8 bands) ROUNDED at 6 dp, gradient bit set
    // when band energy falls frame-to-frame, packed LSB-at-(frame·8+band).
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
         |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
         |  FROM events),
         |r AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
         |  FROM q),
         |${cycCte(256)},
         |f AS (SELECT g, CAST((rn - 1) // 64 AS INT) AS frame, rn, v
         |  FROM e),
         |s AS (SELECT g, frame, list(CAST(v AS DOUBLE) ORDER BY rn) AS sv
         |  FROM f GROUP BY 1, 2),
         |tw AS (SELECT k, re_w, im_w FROM '$DftTwiddlesDir/*.parquet'),
         |d AS (SELECT g, frame, k,
         |    list_dot_product(sv, re_w) AS re, list_dot_product(sv, im_w) AS im
         |  FROM s CROSS JOIN tw),
         |m AS (SELECT g, frame, k, sqrt(re * re + im * im) / 64 AS mag FROM d),
         |bd AS (SELECT g, frame, CAST((k - 1) // 4 AS INT) AS band,
         |    round(sum(mag) + 1e-9, 6) AS en
         |  FROM m WHERE k >= 1 GROUP BY 1, 2, 3),
         |bits AS (SELECT a.g, a.frame * 8 + a.band AS idx,
         |    CASE WHEN a.en > b.en THEN 1 ELSE 0 END AS bit
         |  FROM bd a JOIN bd b
         |    ON a.g = b.g AND a.band = b.band AND b.frame = a.frame + 1)
         |SELECT g, CAST(sum(CASE WHEN bit = 1
         |    THEN (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS fp
         |FROM bits GROUP BY 1 ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    DriverParquet.write(s, DftTwiddlesDir,
      StructType.fromDDL("k INT, re_w ARRAY<DOUBLE>, im_w ARRAY<DOUBLE>"),
      MultimodalOps.dftTwiddles(64).map { case (k, re, im) => Seq(k, re, im) })
    MultimodalOps.audioFingerprint(
      audioCorpus(s, dir, withCopies = false), "g", "wav")
      .orderBy("g")
  }

  /** Banded-Hamming audio near-dup pairs over the 30-clip corpus
    * (bases + exact copies + one-sample perturbations): engine runs the
    * band-bucketed join, oracle brute-forces Hamming over the
    * materialized fingerprint table — equality is the pigeonhole recall
    * proof, as in q_phash_pairs.
    */
  q("q_audio_fp_pairs",
    // Audio near-dup mirror: brute-force Hamming over the materialized
    // fingerprint table (same recall-exactness argument as q_phash_pairs).
      s"""WITH h AS (SELECT g, fp FROM '$AudioFpDir/*.parquet')
         |SELECT a.g AS ia, b.g AS ib,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.g < b.g
         |WHERE bit_count(xor(a.fp, b.fp)) <= 6
         |ORDER BY ia, ib""".stripMargin) { (s, dir) =>
    val payloads = audioCorpus(s, dir, withCopies = true)
    MultimodalOps.audioFingerprint(payloads, "g", "wav")
      .coalesce(1).write.mode("overwrite").parquet(AudioFpDir)
    MultimodalOps.audioNearDupPairs(payloads, "g", maxHamming = 6,
      payloadCol = "wav")
      .orderBy("ia", "ib")
  }

  /** Baseline JPEG decode end-to-end: per group, a 48×48 YCbCr 4:4:4 image
    * (6×6 grid of flat 8×8 blocks, restart markers every block row) and a
    * 16×16 grayscale image are ENCODED from quantized event values, then
    * decoded back through the full DCT/Huffman path (`Media.decodeJpeg`).
    * Flat blocks are DC-only and the DC quant step (8) divides the
    * level-shifted block DC exactly, so decode is bit-exact and the
    * per-channel means are SQL-expressible from the event stream itself.
    */
  q("q_jpeg_decode",
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(60)},
        |c AS (SELECT g,
        |    round(avg(CAST((v * 5 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_y,
        |    round(avg(CAST((v * 9 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_cb,
        |    round(avg(CAST((v * 13 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS mean_cr
        |  FROM e WHERE rn <= 36 GROUP BY 1),
        |gr AS (SELECT g,
        |    round(avg(CAST((v % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS g_mean
        |  FROM e WHERE rn BETWEEN 37 AND 40 GROUP BY 1),
        |sc AS (SELECT g,
        |    round(avg(CAST((v * 7 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS s_mean_cb,
        |    round(avg(CAST((v * 11 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS s_mean_cr
        |  FROM e WHERE rn BETWEEN 41 AND 44 GROUP BY 1),
        |sl AS (SELECT g,
        |    round(avg(CAST((v * 3 % 256 + 256) % 256 AS DOUBLE)) + 1e-9, 4) AS s_mean_y
        |  FROM e WHERE rn BETWEEN 45 AND 60 GROUP BY 1)
        |SELECT c.g, 48 AS width, 48 AS height, 3 AS n_channels,
        |  c.mean_y, c.mean_cb, c.mean_cr,
        |  16 AS g_w, 16 AS g_h, 1 AS g_ch, gr.g_mean,
        |  32 AS s_w, 32 AS s_h, sl.s_mean_y, sc.s_mean_cb, sc.s_mean_cr,
        |  48 AS p_w, 48 AS p_h,
        |  c.mean_y AS p_mean_y, c.mean_cb AS p_mean_cb, c.mean_cr AS p_mean_cr
        |FROM c JOIN gr USING (g) JOIN sc USING (g) JOIN sl USING (g)
        |ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the images
        val smp = cyclePad(rows, 60) // positions 1..60 drive all four images
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val bs = smp.take(36).map(_._3) // 6×6 flat blocks → 48×48 color
        val color = new Array[Int](48 * 48 * 3)
        for (y <- 0 until 48; x <- 0 until 48) {
          val v = bs((y / 8) * 6 + x / 8)
          val o = (y * 48 + x) * 3
          color(o) = ch(v, 5); color(o + 1) = ch(v, 9); color(o + 2) = ch(v, 13)
        }
        val gs = smp.slice(36, 40).map(_._3) // 2×2 flat blocks → 16×16 gray
        val gray = new Array[Int](16 * 16)
        for (y <- 0 until 16; x <- 0 until 16)
          gray(y * 16 + x) = ch(gs((y / 8) * 2 + x / 8), 1)
        // 4:2:0: 32×32 = 2×2 MCUs; per-MCU constant chroma + per-8×8 luma
        // keep the box filter and DCT exact through the subsampled path
        val cs = smp.slice(40, 44).map(_._3)  // 4 MCU chroma seeds
        val ls = smp.slice(44, 60).map(_._3)  // 16 luma blocks
        val sub = new Array[Int](32 * 32 * 3)
        for (y <- 0 until 32; x <- 0 until 32) {
          val o = (y * 32 + x) * 3
          sub(o) = ch(ls((y / 8) * 4 + x / 8), 3)
          val m = (y / 16) * 2 + x / 16
          sub(o + 1) = ch(cs(m), 7); sub(o + 2) = ch(cs(m), 11)
        }
        (g, graft.functions.Media.renderJpeg(48, 48, 3, color, restartInterval = 6),
          graft.functions.Media.renderJpeg(16, 16, 1, gray),
          graft.functions.Media.renderJpeg(32, 32, 3, sub, subsample420 = true),
          // SOF2 progressive render of the same flat-block color image:
          // DC first+refine scans reconstruct the DC exactly, AC scans are
          // pure EOB runs, so the decode is bit-exact like baseline and
          // shares the same SQL means
          graft.functions.Media.renderJpegProgressive(48, 48, 3, color))
      }.toDF("g", "jpg", "gjpg", "sjpg", "pjpg")
    val colorF = MultimodalOps.jpegFeatures(payloads, "g", "jpg")
    val grayF = MultimodalOps.jpegFeatures(payloads, "g", "gjpg")
      .select(col("g"), col("width").as("g_w"), col("height").as("g_h"),
        col("n_channels").as("g_ch"), rnd("mean_y", 4).as("g_mean"))
    val subF = MultimodalOps.jpegFeatures(payloads, "g", "sjpg")
      .select(col("g"), col("width").as("s_w"), col("height").as("s_h"),
        rnd("mean_y", 4).as("s_mean_y"), rnd("mean_cb", 4).as("s_mean_cb"),
        rnd("mean_cr", 4).as("s_mean_cr"))
    val progF = MultimodalOps.jpegFeatures(payloads, "g", "pjpg")
      .select(col("g"), col("width").as("p_w"), col("height").as("p_h"),
        rnd("mean_y", 4).as("p_mean_y"), rnd("mean_cb", 4).as("p_mean_cb"),
        rnd("mean_cr", 4).as("p_mean_cr"))
    colorF.join(grayF, "g").join(subF, "g").join(progF, "g")
      .select(col("g"), col("width"), col("height"), col("n_channels"),
        rnd("mean_y", 4).as("mean_y"), rnd("mean_cb", 4).as("mean_cb"),
        rnd("mean_cr", 4).as("mean_cr"),
        col("g_w"), col("g_h"), col("g_ch"), col("g_mean"),
        col("s_w"), col("s_h"), col("s_mean_y"), col("s_mean_cb"),
        col("s_mean_cr"),
        col("p_w"), col("p_h"), col("p_mean_y"), col("p_mean_cb"),
        col("p_mean_cr"))
      .orderBy("g")
  }

  /** Video pixel decode end-to-end: per group, 24 single-MB 16×16 H.264
    * IDR frames from quantized event values — every 4th frame I_PCM
    * (lossless), the rest flat Intra16x16-DC at qp 30 so the full CAVLC +
    * Hadamard-DC + quant/dequant + inverse-transform chain reduces to a
    * closed-form integer recurrence the DuckDB oracle mirrors literally.
    * The decode (`MultimodalOps.videoFrames` → `functions/H264`) is the
    * real bitstream path: Annex-B split, SPS/PPS parse, slice decode,
    * entropy decode, prediction, reconstruction.
    */
  q("q_video_frames",
    // Video-decode mirror: the H.264 Intra16x16-DC closed loop at qp 30
    // (luma MF0=13107 qbits=20, chroma qPc=29 MF0=7282 qbits=19) reduced
    // to its exact integer recurrence for flat single-MB frames —
    // quantize (sign-magnitude, intra rounding 2f), DC dequant, inverse
    // transform rounding, clip — plus the lossless I_PCM frames.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(24)},
        |f AS (SELECT g, rn - 1 AS frame_idx, (rn % 4 = 1) AS pcm,
        |    (v % 256 + 256) % 256 AS yv,
        |    (v * 3 % 256 + 256) % 256 AS cbv,
        |    (v * 7 % 256 + 256) % 256 AS crv
        |  FROM e),
        |z AS (SELECT g, frame_idx, pcm, yv, cbv, crv,
        |    CASE WHEN yv < 128
        |      THEN -((abs(128 * (yv - 128)) * 13107 + 699050) // 2097152)
        |      ELSE (128 * (yv - 128) * 13107 + 699050) // 2097152 END AS zy,
        |    CASE WHEN cbv < 128
        |      THEN -((abs(64 * (cbv - 128)) * 7282 + 349524) // 1048576)
        |      ELSE (64 * (cbv - 128) * 7282 + 349524) // 1048576 END AS zcb,
        |    CASE WHEN crv < 128
        |      THEN -((abs(64 * (crv - 128)) * 7282 + 349524) // 1048576)
        |      ELSE (64 * (crv - 128) * 7282 + 349524) // 1048576 END AS zcr
        |  FROM f),
        |-- (160z+1)>>1 == 80z exactly for either sign; the final >>6 is a
        |-- FLOOR division, while DuckDB // truncates toward zero, so the
        |-- negative branch shifts by 63 first (trunc((x-63)/64) == floor(x/64))
        |rec AS (SELECT g, frame_idx,
        |    CASE WHEN pcm THEN yv
        |      ELSE least(greatest(128 + CASE WHEN 80 * zy + 32 >= 0
        |        THEN (80 * zy + 32) // 64
        |        ELSE (80 * zy + 32 - 63) // 64 END, 0), 255) END AS ry,
        |    CASE WHEN pcm THEN cbv
        |      ELSE least(greatest(128 + CASE WHEN 144 * zcb + 32 >= 0
        |        THEN (144 * zcb + 32) // 64
        |        ELSE (144 * zcb + 32 - 63) // 64 END, 0), 255) END AS rcb,
        |    CASE WHEN pcm THEN crv
        |      ELSE least(greatest(128 + CASE WHEN 144 * zcr + 32 >= 0
        |        THEN (144 * zcr + 32) // 64
        |        ELSE (144 * zcr + 32 - 63) // 64 END, 0), 255) END AS rcr
        |  FROM z)
        |SELECT g, CAST(frame_idx AS INT) AS frame_idx,
        |  16 AS width, 16 AS height,
        |  CAST(256 * ry AS BIGINT) AS sum_y,
        |  CAST(64 * rcb AS BIGINT) AS sum_cb,
        |  CAST(64 * rcr AS BIGINT) AS sum_cr
        |FROM rec ORDER BY g, frame_idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.functions.H264
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("long").as("v"))
    val payloads = quant.as[(Long, Long, Long)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        def ch(v: Long, m: Long): Int = (((v * m) % 256 + 256) % 256).toInt
        val frames = cyclePad(rows, 24).map { case (_, _, v) =>
          H264.Yuv(16, 16, Array.fill(256)(ch(v, 1)),
            Array.fill(64)(ch(v, 3)), Array.fill(64)(ch(v, 7)))
        }
        val (bytes, _) = H264.encodeStream(frames.toIndexedSeq, 30,
          (i, _, _) => if (i % 4 == 0) H264.MbPcm else H264.MbI16(2, 0))
        (g, bytes)
      }.toDF("g", "payload")
    MultimodalOps.videoFrames(payloads, "g")
      .orderBy("g", "frame_idx")
  }

  /** Image resize end-to-end: 16×16 BMPs from quantized event values,
    * box-average downscale ×4 (exact integer block means), RE-ENCODE,
    * decode again — and gate on position-weighted per-channel checksums
    * of the resized pixels, which the oracle recomputes pixel-for-pixel
    * from the event stream (Σ block // 16 per 4×4 block, then Σ pos·c).
    */
  q("q_image_resize",
    // Resize mirror: every output pixel recomputed from the event stream
    // (4×4 block sums // 16), then the position-weighted checksums.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(256)},
        |px AS (SELECT g, rn - 1 AS p,
        |    (v % 256 + 256) % 256 AS cr,
        |    (v * 3 % 256 + 256) % 256 AS cg,
        |    (v * 7 % 256 + 256) % 256 AS cb
        |  FROM e),
        |blk AS (SELECT g,
        |    ((p // 16) // 4) * 4 + (p % 16) // 4 AS o,
        |    sum(cr) // 16 AS vr, sum(cg) // 16 AS vg, sum(cb) // 16 AS vb
        |  FROM px GROUP BY 1, 2)
        |SELECT g, 16 AS in_w, 16 AS in_h, 4 AS out_w, 4 AS out_h,
        |  CAST(sum(o * vr) AS BIGINT) AS wsum_r,
        |  CAST(sum(o * vg) AS BIGINT) AS wsum_g,
        |  CAST(sum(o * vb) AS BIGINT) AS wsum_b
        |FROM blk GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val px = cyclePad(rows, 256)
          .map(r => (ch(r._3, 1), ch(r._3, 3), ch(r._3, 7)))
        (g, graft.functions.Media.renderBmp(16, 16, px))
      }.toDF("g", "bmp")
    MultimodalOps.resizeBox(payloads, "g", factor = 4, "bmp")
      .select(col("g"), col("in_w"), col("in_h"), col("out_w"), col("out_h"),
        col("resized"))
      .as[(Long, Int, Int, Int, Int, Array[Byte])]
      .map { case (g, iw, ih, ow, oh, bytes) =>
        val m = graft.functions.Media.decodeBmp(bytes)
        var (wr, wg, wb) = (0L, 0L, 0L)
        m.pixels.zipWithIndex.foreach { case ((r, gg, b), p) =>
          wr += p.toLong * r; wg += p.toLong * gg; wb += p.toLong * b
        }
        (g, iw, ih, ow, oh, wr, wg, wb)
      }
      .toDF("g", "in_w", "in_h", "out_w", "out_h", "wsum_r", "wsum_g", "wsum_b")
      .orderBy("g")
  }

  /** Audio peak normalization end-to-end: the 256-sample WAVs scale to
    * a 30000 target peak in exact integer rational arithmetic, re-encode,
    * decode — gated on the input peak and the position-weighted checksum
    * of the normalized stream, both recomputed from the event stream.
    */
  q("q_audio_normalize",
    // Peak-normalize mirror: the same integer rational gain (floor
    // division — negative PCM included) from the event stream.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(256)},
        |t AS (SELECT g, v, rn - 1 AS p FROM e),
        |pk AS (SELECT g, CAST(max(abs(v)) AS BIGINT) AS peak FROM t GROUP BY 1),
        |n AS (SELECT t.g, t.p,
        |    CASE WHEN pk.peak = 0 THEN t.v
        |         ELSE (t.v * 30000) // pk.peak END AS s,
        |    pk.peak
        |  FROM t JOIN pk ON t.g = pk.g)
        |SELECT g, CAST(max(peak) AS INT) AS peak_in,
        |  CAST(sum(p * s) AS BIGINT) AS wsum
        |FROM n GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        (g, graft.functions.Media.renderWav(8000, 1,
          cyclePad(rows, 256).map(_._3)))
      }.toDF("g", "wav")
    MultimodalOps.normalizeAudioPeak(payloads, "g", targetPeak = 30000, "wav")
      .select(col("g"), col("peak_in"), col("normalized"))
      .as[(Long, Int, Array[Byte])]
      .map { case (g, peak, bytes) =>
        val w = graft.functions.Media.decodeWav(bytes)
        var ws = 0L
        w.samples.zipWithIndex.foreach { case (sm, p) => ws += p.toLong * sm }
        (g, peak, ws)
      }
      .toDF("g", "peak_in", "wsum")
      .orderBy("g")
  }

  /** Image orientation end-to-end: 16×16 BMPs run through flip_h /
    * flip_v / rot90, each re-encoded and decoded again; the position-
    * weighted red checksums gate the PERMUTATIONS exactly (a mean would
    * be orientation-blind), with the oracle recomputing each mapped
    * position from the event stream.
    */
  q("q_image_orient",
    // Orientation mirror: each op's mapped position recomputed from the
    // event stream (y = p//16, x = p%16; flip_h → y·16+15−x,
    // flip_v → (15−y)·16+x, rot90 cw → x·16+15−y).
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(256)},
        |px AS (SELECT g, rn - 1 AS p, (v % 256 + 256) % 256 AS cr
        |  FROM e)
        |SELECT g,
        |  CAST(sum(((p // 16) * 16 + (15 - p % 16)) * cr) AS BIGINT) AS ws_flip_h,
        |  CAST(sum(((15 - p // 16) * 16 + p % 16) * cr) AS BIGINT) AS ws_flip_v,
        |  CAST(sum(((p % 16) * 16 + (15 - p // 16)) * cr) AS BIGINT) AS ws_rot90
        |FROM px GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val px = cyclePad(rows, 256)
          .map(r => (ch(r._3, 1), ch(r._3, 3), ch(r._3, 7)))
        (g, graft.functions.Media.renderBmp(16, 16, px))
      }.toDF("g", "bmp")
    def wsum(op: String, name: String) = {
      MultimodalOps.orientImage(payloads, "g", op, "bmp")
        .select(col("g"), col("oriented"))
        .as[(Long, Array[Byte])]
        .map { case (g, bytes) =>
          val m = graft.functions.Media.decodeBmp(bytes)
          var ws = 0L
          m.pixels.zipWithIndex.foreach { case ((r, _, _), p) =>
            ws += p.toLong * r
          }
          (g, ws)
        }.toDF("g", name)
    }
    wsum("flip_h", "ws_flip_h")
      .join(wsum("flip_v", "ws_flip_v"), "g")
      .join(wsum("rot90", "ws_rot90"), "g")
      .orderBy("g")
  }

  /** Audio resample end-to-end: 256-sample mono WAVs from quantized
    * event values, box decimation ×4 (floor-division block means — the
    * SQL `//` convention, exact on negative PCM too), RE-ENCODE at
    * 2 kHz, decode again — gated on the position-weighted checksum of
    * the resampled stream, recomputed sample-for-sample by the oracle.
    */
  q("q_audio_resample",
    // Audio-resample mirror: every output sample recomputed from the
    // event stream (4-sample block sums // 4, floor division), then the
    // position-weighted checksum.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(256)},
        |blk AS (SELECT g, (rn - 1) // 4 AS p, sum(v) // 4 AS sm
        |  FROM e GROUP BY 1, 2)
        |SELECT g, 8000 AS in_rate, 2000 AS out_rate, 256 AS n_in,
        |  64 AS n_out, CAST(sum(p * sm) AS BIGINT) AS wsum
        |FROM blk GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        (g, graft.functions.Media.renderWav(8000, 1,
          cyclePad(rows, 256).map(_._3)))
      }.toDF("g", "wav")
    MultimodalOps.resampleAudioBox(payloads, "g", factor = 4, "wav")
      .select(col("g"), col("in_rate"), col("out_rate"), col("n_in"),
        col("n_out"), col("resampled"))
      .as[(Long, Int, Int, Int, Int, Array[Byte])]
      .map { case (g, ir, or, ni, no, bytes) =>
        val w = graft.functions.Media.decodeWav(bytes)
        var ws = 0L
        w.samples.zipWithIndex.foreach { case (sm, p) => ws += p.toLong * sm }
        (g, ir, or, ni, no, ws)
      }
      .toDF("g", "in_rate", "out_rate", "n_in", "n_out", "wsum")
      .orderBy("g")
  }

  /** GIF decode end-to-end: per group, a two-frame animated GIF (frame 0
    * plain, frame 1 INTERLACED, distinct GCE delays) is encoded from
    * quantized event values over a 64-color palette, then decoded back
    * through the full LZW + deinterlace path (`Gif.decode`). Palette
    * entries are modular ramps of the index, so per-channel means AND the
    * position-weighted red checksum (the deinterlace gate — means are
    * row-permutation invariant, Σ pos·r is not) are SQL-expressible from
    * the event stream itself.
    */
  q("q_gif_decode",
    // GIF mirror: palette ramps + frame geometry + the deinterlace gate
    // (Σ pos·r over NATURAL row order) re-derived from the event stream.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(512)},
        |px AS (SELECT g,
        |    CASE WHEN rn <= 256 THEN 0 ELSE 1 END AS frame,
        |    CASE WHEN rn <= 256 THEN rn - 1 ELSE rn - 257 END AS p,
        |    ((v % 64) + 64) % 64 AS idx
        |  FROM e)
        |SELECT g, CAST(frame AS INT) AS frame, 16 AS width, 16 AS height,
        |  64 AS n_colors, frame = 1 AS interlaced,
        |  CAST(CASE WHEN frame = 0 THEN 4 ELSE 7 END AS INT) AS delay_cs,
        |  round(avg(CAST(idx * 5 % 256 AS DOUBLE)) + 1e-9, 4) AS mean_r,
        |  round(avg(CAST(idx * 9 % 256 AS DOUBLE)) + 1e-9, 4) AS mean_g,
        |  round(avg(CAST(idx * 13 % 256 AS DOUBLE)) + 1e-9, 4) AS mean_b,
        |  CAST(sum(p * (idx * 5 % 256)) AS BIGINT) AS wsum_r
        |FROM px GROUP BY g, frame ORDER BY g, frame""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val palette = Array.tabulate(64)(i => ((i * 5) % 256, (i * 9) % 256,
      (i * 13) % 256))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the frames
        val smp = cyclePad(rows, 512)
        def idx(v: Int): Int = ((v % 64) + 64) % 64
        val f0 = smp.take(256).map(r => idx(r._3))
        val f1 = smp.slice(256, 512).map(r => idx(r._3))
        (g, graft.functions.Gif.render(16, 16, palette, Seq(f0, f1),
          interlaced = Seq(false, true), delaysCs = Seq(4, 7)))
      }.toDF("g", "gif")
    MultimodalOps.gifFeatures(payloads, "g", "gif")
      .select(col("g"), col("frame"), col("width"), col("height"),
        col("n_colors"), col("interlaced"), col("delay_cs"),
        rnd("mean_r", 4).as("mean_r"), rnd("mean_g", 4).as("mean_g"),
        rnd("mean_b", 4).as("mean_b"), col("wsum_r"))
      .orderBy("g", "frame")
  }

  /** MP4/ISO-BMFF container parse end-to-end: per group, a two-track MP4
    * (avc1 video + mp4a audio) is synthesized box-by-box from quantized
    * event values — odd groups use the 64-bit version-1 header variants
    * and co64 offsets, the audio track the constant-size stsz form — then
    * parsed back distributed (`Mp4.parse`). Every output field (geometry,
    * durations, sample/keyframe/chunk census, byte totals) is recomputed
    * by the oracle from the event stream itself, so the box walk is
    * checked against the parameters, not against its own output.
    */
  q("q_mp4_meta",
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(71)},
        |p AS (SELECT g,
        |    max(CASE WHEN rn = 1 THEN v END) AS v1,
        |    max(CASE WHEN rn = 2 THEN v END) AS v2,
        |    max(CASE WHEN rn = 3 THEN v END) AS v3,
        |    max(CASE WHEN rn = 4 THEN v END) AS v4,
        |    max(CASE WHEN rn = 5 THEN v END) AS v5,
        |    max(CASE WHEN rn = 6 THEN v END) AS v6,
        |    max(CASE WHEN rn = 7 THEN v END) AS v7
        |  FROM e GROUP BY g),
        |par AS (SELECT g,
        |    16 * (1 + ((v1 % 16) + 16) % 16) AS vw,
        |    8 * (1 + ((v2 % 32) + 32) % 32) AS vh,
        |    24 + ((v3 % 40) + 40) % 40 AS n,
        |    100 + ((v4 % 50) + 50) % 50 AS d,
        |    1 + ((v5 % 7) + 7) % 7 AS ks,
        |    1 + ((v6 % 9) + 9) % 9 AS cs,
        |    4096 + 16 * (((v7 % 64) + 64) % 64) AS foff,
        |    1 + ((v1 % 2) + 2) % 2 AS ach,
        |    8000 * (1 + ((v2 % 5) + 5) % 5) AS arate,
        |    128 + ((v3 % 128) + 128) % 128 AS asz,
        |    40 + ((v4 % 60) + 60) % 60 AS an,
        |    1 + ((v5 % 11) + 11) % 11 AS aspc,
        |    8192 + 16 * (((v6 % 64) + 64) % 64) AS afoff,
        |    500 + ((v7 % 5000) + 5000) % 5000 AS mvdur
        |  FROM p),
        |vb AS (SELECT e.g,
        |    CAST(sum(200 + ((v % 800) + 800) % 800) AS BIGINT) AS vbytes
        |  FROM e JOIN par USING (g) WHERE rn BETWEEN 9 AND 8 + n GROUP BY e.g),
        |vid AS (SELECT par.g, 'isom' AS brand, CAST(1000 AS BIGINT) AS mv_timescale,
        |    CAST(mvdur AS BIGINT) AS mv_duration, CAST(1 AS BIGINT) AS track_id,
        |    'vide' AS handler, 'avc1' AS codec,
        |    CAST(vw AS INTEGER) AS width, CAST(vh AS INTEGER) AS height,
        |    CAST(0 AS INTEGER) AS channels, CAST(0 AS INTEGER) AS sample_rate,
        |    CAST(600 AS BIGINT) AS timescale, CAST(n * d AS BIGINT) AS duration,
        |    CAST(n AS BIGINT) AS n_samples, vbytes AS total_bytes,
        |    CAST((n + ks - 1) // ks AS BIGINT) AS n_sync,
        |    CAST((n + cs - 1) // cs AS BIGINT) AS n_chunks,
        |    CAST(foff AS BIGINT) AS first_off
        |  FROM par JOIN vb USING (g)),
        |aud AS (SELECT g, 'isom' AS brand, CAST(1000 AS BIGINT) AS mv_timescale,
        |    CAST(mvdur AS BIGINT) AS mv_duration, CAST(2 AS BIGINT) AS track_id,
        |    'soun' AS handler, 'mp4a' AS codec,
        |    CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
        |    CAST(ach AS INTEGER) AS channels, CAST(arate AS INTEGER) AS sample_rate,
        |    CAST(arate AS BIGINT) AS timescale, CAST(an * 256 AS BIGINT) AS duration,
        |    CAST(an AS BIGINT) AS n_samples, CAST(an * asz AS BIGINT) AS total_bytes,
        |    CAST(an AS BIGINT) AS n_sync,
        |    CAST((an + aspc - 1) // aspc AS BIGINT) AS n_chunks,
        |    CAST(afoff AS BIGINT) AS first_off
        |  FROM par)
        |SELECT * FROM vid UNION ALL SELECT * FROM aud
        |ORDER BY g, track_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.functions.Mp4
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the params
        val smp = cyclePad(rows, 71) // max position: sizes rn 9 .. 8+63
        def m(i: Int, k: Int): Int = ((smp(i - 1)._3 % k) + k) % k // 1-indexed rn
        val vw = 16 * (1 + m(1, 16)); val vh = 8 * (1 + m(2, 32))
        val n = 24 + m(3, 40); val d = 100 + m(4, 50)
        val ks = 1 + m(5, 7); val cs = 1 + m(6, 9)
        val foff = 4096L + 16 * m(7, 64)
        val sizes = Array.tabulate(n)(i => 200L + m(9 + i, 800)) // rn 9 .. 8+n
        val ach = 1 + m(1, 2); val arate = 8000 * (1 + m(2, 5))
        val asz = 128L + m(3, 128); val an = 40L + m(4, 60)
        val aspc = 1 + m(5, 11); val afoff = 8192L + 16 * m(6, 64)
        val v1 = g % 2 == 1
        val video = Mp4.TrackSpec(1L, "vide", "avc1", vw, vh, 0, 0,
          600L, d.toLong, Right(sizes), Some(ks), cs, foff, 512L, v1)
        val audio = Mp4.TrackSpec(2L, "soun", "mp4a", 0, 0, ach, arate,
          arate.toLong, 256L, Left((asz, an)), None, aspc, afoff, 512L, v1 = false)
        (g, Mp4.render("isom", 1000L, 500L + m(7, 5000), Seq(video, audio), v1))
      }.toDF("g", "mp4")
    MultimodalOps.mp4Meta(payloads, "g", "mp4")
      .orderBy("g", "track_id")
  }

  /** AVC/H.264 SPS gate: per group a baseline-profile sequence parameter
    * set is rendered from event-derived geometry (macroblock counts,
    * frame-crop offsets, level), then parsed back DISTRIBUTED through the
    * exp-Golomb reader — codec-level width/height must reproduce the
    * §7.4.2.1.1 arithmetic the oracle recomputes from the raw parameters.
    * This is the bitstream-truth layer under q_mp4_meta's container walk.
    */
  q("q_avc_sps",
    // SPS mirror: §7.4.2.1.1 geometry recomputed from the event-derived
    // parameters — crop units 2 (X) and 2·(2−frame_mbs_only) (Y), field
    // doubling when frame_mbs_only = 0.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(8)},
        |p AS (SELECT g,
        |    max(CASE WHEN rn = 1 THEN v END) AS v1,
        |    max(CASE WHEN rn = 2 THEN v END) AS v2,
        |    max(CASE WHEN rn = 3 THEN v END) AS v3,
        |    max(CASE WHEN rn = 4 THEN v END) AS v4,
        |    max(CASE WHEN rn = 5 THEN v END) AS v5,
        |    max(CASE WHEN rn = 6 THEN v END) AS v6,
        |    max(CASE WHEN rn = 7 THEN v END) AS v7,
        |    max(CASE WHEN rn = 8 THEN v END) AS v8
        |  FROM e GROUP BY g),
        |par AS (SELECT g,
        |    10 + ((v1 % 41) + 41) % 41 AS lvl,
        |    2 + ((v2 % 39) + 39) % 39 AS wmbs,
        |    2 + ((v3 % 29) + 29) % 29 AS hmu,
        |    CASE WHEN ((v4 % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END AS fmof,
        |    ((v5 % 4) + 4) % 4 AS cl, ((v6 % 4) + 4) % 4 AS cr,
        |    ((v7 % 2) + 2) % 2 AS ct, ((v8 % 2) + 2) % 2 AS cb
        |  FROM p)
        |SELECT g, 66 AS profile, CAST(lvl AS INT) AS level,
        |  CAST(wmbs * 16 - 2 * (cl + cr) AS INT) AS width,
        |  CAST(CASE WHEN fmof = 1 THEN hmu * 16 - 2 * (ct + cb)
        |       ELSE 2 * hmu * 16 - 4 * (ct + cb) END AS INT) AS height,
        |  CAST(fmof AS INT) AS frame_mbs_only
        |FROM par ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.functions.Avc
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        val smp = cyclePad(rows, 8)
        def m(i: Int, k: Int): Int = ((smp(i - 1)._3 % k) + k) % k
        val sps = Avc.Sps(profileIdc = 66, levelIdc = 10 + m(1, 41),
          widthMbs = 2 + m(2, 39), heightMapUnits = 2 + m(3, 29),
          frameMbsOnly = m(4, 2) == 0,
          cropL = m(5, 4), cropR = m(6, 4), cropT = m(7, 2), cropB = m(8, 2))
        (g, Avc.renderSps(sps))
      }.toDF("g", "sps")
    payloads.as[(Long, Array[Byte])].map { case (g, nal) =>
      val p = graft.functions.Avc.parseSps(nal)
      (g, p.profileIdc, p.levelIdc, p.width, p.height,
        if (p.frameMbsOnly) 1 else 0)
    }.toDF("g", "profile", "level", "width", "height", "frame_mbs_only")
      .orderBy("g")
  }

  /** Compressed-audio metadata gate: per group a FLAC STREAMINFO stream
    * and an MPEG-1 Layer III frame are synthesized from event-derived
    * parameters and parsed back distributed — geometry, rates, duration,
    * and the Layer III frame-length arithmetic all recomputed by the
    * oracle from the raw parameters.
    */
  q("q_audio_meta",
    // MP4 mirror: every container field re-derived from the event stream
    // with the same modular arithmetic the fixture builder uses, so the
    // box walk is checked against the parameters.
    // Audio-metadata mirror: FLAC geometry/duration and the Layer III
    // frame-length arithmetic recomputed from the raw parameters.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |${cycCte(8)},
        |p AS (SELECT g,
        |    max(CASE WHEN rn = 1 THEN v END) AS v1,
        |    max(CASE WHEN rn = 2 THEN v END) AS v2,
        |    max(CASE WHEN rn = 3 THEN v END) AS v3,
        |    max(CASE WHEN rn = 4 THEN v END) AS v4,
        |    max(CASE WHEN rn = 5 THEN v END) AS v5,
        |    max(CASE WHEN rn = 6 THEN v END) AS v6,
        |    max(CASE WHEN rn = 7 THEN v END) AS v7,
        |    max(CASE WHEN rn = 8 THEN v END) AS v8
        |  FROM e GROUP BY g),
        |par AS (SELECT g,
        |    CASE ((v1 % 8) + 8) % 8 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 22050 WHEN 3 THEN 24000 WHEN 4 THEN 32000
        |      WHEN 5 THEN 44100 WHEN 6 THEN 48000 ELSE 96000 END AS fr,
        |    1 + ((v2 % 8) + 8) % 8 AS fc,
        |    CASE WHEN ((v3 % 2) + 2) % 2 = 0 THEN 16 ELSE 24 END AS fb,
        |    1000 + ((v4 % 100000) + 100000) % 100000 AS fs,
        |    CASE ((v5 % 14) + 14) % 14 WHEN 0 THEN 32 WHEN 1 THEN 40
        |      WHEN 2 THEN 48 WHEN 3 THEN 56 WHEN 4 THEN 64 WHEN 5 THEN 80
        |      WHEN 6 THEN 96 WHEN 7 THEN 112 WHEN 8 THEN 128 WHEN 9 THEN 160
        |      WHEN 10 THEN 192 WHEN 11 THEN 224 WHEN 12 THEN 256
        |      ELSE 320 END AS mk,
        |    CASE ((v6 % 3) + 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END AS mr,
        |    ((v7 % 2) + 2) % 2 AS pad,
        |    1 + ((v8 % 2) + 2) % 2 AS mc
        |  FROM p)
        |SELECT g, CAST(fr AS INT) AS f_rate, CAST(fc AS INT) AS f_channels,
        |  CAST(fb AS INT) AS f_bits, CAST(fs AS BIGINT) AS f_samples,
        |  round(CAST(fs AS DOUBLE) / fr + 1e-9, 4) AS dur_r,
        |  CAST(mk AS INT) AS m_bitrate, CAST(mr AS INT) AS m_rate,
        |  CAST(mc AS INT) AS m_channels,
        |  CAST(floor(144.0 * mk * 1000 / mr) + pad AS BIGINT) AS m_frame_bytes
        |FROM par ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.functions.AudioMeta
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val rates = Array(8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000)
    val kbps = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2)
        val smp = cyclePad(rows, 8)
        def m(i: Int, k: Int): Int = ((smp(i - 1)._3 % k) + k) % k
        val flac = AudioMeta.renderFlacStreamInfo(AudioMeta.FlacInfo(
          minBlock = 4096, maxBlock = 4096, sampleRate = rates(m(1, 8)),
          channels = 1 + m(2, 8), bitsPerSample = if (m(3, 2) == 0) 16 else 24,
          totalSamples = 1000L + m(4, 100000)))
        val mp3 = AudioMeta.renderMp3Frame(AudioMeta.Mp3Frame(
          bitrateKbps = kbps(m(5, 14)), sampleRate = Array(44100, 48000, 32000)(m(6, 3)),
          padding = m(7, 2) == 1, channels = 1 + m(8, 2)))
        (g, flac, mp3)
      }.toDF("g", "flac", "mp3")
    payloads.as[(Long, Array[Byte], Array[Byte])].map { case (g, fb, mb) =>
      val f = AudioMeta.parseFlacStreamInfo(fb)
      val m3 = AudioMeta.parseMp3Frame(mb)
      (g, f.sampleRate, f.channels, f.bitsPerSample, f.totalSamples,
        f.durationSec,
        m3.bitrateKbps, m3.sampleRate, m3.channels, m3.frameBytes.toLong)
    }.toDF("g", "f_rate", "f_channels", "f_bits", "f_samples", "dur",
      "m_bitrate", "m_rate", "m_channels", "m_frame_bytes")
      // the shared eps-stabilized rounding (HALF_UP on both engines), not
      // a typed-map rint (HALF_EVEN) — boundary halves must agree
      .select(col("g"), col("f_rate"), col("f_channels"), col("f_bits"),
        col("f_samples"), rnd("dur", 4).as("dur_r"), col("m_bitrate"),
        col("m_rate"), col("m_channels"), col("m_frame_bytes"))
      .orderBy("g")
  }

  /** Multimodal binary plumbing: opaque payload + frame-sampled window
    * fingerprints (pure binary column arithmetic; ASCII text ⇒ the DuckDB
    * VARCHAR mirror hashes the same bytes).
    */
  q("q_multimodal_frames",
      s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
         |f AS (SELECT doc_id, text, n, unnest(generate_series(0, 3)) AS frame FROM d),
         |o AS (SELECT doc_id, text, n, frame,
         |      greatest(1, 1 + (frame * (n - 32)) // 3) AS off FROM f)
         |SELECT doc_id, n AS n_bytes, CAST(frame AS INTEGER) AS frame, off,
         |  md5(substring(text, CAST(off AS INTEGER), 32)) AS frame_md5
         |FROM o ORDER BY doc_id, frame""".stripMargin) { (s, dir) =>
    MultimodalOps.frameSample(
      MultimodalOps.withPayload(Tables.documents(s, dir), "doc_id", "text"),
      "doc_id", 4, 32)
      .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("frame"), col("off"), col("frame_md5"))
      .orderBy("doc_id", "frame")
  }

  /** WebDataset tar-shard round trip: per group, the first 40 events become
    * samples of two members each (`<key>.txt` decimal text, `<key>.bin` a
    * repeated byte whose value/length derive from v), assembled into one
    * `.tar` (even g) or `.tar.gz` (odd g) shard by [[graft.sinks.TarSink]]
    * and read back by [[graft.sources.TarSource.readSamples]] — sample
    * grouping happens inside the per-shard parse task, zero shuffles. The
    * oracle recomputes every aggregate (member/byte censuses, the decimal
    * values parsed back out of the txt payloads, the bin byte checksum)
    * from the events table, so the cycle is checked against the
    * parameters, not its own output. Member payloads are built with pure
    * column expressions (encode / unhex∘repeat∘hex) — codegen end to end.
    */
  q("q_webdataset",
    // Tar/WebDataset cycle: every aggregate recomputed from the event
    // stream the shards were synthesized from — txt payloads parse back to
    // the exact decimal values, bin byte census from the (value, length)
    // parameters.
      """WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT) AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) AS rn
        |  FROM q),
        |t AS (SELECT g, v FROM r WHERE rn <= 40)
        |SELECT CAST(g AS INT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(count(*) * 2 AS BIGINT) AS n_members,
        |  CAST(sum(len(CAST(v AS VARCHAR))) AS BIGINT) AS txt_chars,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(abs(v) % 13 + 1) AS BIGINT) AS bin_bytes,
        |  CAST(sum(((v % 256 + 256) % 256) * (abs(v) % 13 + 1)) AS BIGINT) AS bin_sum
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_wds", dir)
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("long").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("event_id")
    val ranked = quant.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 40)
      .withColumn("key", format_string("%02d-%04d", col("g"), col("rn")))
      .withColumn("shard", concat(lit("shard-"), col("g"),
        when(col("g") % 2 === 0, lit(".tar")).otherwise(lit(".tar.gz"))))
    val txt = ranked.select(col("shard"),
      concat(col("key"), lit(".txt")).as("name"),
      encode(col("v").cast("string"), "UTF-8").as("payload"),
      (col("rn") * 2).as("seq"))
    val bin = ranked.select(col("shard"),
      concat(col("key"), lit(".bin")).as("name"),
      unhex(repeat(lpad(hex(pmod(col("v"), lit(256))), 2, "0"),
        (pmod(abs(col("v")), lit(13)) + 1).cast("int"))).as("payload"),
      (col("rn") * 2 + 1).as("seq"))
    TarSink.writeShards(txt.unionByName(bin), out, mtime = 1700000000L).count()
    val samples = TarSource.readSamples(s, s"$out/*")
    val m = samples.select(col("shard"), col("key"),
        explode(arrays_zip(col("exts"), col("payloads"))).as("z"))
      .select(col("shard"), col("key"),
        col("z.exts").as("ext"), col("z.payloads").as("payload"))
    m.groupBy(regexp_extract(col("shard"), "shard-(\\d+)", 1)
        .cast("int").as("g"))
      .agg(
        countDistinct(col("key")).as("n_samples"),
        count(lit(1)).as("n_members"),
        sum(when(col("ext") === "txt", length(col("payload")))
          .otherwise(lit(0L))).as("txt_chars"),
        sum(when(col("ext") === "txt",
          decode(col("payload"), "UTF-8").cast("long"))).as("sum_v"),
        sum(when(col("ext") === "bin", length(col("payload")))
          .otherwise(lit(0L))).as("bin_bytes"),
        sum(when(col("ext") === "bin",
          conv(hex(substring(col("payload"), 1, 1)), 16, 10).cast("long")
            * length(col("payload"))).otherwise(lit(0L))).as("bin_sum"))
      .orderBy("g")
  }

  /** Perceptual image hash gate: per group a 16×16 BMP is rendered from
    * the first 256 quantized events (the media-fixture construction),
    * decoded back through the real codec, and hashed by
    * [[graft.operators.MultimodalOps.imageHashes]] (aHash + dHash over
    * exact integer luma cell sums). The oracle rebuilds the pixels, cell
    * sums, thresholds, and BOTH 64/56-bit packings from the event stream
    * (HUGEINT shifts wrapped to signed), so the hashes are pinned
    * bit-for-bit.
    */
  q("q_image_phash",
    // Pixels, luma cell sums, thresholds, and both hash packings rebuilt
    // from the event stream. DuckDB's BIGINT << errors at bit 63, so bits
    // pack as HUGEINT shifts and the sum wraps to signed two's complement
    // (subtract 2^64 when >= 2^63) to match the Spark long.
      s"""WITH q AS (SELECT user_id % 10 AS g, event_id,
        |    CAST(least(greatest(floor(value * 100), -32768), 32767) AS BIGINT)
        |      AS v
        |  FROM events),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY event_id) - 1 AS idx
        |  FROM q),
        |cnt AS (SELECT g, count(*) AS c FROM r GROUP BY 1),
        |e AS (SELECT cnt.g, gs.p AS idx, r.v
        |  FROM cnt CROSS JOIN generate_series(0, 255) gs(p)
        |  JOIN r ON r.g = cnt.g AND r.idx = gs.p % cnt.c),
        |p AS (SELECT g, idx,
        |    ((v * 1) % 256 + 256) % 256 AS red,
        |    ((v * 3) % 256 + 256) % 256 AS grn,
        |    ((v * 7) % 256 + 256) % 256 AS blu
        |  FROM e),
        |cells AS (SELECT g, (idx // 16) // 2 AS cy, (idx % 16) // 2 AS cx,
        |    sum(299 * red + 587 * grn + 114 * blu) AS cs
        |  FROM p GROUP BY 1, 2, 3),
        |tot AS (SELECT g, sum(cs) AS ts FROM cells GROUP BY 1),
        |ah AS (SELECT c.g, sum(CASE WHEN c.cs * 64 > t.ts
        |      THEN CAST(1 AS HUGEINT) << CAST(c.cy * 8 + c.cx AS INT)
        |      ELSE 0 END) AS s
        |  FROM cells c JOIN tot t USING (g) GROUP BY 1),
        |dh AS (SELECT l.g, sum(CASE WHEN l.cs < rr.cs
        |      THEN CAST(1 AS HUGEINT) << CAST(l.cy * 7 + l.cx AS INT)
        |      ELSE 0 END) AS s
        |  FROM cells l JOIN cells rr
        |    ON l.g = rr.g AND l.cy = rr.cy AND rr.cx = l.cx + 1
        |  GROUP BY 1)
        |SELECT ah.g, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(CASE WHEN ah.s >= 9223372036854775808
        |       THEN ah.s - 18446744073709551616 ELSE ah.s END AS BIGINT)
        |    AS ahash,
        |  CAST(CASE WHEN dh.s >= 9223372036854775808
        |       THEN dh.s - 18446744073709551616 ELSE dh.s END AS BIGINT)
        |    AS dhash
        |FROM ah JOIN dh USING (g) ORDER BY g""".stripMargin) { (s, dir) =>
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    val payloads = quant.as[(Long, Long, Int)].groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the image
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val px = cyclePad(rows, 256)
          .map(r => (ch(r._3, 1), ch(r._3, 3), ch(r._3, 7)))
        (g, graft.functions.Media.renderBmp(16, 16, px))
      }.toDF("g", "bmp")
    MultimodalOps.imageHashes(payloads, "g", "bmp").orderBy("g")
  }

  /** Image corpus for the near-dup gate: the q_image_phash base images
    * (g 0–9) plus, per base, a NEAR-DUP copy under g+100 (one pixel's
    * red channel shifted — a few aHash bits at most) and an EXACT copy
    * under g+200 (Hamming 0). Deterministic event-stream pixels, so the
    * corpus is identical across runs.
    */
  private def phashCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quant = Tables.events(s, dir).select(
      (col("user_id") % 10).as("g"), col("event_id"),
      least(greatest(floor(col("value") * 100), lit(-32768L)), lit(32767L))
        .cast("int").as("v"))
    quant.as[(Long, Long, Int)].groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val rows = it.toArray.sortBy(_._2) // event_id order fixes the image
        def ch(v: Int, m: Int): Int = (((v.toLong * m) % 256 + 256) % 256).toInt
        val px = cyclePad(rows, 256)
          .map(r => (ch(r._3, 1), ch(r._3, 3), ch(r._3, 7)))
        val base = graft.functions.Media.renderBmp(16, 16, px)
        val perturbed = px.clone()
        perturbed(0) = ((perturbed(0)._1 + 8) % 256, perturbed(0)._2,
          perturbed(0)._3)
        Seq((g, base),
          (g + 100L, graft.functions.Media.renderBmp(16, 16, perturbed)),
          (g + 200L, base))
      }.toDF("g", "bmp")
  }

  /** Banded perceptual-hash near-dup pairs over the 30-image corpus: the
    * engine runs the band-bucketed join (never all-pairs), the oracle
    * brute-forces Hamming over the materialized hash table — equal
    * output IS the pigeonhole recall proof at ≤ maxHamming. Exact copies
    * pin Hamming 0; perturbed copies land within a few bits.
    */
  q("q_phash_pairs",
    // Image near-dup mirror: brute-force Hamming over the materialized
    // perceptual-hash table — banding is recall-exact at ≤ maxHamming by
    // pigeonhole, so the engine's bucketed join must equal this scan.
      s"""WITH h AS (SELECT g, ahash FROM '$PhashTableDir/*.parquet')
         |SELECT a.g AS ia, b.g AS ib,
         |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.g < b.g
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
         |ORDER BY ia, ib""".stripMargin) { (s, dir) =>
    val payloads = phashCorpus(s, dir)
    MultimodalOps.imageHashes(payloads, "g", "bmp")
      .select(col("g"), col("ahash"))
      .coalesce(1).write.mode("overwrite").parquet(PhashTableDir)
    MultimodalOps.imageNearDupPairs(payloads, "g", maxHamming = 8,
      payloadCol = "bmp")
      .orderBy("ia", "ib")
  }
}
