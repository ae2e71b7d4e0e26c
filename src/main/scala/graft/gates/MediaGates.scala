package graft.gates

import org.apache.spark.sql.functions._
import GateInputs._

/** The media gates (`m*`): synthetic image, audio, video and document
  * payloads decoded and measured in the engine, replayed in closed form. */
object MediaGates {

  val gates: Seq[Gate] = List(
    Gate("m02_frame_sample",
      """SELECT p_partkey AS media_id,
        | ((p_partkey % 10000 + 1000) - 1) // 500 + 1 AS n_frames
        |FROM part WHERE p_partkey % 3 = 2 ORDER BY media_id""".stripMargin) { (s, d) =>
      // multimodal: video rows exploded into sampled frame timestamps
      val media = graft.llm.Multimodal.syntheticMedia(t(s, d, "part"), "p_partkey")
      graft.llm.Multimodal.sampleFrames(media, everyMs = 500L)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    },
    Gate("m03_resize",
      // m01's sum_r/g/b replay the DECODED pixels of the synthetic P6 PPMs:
      // channel value (id*7 + y*11 + x*13 + c*17) % 256 over a
      // (4 + id%5) × (3 + id%4) raster — if the engine's PPM decoder reads
      // the header or raster wrong, these sums cannot match.
      // m03: replay the integer nearest-neighbour resample analytically —
      // output dims (2·d·4 + m)/(2m) round-half-up, source pixel
      // ((x'·w)//w2, (y'·h)//h2), channel value from the synthetic formula.
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w, 3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), dims AS (
        |  SELECT media_id, w, h,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN w
        |         ELSE GREATEST((2 * w * 4 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1)
        |    END AS w2,
        |    CASE WHEN GREATEST(w, h) <= 4 THEN h
        |         ELSE GREATEST((2 * h * 4 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1)
        |    END AS h2
        |  FROM img
        |)
        |SELECT d.media_id, CAST(d.w2 AS INT) AS width, CAST(d.h2 AS INT) AS height,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM dims d,
        |  LATERAL (SELECT unnest(range(d.h2)) AS y) y,
        |  LATERAL (SELECT unnest(range(d.w2)) AS x) x
        |GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin) { (s, d) =>
      // multimodal RESIZE with real pixels: PPM rows downsample to fit
      // maxDim=4 via integer nearest-neighbour (src = (x'·w)/w' integer
      // division), re-encode as P6, and imageStats re-decodes the RESIZED
      // payload — the oracle replays the exact pixel mapping analytically
      // from the synthetic formula, so a resample bug (coordinate math,
      // raster offset, header) breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.imageStats(
          graft.llm.Multimodal.resizeImages(media, maxDim = 4))
        .orderBy("media_id")
    },
    Gate("m22_image_dhash",
      // m04: replay the DECODED PCM16 samples of the synthetic WAVs —
      // 1 + id%2 channels at 8 kHz, 100 + id%50 frames, sample value
      // (id·31 + frame·7 + ch·13) % 4096 − 2048 — if the engine's RIFF
      // walk, fmt parse, or little-endian sample read is wrong, these
      // exact sums cannot match.
      // m22: replay every dHash bit from the synthetic pixel formula
      // through the same 9×8 grid mapping; per-channel mod BEFORE the
      // gray sum, exactly as the decoded bytes come back.
      """WITH img AS (
        |  SELECT p_partkey AS media_id, 4 + p_partkey % 5 AS w,
        |    3 + p_partkey % 4 AS h
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 0
        |), g AS (
        |  SELECT media_id, y.y AS y, x.x AS x,
        |    ((media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 17) % 256
        |     + (media_id * 7 + ((y.y * h) // 8) * 11 + ((x.x * w) // 9) * 13 + 34) % 256) AS gr
        |  FROM img,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.y * 8 + a.x AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id
        |    AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8 AND a.gr > b.gr
        |)
        |SELECT i.media_id,
        |  CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |    THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |  CAST(COALESCE(SUM(CASE WHEN idx < 32
        |    THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |FROM img i LEFT JOIN bits b USING (media_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      // perceptual dHash over real decoded pixels (Multimodal.imageDHash)
      // — the image near-dup fingerprint: 9×8 nearest-neighbour grid,
      // gray = r+g+b, bit = left>right gradient, 64 bits split into two
      // unsigned halves. The oracle replays every bit from the synthetic
      // pixel formula through the same grid mapping — a resample-index,
      // channel-order, or bit-packing bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
        .filter(col("meta.media_type") === "image")
      graft.llm.Multimodal.imageDHash(media).orderBy("media_id")
    },
    Gate("m21_audio_features",
      // m21: replay ZCR + abs-sum from the synthetic PCM formula with a
      // lag window over the per-channel sample series.
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 1
        |), samp AS (
        |  SELECT a.media_id, c.c, f.f,
        |    (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 AS x,
        |    a.nf
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f
        |), lagged AS (
        |  SELECT *, lag(x) OVER (PARTITION BY media_id, c ORDER BY f) AS lx
        |  FROM samp
        |)
        |SELECT media_id, CAST(c AS INT) AS channel,
        |  CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
        |  CAST(SUM(CASE WHEN lx IS NOT NULL AND (x >= 0) <> (lx >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  CAST(SUM(ABS(x)) AS BIGINT) AS abs_sum,
        |  ROUND(CAST(SUM(ABS(x)) AS DOUBLE) / ANY_VALUE(nf), 4) AS mean_abs
        |FROM lagged GROUP BY 1, 2 ORDER BY media_id, channel""".stripMargin) { (s, d) =>
      // audio FEATURE extraction over real decoded PCM (Multimodal
      // .audioFeatures): per-channel zero-crossing count + mean absolute
      // amplitude — the cheap VAD/energy screens an audio-curation pass
      // runs corpus-wide. Exact integer ZCR/abs-sum on decoded samples;
      // the oracle replays both from the synthetic sample formula with a
      // lag window, so a channel-interleave, sign, or frame-walk bug
      // breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
        .filter(col("meta.media_type") === "audio")
      graft.llm.Multimodal.audioFeatures(media)
        .orderBy("media_id", "channel")
    },
    Gate("m04_audio_stats",
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 1
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin) { (s, d) =>
      // multimodal AUDIO decode with real samples: WAV rows parse the
      // RIFF chunk walk and PCM16LE frames in pure JVM
      // (Multimodal.decodeWav) and audioStats folds exact integer
      // channel sums — the oracle replays every sum from the synthetic
      // formula, so a header-walk, alignment, or endianness bug breaks
      // the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    },
    Gate("m05_video_stats",
      // m05: replay the DECODED y4m planes — (4 + id%3·2) × (4 + id%2·2)
      // frames ×(3 + id%4) at 25 fps, plane byte
      // (id·7 + f·31 + y·11 + x·13 + plane·29) % 256 over the luma raster
      // and the two quarter chroma rasters — if the engine's header walk,
      // plane sizing, or frame stride is wrong, these exact sums cannot
      // match.
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    4 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    3 + p_partkey % 4 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 2
        |), ysum AS (
        |  SELECT v.media_id,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_y
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(v.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w)) AS x) x
        |  GROUP BY 1
        |), csum AS (
        |  SELECT v.media_id,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13 + 29) % 256) AS BIGINT) AS sum_u,
        |    CAST(SUM((v.media_id * 7 + f.f * 31 + y.y * 11 + x.x * 13 + 58) % 256) AS BIGINT) AS sum_v
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.h // 2)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w // 2)) AS x) x,
        |    LATERAL (SELECT unnest(range(v.nf)) AS f) f
        |  GROUP BY 1
        |)
        |SELECT v.media_id, CAST(v.w AS INT) AS width, CAST(v.h AS INT) AS height,
        |  CAST(v.nf AS INT) AS n_frames, CAST(v.nf * 40 AS BIGINT) AS measured_ms,
        |  ysum.sum_y, csum.sum_u, csum.sum_v
        |FROM v JOIN ysum USING (media_id) JOIN csum USING (media_id)
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      // multimodal VIDEO decode with real frames: y4m rows parse the
      // YUV4MPEG2 header and raw C420 planes in pure JVM
      // (Multimodal.decodeY4m) and videoStats folds exact per-plane byte
      // sums + the MEASURED duration from frames/fps — the oracle
      // replays every sum from the synthetic formula, so a header-parse,
      // plane-size, or frame-walk bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.videoStats(media).orderBy("media_id")
    },
    Gate("m06_frame_sample_decoded",
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    4 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    3 + p_partkey % 4 AS nf
        |  FROM part WHERE p_partkey <= 200 AND p_partkey % 3 = 2
        |), fr AS (
        |  SELECT v.media_id, v.w, v.h, f.f
        |  FROM v, LATERAL (SELECT unnest(range(v.nf)) AS f) f
        |  WHERE f.f % 2 = 0
        |)
        |SELECT fr.media_id, CAST(fr.f AS INT) AS frame_idx,
        |  CAST(SUM((fr.media_id * 7 + fr.f * 31 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS luma_sum
        |FROM fr,
        |  LATERAL (SELECT unnest(range(fr.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(fr.w)) AS x) x
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      // frame sampling over REAL decoded frames (the decoded-pixel
      // complement of m02's metadata-driven variant): every 2nd frame of
      // each y4m clip with its exact luma byte sum — the oracle replays
      // sums at exactly the sampled indexes, so a frame-stride or
      // plane-offset bug breaks the hash.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      graft.llm.Multimodal.sampleDecodedFrames(media, every = 2)
        .orderBy("media_id", "frame_idx")
    },
    Gate("m07_png_decode",
      // m07: the decoded-PNG channel sums replay in closed form from
      // syntheticPng's pixel formula (identical to m01's PPM formula; the
      // alpha channel of odd ids is dropped by decode, so the sums are
      // color-type-independent) — the Spark side must reach the same longs
      // through a REAL inflate + filter reversal.
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin) { (s, d) =>
      // REAL PNG decode (Multimodal.decodePng): payloads are genuine PNG
      // files — zlib-deflated IDAT, CRC-checked chunks, every scanline
      // filter type (syntheticPng filters row y with type y%5, even ids
      // RGB / odd ids RGBA) — and the oracle replays the DECODED channel
      // sums from the closed-form pixel formula, so an inflate, filter-
      // reversal, CRC or alpha-handling bug breaks the hash. This is the
      // crawl-shaped image path: PPM (m01) never arrives over the wire.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPng(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m08_png_resize",
      // m08: resized-PNG channel sums — compose the m07 pixel formula with
      // the integer nearest-neighbour mapping (round-half-up dims via the
      // (2·d·maxDim + m) / (2m) rational, source pixel (x'·w)//w2); all
      // divisions are positive-integer floor divisions in both engines.
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), d2 AS (
        |  SELECT media_id, w, h,
        |    GREATEST((2 * w * 6 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1) AS w2,
        |    GREATEST((2 * h * 6 + GREATEST(w, h)) // (2 * GREATEST(w, h)), 1) AS h2
        |  FROM img
        |)
        |SELECT d.media_id,
        |  CAST(MAX(d.w2) AS INT) AS width, CAST(MAX(d.h2) AS INT) AS height,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((d.media_id * 7 + ((y.y * d.h) // d.h2) * 11 + ((x.x * d.w) // d.w2) * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM d2 d,
        |  LATERAL (SELECT unnest(range(d.h2)) AS y) y,
        |  LATERAL (SELECT unnest(range(d.w2)) AS x) x
        |GROUP BY d.media_id ORDER BY d.media_id""".stripMargin) { (s, d) =>
      // PNG decode → nearest-neighbour resize → re-encode → decode,
      // end-to-end (decodePng + resizeImages + imageStats): the oracle
      // replays the RESIZED channel sums by composing the closed-form
      // pixel formula with the integer resample mapping sx = (x'·w)/w2,
      // sy = (y'·h)/h2 — so the whole codec chain (inflate, filter
      // reversal, resample arithmetic, P6 re-encode) must agree with
      // exact integer arithmetic in a second engine.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPng(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
        .withColumn("meta", struct(
          lit("image").as("media_type"), lit("png").as("format"),
          (col("media_id") % 9 + 8).cast("int").as("width"),
          (col("media_id") % 6 + 5).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")))
      graft.llm.Multimodal.imageStats(
          graft.llm.Multimodal.resizeImages(media, maxDim = 6))
        .orderBy("media_id")
    },
    Gate("m09_gif_decode",
      // m09: decoded-GIF channel sums — the pixel-index formula composed
      // with the palette formula, all integer mod arithmetic
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    24 + (p_partkey % 9) * 2 AS w, 20 + (p_partkey % 7) * 2 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h,
        |    (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // REAL GIF decode (Multimodal.decodeGif): payloads are genuine
      // GIF89a files — 256-entry palette, variable-width LZW with live
      // dictionary growth and the 512-entry code-width escalation on the
      // larger ids, LSB-first bit packing, sub-block chains — and the
      // oracle composes the pixel-index formula with the palette formula
      // in closed form, so an LZW width/dictionary bug, palette misread
      // or sub-block walk error breaks the hash.
      import s.implicits._
      val gif = udf((id: Long) => graft.llm.Multimodal.syntheticGif(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", gif(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m11_jpeg_decode",
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    2 + p_partkey % 3 AS wb, 2 + p_partkey % 2 AS hb
        |  FROM part WHERE p_partkey <= 300
        |), blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), px AS (
        |  SELECT media_id, wb, hb,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id,
        |  CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // REAL baseline JPEG decode (Multimodal.decodeJpeg): payloads are
      // genuine entropy-coded JPEG streams — canonical huffman tables,
      // differential DC, byte stuffing, dequant, exact IDCT, and CCIR-601
      // YCbCr→RGB on the odd (color) ids. Blocks are planted DC-only
      // constants, so the decoded channel sums are closed-form: the
      // oracle composes the block formula with the SAME color-conversion
      // expression (portable: one fixed IEEE op tree + positive-ties
      // ROUND). A huffman, EXTEND, dequant, IDCT-scale, or conversion
      // bug anywhere breaks the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpeg(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m17_flac_decode",
      // m11: decoded-JPEG channel sums — per-block planted constants
      // (DC-only blocks decode exactly), grayscale on even ids, CCIR-601
      // conversion on odd ids replayed with the decoder's own op order
      // (positive values ⇒ ROUND ties agree across engines)
      // m16: every format's closed form, routed by media_id % 8 and
      // UNION ALL'd — the dispatch twin of the per-format oracles
      // m17: replay the DECODED FLAC PCM — same planted formula as m04
      // (1 + id%2 channels, 100 + id%50 frames at 8 kHz, sample
      // (id·31 + f·7 + ch·13) % 4096 − 2048); FLAC is lossless, so the
      // decoded sums must equal the formula exactly no matter which
      // subframe types / partition orders / stereo modes the encoder chose
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin) { (s, d) =>
      // COMPRESSED audio decode (Flac.decodeFlac): payloads are genuine
      // FLAC streams — STREAMINFO walk, CRC-8/16-verified frames, Rice
      // residuals (4- AND 5-bit params, partition order 1, the raw-bits
      // escape code), fixed + LPC predictors, verbatim subframes, and
      // mid/side stereo decorrelation — and the oracle replays the
      // DECODED PCM sums from the planted formula, so a bit-reader,
      // predictor, zigzag, partition, or decorrelation bug anywhere in
      // the codec breaks the hash. This is the crawl-shaped audio path:
      // raw PCM WAV (m04) rarely arrives over the wire.
      import s.implicits._
      val media = graft.llm.Flac.syntheticFlacTable(
        t(s, d, "part").filter(col("p_partkey") <= 300), "p_partkey")
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    },
    Gate("m18_audio_matrix",
      // m18: the audio dispatch matrix — four closed forms (PCM16 WAV, the
      // three wavExt codecs, FLAC, AIFF) keyed by id%4, UNION ALL'd; a
      // magic-byte misrouting surfaces as the wrong branch's sums. Branch 1
      // (syntheticWavExt) picks ITS codec by id%3, so that branch replays
      // m14's µ-law/A-law/float32 forms under the id%4=1 filter.
      """WITH w1 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 0
        |), w1s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM w1 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), w1o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM w1s
        |), w2 AS ( -- id%4=1 -> syntheticWavExt; ITS codec = id%3
        |  SELECT p_partkey AS media_id,
        |    80 + p_partkey % 40 AS frames, p_partkey % 3 AS enc
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 1
        |), w2m AS (
        |  SELECT c.media_id, c.enc, c.frames,
        |    255 - ((c.media_id * 31 + i.i * 7) % 256) AS u,
        |    xor((c.media_id * 31 + i.i * 7) % 256, 85) AS a,
        |    (c.media_id * 31 + i.i * 7) % 4096 - 2048 AS k
        |  FROM w2 c, LATERAL (SELECT unnest(range(c.frames)) AS i) i
        |), w2d AS (
        |  SELECT media_id, frames,
        |    CASE WHEN enc = 2 THEN k
        |         WHEN enc = 0 THEN CASE WHEN u >= 128
        |           THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
        |           ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132 END
        |         ELSE (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
        |           (CASE WHEN ((a // 16) % 8) = 0 THEN (a % 16) * 16 + 8
        |                 WHEN ((a // 16) % 8) = 1 THEN (a % 16) * 16 + 264
        |                 ELSE ((a % 16) * 16 + 264) * (1 << (((a // 16) % 8) - 1)) END)
        |    END AS s
        |  FROM w2m
        |), w2o AS (
        |  SELECT media_id, CAST(1 AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(MAX(frames) AS INT) AS n_frames,
        |    CAST(MAX(frames) // 8 AS BIGINT) AS duration_ms,
        |    CAST(SUM(s) AS BIGINT) AS sum_ch0,
        |    CAST(0 AS BIGINT) AS sum_rest
        |  FROM w2d GROUP BY media_id
        |), f3 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 2
        |), f3s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 31 + f.f * 7) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 31 + f.f * 7 + c.c * 13) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM f3 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), f3o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(8000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 8000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM f3s
        |), a4 AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    90 + p_partkey % 40 AS nf
        |  FROM part WHERE p_partkey <= 300 AND p_partkey % 4 = 3
        |), a4s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 37 + f.f * 11) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 37 + f.f * 11 + c.c * 17) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a4 a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |), a4o AS (
        |  SELECT media_id, CAST(nc AS INT) AS channels,
        |    CAST(16000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |    CAST(nf * 1000 // 16000 AS BIGINT) AS duration_ms, sum_ch0, sum_rest
        |  FROM a4s
        |)
        |SELECT * FROM w1o UNION ALL SELECT * FROM w2o UNION ALL
        |SELECT * FROM f3o UNION ALL SELECT * FROM a4o
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      // the FULL audio-format matrix through ONE decode dispatch (the
      // audio complement of m16): ids route by modulo to PCM16 WAV /
      // G.711 A-law WAV / FLAC / AIFF, and Multimodal.decodeAudio must
      // route every payload to the right codec by magic bytes — a
      // misrouting or an over-eager decoder anywhere in the chain breaks
      // this hash even while every single-format gate stays green.
      import s.implicits._
      val build = udf((id: Long) => ((id % 4).toInt: @unchecked) match {
        case 0 => graft.llm.Multimodal.syntheticWav(id)
        case 1 => graft.llm.Multimodal.syntheticWavExt(id) // codec = id%3
        case 2 => graft.llm.Flac.syntheticFlac(id)
        case 3 => graft.llm.Multimodal.syntheticAiff(id)
      })
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    },
    Gate("m23_keyframes",
      // m20: consecutive-frame luma SADs from the scene-keyed pixel formula
      // (plane 0 term), ABS of the %256 wrap per pixel; is_cut compares
      // against mean-threshold 8 x pixels
      // m23: scenes are planted at every seg frames, so keyframes sit at
      // k·seg and each keyframe's luma sum replays from the pixel formula.
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), scenes AS (
        |  SELECT media_id, w, h, s.s AS scene, s.s * seg AS kf
        |  FROM v, LATERAL (SELECT unnest(range((nf + seg - 1) // seg)) AS s) s
        |)
        |SELECT media_id, CAST(scene AS INT) AS scene,
        |  CAST(kf AS INT) AS keyframe_idx,
        |  CAST(SUM((media_id * 7 + scene * 97 + y.y * 11 + x.x * 13) % 256)
        |    AS BIGINT) AS luma_sum
        |FROM scenes,
        |  LATERAL (SELECT unnest(range(h)) AS y) y,
        |  LATERAL (SELECT unnest(range(w)) AS x) x
        |GROUP BY 1, 2, 3 ORDER BY media_id, scene""".stripMargin) { (s, d) =>
      // KEYFRAME-per-shot selection (Multimodal.videoKeyframes) — the
      // curation step after m20's cut detection: one representative
      // frame (the shot's first) per detected scene with its exact luma
      // sum, composed in one decode pass. On the scene-segmented
      // fixture every boundary SAD trips the threshold, so scenes and
      // keyframe indexes are closed-form (k·seg) and the oracle replays
      // each keyframe's luma sum from the pixel formula.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoKeyframes(media)
        .orderBy("media_id", "scene")
    },
    Gate("m25_mp3_walk",
      // m25 + s38 (stream ≡ batch): MP3 frame-header walk — every field
      // from the generator's closed form, incl. the per-frame padding
      // length arithmetic
      mp3WalkOracleSql) { (s, d) =>
      // MP3 FRAME-HEADER walk (llm/Mp3): payloads are real MPEG-1
      // Layer III frame chains behind genuine ID3v2 tags (syncsafe
      // size skip) with ID3v1 trailers the walk must stop at — the
      // metadata pass crawl-audio filters actually run (rates, channel
      // layout, frame/sample counts, transport bytes) with NO audio
      // DSP. The oracle replays every field, including the padding-
      // dependent per-frame length arithmetic (144·br/sr + pad) and
      // the constant-fill payload sums, from the closed form — a sync,
      // bitrate-table, syncsafe-size, or frame-step bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp3.syntheticMp3(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp3.mp3Stats(media).orderBy("media_id")
    },
    Gate("m31_video_fingerprint",
      // m31: the keyframe dHash sequence replayed from the planted scene
      // formula — scenes are frames/seg (every boundary cuts), the grid
      // resample is (g·dim) div 9/8, bits are plain comparisons
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), scenes AS (
        |  SELECT v.media_id, v.w, v.h, CAST(s.s AS INT) AS scene
        |  FROM v, LATERAL (SELECT unnest(range((v.nf + v.seg - 1) // v.seg)) AS s) s
        |), g AS (
        |  SELECT media_id, scene, y.y AS gy, x.x AS gx,
        |    (media_id * 7 + scene * 97 + ((y.y * h) // 8) * 11
        |      + ((x.x * w) // 9) * 13) % 256 AS l
        |  FROM scenes,
        |    LATERAL (SELECT unnest(range(8)) AS y) y,
        |    LATERAL (SELECT unnest(range(9)) AS x) x
        |), bits AS (
        |  SELECT a.media_id, a.scene, a.gy * 8 + a.gx AS idx
        |  FROM g a JOIN g b ON b.media_id = a.media_id AND b.scene = a.scene
        |    AND b.gy = a.gy AND b.gx = a.gx + 1
        |  WHERE a.gx < 8 AND a.l > b.l
        |)
        |SELECT s.media_id, s.scene,
        |  CAST(COALESCE(SUM(CASE WHEN idx >= 32
        |    THEN (CAST(1 AS BIGINT) << (idx - 32)) END), 0) AS BIGINT) AS dhash_hi,
        |  CAST(COALESCE(SUM(CASE WHEN idx < 32
        |    THEN (CAST(1 AS BIGINT) << idx) END), 0) AS BIGINT) AS dhash_lo
        |FROM scenes s LEFT JOIN bits b ON b.media_id = s.media_id AND b.scene = s.scene
        |GROUP BY s.media_id, s.scene
        |ORDER BY s.media_id, s.scene""".stripMargin) { (s, d) =>
      // VIDEO near-dup FINGERPRINT (Multimodal.videoFingerprints): real
      // scene-segmented Y4M clips decode, shots detect by luma SAD, and
      // each keyframe's LUMA plane hashes on the fixed 9×8 dHash grid —
      // one (scene, dhash_hi, dhash_lo) row per shot, the video face of
      // the image-dHash/audio-fingerprint family. Every bit is exact
      // integer math over the planted scene formula, so the oracle
      // replays the full hash sequence — a cut-detection, grid-resample,
      // or bit-order bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoFingerprints(media)
        .orderBy("media_id", "scene")
    },
    Gate("m30_audio_fingerprint",
      // m30: the fingerprint bits replayed from the planted PCM formula —
      // mixed sample, window w = (f·33) div nf, energies, lead-compare,
      // Σ (bit << w) — all exact integers
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    100 + p_partkey % 50 AS nf
        |  FROM part WHERE p_partkey <= 200
        |), e AS (
        |  SELECT a.media_id, a.nf, (f.f * 33) // a.nf AS w,
        |    SUM(POW(
        |      ((a.media_id * 31 + f.f * 7) % 4096 - 2048) +
        |      CASE WHEN a.nc = 2
        |        THEN (a.media_id * 31 + f.f * 7 + 13) % 4096 - 2048
        |        ELSE 0 END, 2)) AS energy
        |  FROM a, LATERAL (SELECT unnest(range(a.nf)) AS f) f
        |  GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT media_id, nf, w,
        |    CASE WHEN LEAD(energy) OVER (PARTITION BY media_id ORDER BY w)
        |              > energy
        |      THEN CAST(1 AS BIGINT) << w ELSE 0 END AS bit
        |  FROM e
        |)
        |SELECT media_id, CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(SUM(bit) AS BIGINT) AS fingerprint
        |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // AUDIO near-dup FINGERPRINT (Multimodal.audioFingerprint): real
      // WAV payloads decode, channels mix per frame (integer sum), 33
      // contiguous windows take Σ mix² energies, and the 32
      // adjacent-delta sign bits pack into one long — the audio face of
      // the image-dHash/text-simhash family. Every step is exact
      // integer math, so the oracle replays the PACKED BITS themselves
      // (window assignment, energy sums, the lead-comparison, the
      // shift-or fold) — a mixing, windowing, or bit-order bug breaks
      // the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticWav(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioFingerprints(media).orderBy("media_id")
    },
    Gate("m29_tiff_decode",
      // m29: the four TIFF variants' decoded channel sums — gray replicates
      // across channels, palette composes the index and palette formulas
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 5 AS h,
        |    p_partkey % 4 AS v
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 5 + ((i.media_id + x.x + 2 * y.y) % 4) * 31) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 3 + ((i.media_id + x.x + 2 * y.y) % 4) * 47) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE
        |    WHEN i.v = 1 THEN (i.media_id * 7 + y.y * 3 + x.x // 4) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 11 + ((i.media_id + x.x + 2 * y.y) % 4) * 61) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256 END) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin) { (s, d) =>
      // REAL TIFF decode (llm/Tiff, TIFF 6.0): payloads are genuine TIFF
      // files covering four paths by id%4 — uncompressed RGB (II),
      // PackBits grayscale (MM), LZW + horizontal predictor (II),
      // 16-bit-ColorMap palette (MM) — routed through the decodeImage
      // magic dispatch. The oracle replays the DECODED channel sums per
      // variant, so an IFD, byte-order, strip, compression, predictor,
      // or palette bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Tiff.syntheticTiff(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m28_webp_decode",
      // m28: the six VP8L variants' decoded channel sums, one CASE per
      // variant over the planted closed-form pixels (all integer mod math)
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 5 AS h,
        |    p_partkey % 6 AS v
        |  FROM part WHERE p_partkey <= 300
        |)
        |SELECT i.media_id,
        |  CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 5 + ((i.media_id + x.x + 2 * y.y) % 4) * 31) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 END) AS BIGINT) AS sum_r,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13 + 17) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 3 + ((i.media_id + x.x + 2 * y.y) % 4) * 47) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13 + 17) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256 END) AS BIGINT) AS sum_g,
        |  CAST(SUM(CASE
        |    WHEN i.v = 0 THEN (i.media_id * 7 + y.y * 11 + (x.x % 4) * 13 + 34) % 256
        |    WHEN i.v = 2 THEN (i.media_id * 11 + ((i.media_id + x.x + 2 * y.y) % 4) * 61) % 256
        |    WHEN i.v = 3 THEN (i.media_id * 7 + x.x * 13 + 34) % 256
        |    ELSE (i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256 END) AS BIGINT) AS sum_b
        |FROM img i,
        |  LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |  LATERAL (SELECT unnest(range(i.w)) AS x) x
        |GROUP BY i.media_id ORDER BY i.media_id""".stripMargin) { (s, d) =>
      // REAL lossless-WebP (VP8L) decode (llm/Webp, RFC 9649): payloads
      // are genuine VP8L bitstreams covering six encoding paths by
      // id%6 — plain+color-cache, subtract-green, 4-color palette with
      // 2-bit pixel bundling, LZ77 row backrefs (2D distance map),
      // predictor transform, color transform — routed through the
      // decodeImage magic-byte dispatch. The oracle replays the DECODED
      // channel sums per variant from the closed forms, so a prefix-code,
      // cache-hash, bundling, backref, or transform-inverse bug breaks
      // the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Webp.syntheticWebp(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m27_binaryfile_ingest",
      // m27: the binaryFile ingest must reproduce m24's walk over the
      // 60-file universe — same closed form, path-recovered ids
      mp4WalkOracleSql(60)) { (s, d) =>
      // REAL-FILE media ingest through Spark's `binaryFile` source — the
      // plumbing every other m-gate's build-UDF stands in for: 60
      // genuine .mp4 FILES written to disk (distributed foreachPartition,
      // one file per media id), read back as (path, content) by the
      // binaryFile data source with a pathGlobFilter, ids recovered from
      // file names, then the same container walk + MJPEG decode as m24.
      // Shares m24's closed-form oracle (bound 60) — a file-write, glob,
      // path-parse, or content-read bug breaks the hash.
      // LOCAL-MODE ASSUMPTION (shared with s37/s38): executors write the
      // fixture files via foreachPartition and the driver-planned scan
      // reads them back — valid only when driver and executors share a
      // filesystem. On a real cluster, stage fixtures through a
      // distributed writer (e.g. per-row binary output to shared storage).
      // The dir is registered for deletion at JVM exit (util/TempDirs).
      val root = graft.util.TempDirs.scratch("m27media")
      t(s, d, "part").filter(col("p_partkey") <= 60)
        .select(col("p_partkey").cast("long").as("media_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, s"media_$id.mp4"),
              graft.llm.Mp4.syntheticMp4(id))
          }
        }
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.mp4").load(root)
        .select(regexp_extract(col("path"), "media_(\\d+)\\.mp4$", 1)
          .cast("long").as("media_id"),
          col("content").as("payload"))
      graft.llm.Mp4.mp4VideoStats(media).orderBy("media_id")
    },
    Gate("m26_mp4_audio_co64",
      // m26: the audio-trak + co64 walk — PCM sums from the closed form
      """WITH m AS (
        |  SELECT p_partkey AS media_id, 2 + p_partkey % 3 AS ns
        |  FROM part WHERE p_partkey <= 200
        |), pcm AS (
        |  SELECT m.media_id, m.ns,
        |    ((m.media_id * 13 + k.k * 7 + j.j) % 401) - 200 AS v
        |  FROM m,
        |    LATERAL (SELECT unnest(range(m.ns)) AS k) k,
        |    LATERAL (SELECT unnest(range(80)) AS j) j
        |)
        |SELECT media_id, 'isom' AS brand, 'twos' AS codec,
        |  CAST(8000 AS BIGINT) AS timescale,
        |  CAST(MAX(ns) AS INT) AS n_samples,
        |  CAST(MAX(ns) * 80 AS BIGINT) AS duration,
        |  CAST(COUNT(*) AS BIGINT) AS n_pcm,
        |  CAST(SUM(v) AS BIGINT) AS pcm_sum
        |FROM pcm GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // the OTHER half of the container story: an MP4 AUDIO trak
      // (hdlr 'soun', PCM16BE 'twos' sample entries) whose chunk
      // offsets are written through co64 — the 64-bit table real >4 GB
      // crawl video carries, so the walk's co64 branch is load-bearing,
      // not decorative (stco is absent from these files). The oracle
      // replays codec/timescale/duration and the exact PCM value sum
      // from the planted closed form.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4Audio(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp4.mp4AudioStats(media).orderBy("media_id")
    },
    Gate("m24_mp4_walk",
      // m24: the MP4 container walk — fixed brand/codec/timescale, stts
      // duration closed form, first-sample dims, and channel sums replayed
      // per SAMPLE from the m11 JPEG closed form at img = media_id*101 + k
      mp4WalkOracleSql()) { (s, d) =>
      // ISO-BMFF (MP4) container walk (llm/Mp4): payloads are REAL
      // ftyp+moov+mdat files with full sample tables — stts durations,
      // two-chunk stsc/stco layout, stsz sizes — and MJPEG samples that
      // decode through the existing JPEG path. The oracle replays the
      // brand/codec/timescale/duration fields AND every decoded channel
      // sum from the planted per-sample JPEG closed form (img key =
      // media_id·101 + k), so a box-walk, chunk-offset, stts, or
      // sample-extraction bug breaks the hash. This is the "real crawl
      // video" container story without an H.264 dependency (VERDICT r11
      // ask #5); full H.264 decode stays out of scope by design.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Mp4.syntheticMp4(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Mp4.mp4VideoStats(media).orderBy("media_id")
    },
    Gate("m20_shot_cuts",
      """WITH v AS (
        |  SELECT p_partkey AS media_id,
        |    6 + (p_partkey % 3) * 2 AS w, 4 + (p_partkey % 2) * 2 AS h,
        |    12 + p_partkey % 6 AS nf, 3 + p_partkey % 3 AS seg
        |  FROM part WHERE p_partkey <= 200
        |), sad AS (
        |  SELECT v.media_id, CAST(f.f AS INT) AS frame_idx, v.w, v.h,
        |    CAST(SUM(ABS(
        |      (v.media_id * 7 + (f.f // v.seg) * 97 + y.y * 11 + x.x * 13) % 256
        |      - (v.media_id * 7 + ((f.f + 1) // v.seg) * 97 + y.y * 11 + x.x * 13) % 256
        |    )) AS BIGINT) AS luma_sad
        |  FROM v,
        |    LATERAL (SELECT unnest(range(v.nf - 1)) AS f) f,
        |    LATERAL (SELECT unnest(range(v.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(v.w)) AS x) x
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT media_id, frame_idx, luma_sad, luma_sad > 8 * w * h AS is_cut
        |FROM sad ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      // SHOT-CUT detection (Multimodal.videoShotCuts) over decoded
      // scene-segmented y4m: frames are identical within a planted scene
      // and jump at boundaries, so the luma-SAD series is 0 inside
      // scenes and large exactly at cuts. The oracle replays every SAD
      // from the closed-form pixel formula — a frame-walk, plane-offset,
      // or off-by-one in the pair indexing breaks the hash, and a
      // threshold bug flips is_cut booleans.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticY4mScenes(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.videoShotCuts(media)
        .orderBy("media_id", "frame_idx")
    },
    Gate("m19_aiff_decode",
      // m19: AIFF decoded-sample sums — the closed-form (37/11/17) formula
      // over every id, 16 kHz (so the 80-bit extended-float parse is
      // load-bearing in the duration and rate columns)
      """WITH a AS (
        |  SELECT p_partkey AS media_id, 1 + p_partkey % 2 AS nc,
        |    90 + p_partkey % 40 AS nf
        |  FROM part WHERE p_partkey <= 300
        |), s AS (
        |  SELECT a.media_id, a.nc, a.nf,
        |    CAST(SUM(CASE WHEN c.c = 0 THEN
        |      (a.media_id * 37 + f.f * 11) % 4096 - 2048 END) AS BIGINT) AS sum_ch0,
        |    CAST(COALESCE(SUM(CASE WHEN c.c > 0 THEN
        |      (a.media_id * 37 + f.f * 11 + c.c * 17) % 4096 - 2048 END), 0) AS BIGINT) AS sum_rest
        |  FROM a,
        |    LATERAL (SELECT unnest(range(a.nf)) AS f) f,
        |    LATERAL (SELECT unnest(range(a.nc)) AS c) c
        |  GROUP BY 1, 2, 3
        |)
        |SELECT media_id, CAST(nc AS INT) AS channels,
        |  CAST(16000 AS INT) AS sample_rate, CAST(nf AS INT) AS n_frames,
        |  CAST(nf * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  sum_ch0, sum_rest
        |FROM s ORDER BY media_id""".stripMargin) { (s, d) =>
      // AIFF decode (Multimodal.decodeAiff): payloads are genuine AIFF
      // files — big-endian IFF chunk walk, COMM's 80-bit EXTENDED-float
      // sample rate (16 kHz, so the exotic parse is load-bearing), SSND
      // offset header, PCM16BE frames — and the oracle replays the
      // DECODED channel sums from the closed-form formula (distinct from
      // the WAV/FLAC one), so an endianness, chunk-walk, extended-float,
      // or offset bug breaks the hash.
      import s.implicits._
      val build = udf((id: Long) => graft.llm.Multimodal.syntheticAiff(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    },
    Gate("m16_media_matrix",
      """WITH ids AS (
        |  SELECT p_partkey AS media_id FROM part WHERE p_partkey <= 400
        |), raw3 AS ( -- ppm(0)/png(1)/bmp(3): the c·17 channel formula
        |  SELECT media_id,
        |    CASE media_id % 8 WHEN 0 THEN 4 + media_id % 5
        |      WHEN 1 THEN 8 + media_id % 9 ELSE 5 + media_id % 8 END AS w,
        |    CASE media_id % 8 WHEN 0 THEN 3 + media_id % 4
        |      WHEN 1 THEN 5 + media_id % 6 ELSE 4 + media_id % 6 END AS h
        |  FROM ids WHERE media_id % 8 IN (0, 1, 3)
        |), raw3_px AS (
        |  SELECT i.media_id, CAST(MAX(i.w) AS INT) AS width, CAST(MAX(i.h) AS INT) AS height,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |  FROM raw3 i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |  GROUP BY i.media_id
        |), idx2 AS ( -- palette-png(2)/gif(4): index ∘ palette composition
        |  SELECT media_id,
        |    CASE media_id % 8 WHEN 2 THEN 8 + media_id % 9
        |      ELSE 24 + (media_id % 9) * 2 END AS w,
        |    CASE media_id % 8 WHEN 2 THEN 5 + media_id % 6
        |      ELSE 20 + (media_id % 7) * 2 END AS h
        |  FROM ids WHERE media_id % 8 IN (2, 4)
        |), idx2_px AS (
        |  SELECT media_id, CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |    CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |  FROM (
        |    SELECT i.media_id, i.w, i.h,
        |      (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |    FROM idx2 i,
        |      LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |      LATERAL (SELECT unnest(range(i.w)) AS x) x)
        |  GROUP BY media_id
        |), jflat AS ( -- baseline(5)/progressive(7): DC blocks, always color (odd ids)
        |  SELECT media_id, 2 + media_id % 3 AS wb, 2 + media_id % 2 AS hb
        |  FROM ids WHERE media_id % 8 IN (5, 7)
        |), jflat_blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM jflat i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), j420b AS ( -- 4:2:0(6): Y per block, chroma per MCU
        |  SELECT media_id, 1 + media_id % 3 AS mx, 1 + media_id % 2 AS my
        |  FROM ids WHERE media_id % 8 = 6
        |), j420_blk AS (
        |  SELECT i.media_id, 2 * i.mx AS wb, 2 * i.my AS hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 34) % 61) - 30) AS c2
        |  FROM j420b i,
        |    LATERAL (SELECT unnest(range(2 * i.my)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 * i.mx)) AS bx) bx
        |), jall AS (
        |  SELECT * FROM jflat_blk UNION ALL SELECT * FROM j420_blk
        |), j_px AS (
        |  SELECT media_id, CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_r,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_g,
        |    CAST(SUM(GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT)))) * 64 AS BIGINT) AS sum_b
        |  FROM jall GROUP BY media_id
        |)
        |SELECT * FROM raw3_px
        |UNION ALL SELECT * FROM idx2_px
        |UNION ALL SELECT * FROM j_px
        |ORDER BY media_id""".stripMargin) { (s, d) =>
      // the FULL image-format matrix through ONE decode dispatch: ids
      // route by modulo to PPM / PNG / palette-PNG / BMP / GIF /
      // baseline JPEG / 4:2:0 JPEG / progressive JPEG, and
      // Multimodal.decodeImage must route every payload to the right
      // codec by magic bytes — a misrouting or over-eager decoder
      // anywhere in the chain breaks this hash even while every
      // single-format gate stays green.
      import s.implicits._
      val build = udf((id: Long) => ((id % 8).toInt: @unchecked) match {
        case 0 => graft.llm.Multimodal.syntheticPpm(id)
        case 1 => graft.llm.Multimodal.syntheticPng(id)
        case 2 => graft.llm.Multimodal.syntheticPngPalette(id)
        case 3 => graft.llm.Multimodal.syntheticBmp(id)
        case 4 => graft.llm.Multimodal.syntheticGif(id)
        case 5 => graft.llm.Multimodal.syntheticJpeg(id)
        case 6 => graft.llm.Multimodal.syntheticJpeg420(id)
        case 7 => graft.llm.Multimodal.syntheticJpegProgressive(id)
      })
      val media = t(s, d, "part").filter(col("p_partkey") <= 400)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", build(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m15_jpeg_progressive",
      // m15: progressive shares m11's closed form (same planted raster)
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    2 + p_partkey % 3 AS wb, 2 + p_partkey % 2 AS hb
        |  FROM part WHERE p_partkey <= 300
        |), blk AS (
        |  SELECT i.media_id, i.wb, i.hb,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS c0,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 17) % 61) - 30) AS c1,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13 + 34) % 61) - 30) AS c2
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.hb)) AS by) by,
        |    LATERAL (SELECT unnest(range(i.wb)) AS bx) bx
        |), px AS (
        |  SELECT media_id, wb, hb,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.402 * (c2 - 128)) AS INT))) END AS r,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 - 0.344136 * (c1 - 128) - 0.714136 * (c2 - 128)) AS INT))) END AS g,
        |    CASE WHEN media_id % 2 = 0 THEN c0 ELSE
        |      GREATEST(0, LEAST(255, CAST(ROUND(c0 + 1.772 * (c1 - 128)) AS INT))) END AS b
        |  FROM blk
        |)
        |SELECT media_id,
        |  CAST(MAX(wb) * 8 AS INT) AS width, CAST(MAX(hb) * 8 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // PROGRESSIVE JPEG (SOF2) decode: real multi-scan streams — DC
      // successive approximation (first pass at Al=1 + a refinement scan
      // carrying the dropped low bit), per-component AC band scans with
      // genuine EOB-run coding, interleaved (color) AND non-interleaved
      // (grayscale) DC orders, coefficients accumulated across scans and
      // finalized at EOI. Same planted raster as m11, so the oracle is
      // shared — a scan-sequencing, approximation-shift, EOB-run, or
      // finalize bug breaks the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpegProgressive(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m12_jpeg_420",
      // m12: 4:2:0 sums — Y constant per 8×8 Y-block, chroma constant per
      // 16×16 MCU (bx // 2 = the chroma grid), composed through CCIR-601
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    1 + p_partkey % 3 AS mx, 1 + p_partkey % 2 AS my
        |  FROM part WHERE p_partkey <= 300
        |), yblk AS (
        |  SELECT i.media_id, i.mx, i.my,
        |    128 + 2 * (((i.media_id * 7 + bx.bx * 11 + by.by * 13) % 61) - 30) AS yv,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 17) % 61) - 30) AS cb,
        |    128 + 2 * (((i.media_id * 7 + (bx.bx // 2) * 11 + (by.by // 2) * 13 + 34) % 61) - 30) AS cr
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(2 * i.my)) AS by) by,
        |    LATERAL (SELECT unnest(range(2 * i.mx)) AS bx) bx
        |), px AS (
        |  SELECT media_id, mx, my,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv + 1.402 * (cr - 128)) AS INT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) AS INT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(ROUND(yv + 1.772 * (cb - 128)) AS INT))) AS b
        |  FROM yblk
        |)
        |SELECT media_id,
        |  CAST(MAX(mx) * 16 AS INT) AS width, CAST(MAX(my) * 16 AS INT) AS height,
        |  CAST(SUM(r) * 64 AS BIGINT) AS sum_r,
        |  CAST(SUM(g) * 64 AS BIGINT) AS sum_g,
        |  CAST(SUM(b) * 64 AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // 4:2:0-SUBSAMPLED baseline JPEG decode — the form real photos
      // take: Y at 2×2 sampling factors (four blocks per MCU in the
      // T.81 interleave order), chroma at 1×1, box-upsampled back to
      // full resolution. Blocks are planted DC-only constants (Y per
      // Y-block, chroma per MCU), so the oracle composes both sampling
      // grids through the CCIR-601 conversion in closed form — an MCU
      // block-order, upsampler-geometry, or DC-prediction bug breaks
      // the hash.
      import s.implicits._
      val jpg = udf((id: Long) => graft.llm.Multimodal.syntheticJpeg420(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", jpg(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m14_wav_codecs",
      // m14: decoded-PCM16 sums for the non-PCM16 WAV encodings — the ITU
      // G.711 expansions and the dyadic float scaling in closed integer
      // form (u = ~byte, a = byte⊕0x55; magnitudes via the segment shift)
      """WITH clip AS (
        |  SELECT p_partkey AS media_id,
        |    80 + p_partkey % 40 AS frames, p_partkey % 3 AS enc
        |  FROM part WHERE p_partkey <= 300
        |), smp AS (
        |  SELECT c.media_id, c.enc,
        |    255 - ((c.media_id * 31 + i.i * 7) % 256) AS u,
        |    xor((c.media_id * 31 + i.i * 7) % 256, 85) AS a,
        |    (c.media_id * 31 + i.i * 7) % 4096 - 2048 AS k
        |  FROM clip c, LATERAL (SELECT unnest(range(c.frames)) AS i) i
        |), mag AS (
        |  SELECT media_id, enc, u, a, k,
        |    ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS um,
        |    CASE WHEN ((a // 16) % 8) = 0 THEN (a % 16) * 16 + 8
        |         WHEN ((a // 16) % 8) = 1 THEN (a % 16) * 16 + 264
        |         ELSE ((a % 16) * 16 + 264) * (1 << (((a // 16) % 8) - 1)) END AS am
        |  FROM smp
        |), dec AS (
        |  SELECT media_id,
        |    CASE WHEN enc = 2 THEN k
        |         WHEN enc = 0 THEN CASE WHEN u >= 128 THEN 132 - um ELSE um - 132 END
        |         ELSE CASE WHEN a >= 128 THEN am ELSE -am END END AS s
        |  FROM mag
        |)
        |SELECT c.media_id,
        |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
        |  CAST(c.frames AS INT) AS n_frames,
        |  CAST(c.frames // 8 AS BIGINT) AS duration_ms,
        |  CAST(SUM(d.s) AS BIGINT) AS sum_ch0, CAST(0 AS BIGINT) AS sum_rest
        |FROM clip c JOIN dec d USING (media_id)
        |GROUP BY c.media_id, c.frames ORDER BY c.media_id""".stripMargin) { (s, d) =>
      // non-PCM16 WAV decode (Multimodal.decodeWav): G.711 µ-law and
      // A-law telephony bytes expand through the real ITU tables, IEEE
      // float32 scales to PCM16 with dyadic planted values (decode
      // recovers the integer exactly) — all three re-expressed by the
      // oracle in closed integer form, so an expansion, sign, or scale
      // bug in any branch breaks the hash.
      import s.implicits._
      val wav = udf((id: Long) => graft.llm.Multimodal.syntheticWavExt(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", wav(col("media_id")))
      graft.llm.Multimodal.audioStats(media).orderBy("media_id")
    },
    Gate("m13_png_palette",
      // m13: palette-PNG sums — pixel-index ∘ palette formulas in closed
      // form (the m09 composition over the PNG container)
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    8 + p_partkey % 9 AS w, 5 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h,
        |    (i.media_id * 7 + y.y * 11 + x.x * 13) % 256 AS idx
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((idx * 3 + media_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((idx * 5 + 2 * media_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((idx * 7 + 3 * media_id) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // PALETTE PNG decode (color type 3 — the indexed form web graphics
      // ship): real PLTE chunk, 1-byte-per-pixel scanlines through all
      // five filter reversals, palette lookup to RGB. The oracle
      // composes the pixel-index formula with the palette formula in
      // closed form, so a PLTE misread, filter-over-indices bug, or
      // lookup error breaks the hash.
      import s.implicits._
      val png = udf((id: Long) => graft.llm.Multimodal.syntheticPngPalette(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", png(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m10_bmp_decode",
      // m10: decoded-BMP channel sums — the raw pixel formula in closed form
      // (no palette indirection; the BMP layer contributes raster order,
      // BGR→RGB conversion, and row padding, all of which cancel out only
      // if the decode is exactly right)
      """WITH img AS (
        |  SELECT p_partkey AS media_id,
        |    5 + p_partkey % 8 AS w, 4 + p_partkey % 6 AS h
        |  FROM part WHERE p_partkey <= 300
        |), px AS (
        |  SELECT i.media_id, i.w, i.h, y.y AS y, x.x AS x
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |)
        |SELECT media_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((media_id * 7 + y * 11 + x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin) { (s, d) =>
      // REAL BMP decode (Multimodal.decodeBmp): payloads are genuine
      // 24-bit BITMAPINFOHEADER files — BGR byte order, 4-byte row
      // padding, and BOTH raster directions (even ids bottom-up, odd ids
      // top-down via negative biHeight) — and the oracle recomputes the
      // decoded pixels' exact channel sums in closed form, so a flipped
      // raster, BGR/RGB swap, stride, or data-offset bug breaks the hash.
      import s.implicits._
      val bmp = udf((id: Long) => graft.llm.Multimodal.syntheticBmp(id))
      val media = t(s, d, "part").filter(col("p_partkey") <= 300)
        .select(col("p_partkey").cast("long").as("media_id"))
        .withColumn("payload", bmp(col("media_id")))
      graft.llm.Multimodal.imageStats(media).orderBy("media_id")
    },
    Gate("m01_media_features",
      """WITH m AS (
        |  SELECT p_partkey AS media_id,
        |    CASE WHEN p_partkey % 3 = 0 THEN 'image'
        |         WHEN p_partkey % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type
        |  FROM part WHERE p_partkey <= 200
        |), img AS (
        |  SELECT media_id, 4 + media_id % 5 AS w, 3 + media_id % 4 AS h
        |  FROM m WHERE media_type = 'image'
        |), px AS (
        |  SELECT i.media_id,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13) % 256) AS BIGINT) AS sum_r,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 17) % 256) AS BIGINT) AS sum_g,
        |    CAST(SUM((i.media_id * 7 + y.y * 11 + x.x * 13 + 34) % 256) AS BIGINT) AS sum_b
        |  FROM img i,
        |    LATERAL (SELECT unnest(range(i.h)) AS y) y,
        |    LATERAL (SELECT unnest(range(i.w)) AS x) x
        |  GROUP BY i.media_id
        |)
        |SELECT m.media_id, m.media_type, CAST(16 AS INT) AS dim,
        |  px.sum_r, px.sum_g, px.sum_b
        |FROM m LEFT JOIN px USING (media_id) ORDER BY media_id""".stripMargin) { (s, d) =>
      // multimodal decode + feature extraction: image rows are REAL P6
      // PPM payloads decoded by the pure-JVM decoder — the oracle
      // recomputes the decoded pixels' exact per-channel sums from the
      // synthetic formula, so a decode regression (header parse, raster
      // offset, channel order) breaks the hash. Audio/video rows carry
      // REAL WAV/Y4M payloads that extractFeatures genuinely decodes
      // (decodeWav/decodeY4m); their decoded VALUES are pinned by
      // m04/m05/m06 — this gate pins the shared plumbing (ids, metadata,
      // feature dim) plus the image channel sums.
      val media = graft.llm.Multimodal.syntheticMedia(
        t(s, d, "part").filter(col("p_partkey") <= 200), "p_partkey")
      val feats = graft.llm.Multimodal.extractFeatures(media, dim = 16)
        .select(col("media_id"), col("meta.media_type").as("media_type"),
          size(col("features")).as("dim"))
      feats.join(graft.llm.Multimodal.imageStats(media)
          .select(col("media_id"), col("sum_r"), col("sum_g"), col("sum_b")),
          Seq("media_id"), "left")
        .orderBy("media_id")
    }
  )
}
