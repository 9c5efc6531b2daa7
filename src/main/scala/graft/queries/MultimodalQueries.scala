package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.{Dedup, Multimodal}
import graft.streaming.{PhashStream, Sessionize}

import graft.queries.Fixtures._

/** The `mm_*` family: image, audio and video features over binary
  * columns. */
private[graft] object MultimodalQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("mm_payload_stats", (s, dir) => {
      val assets = Multimodal.syntheticAssets(par(s)(t(s, dir, "documents")))
      Multimodal.payloadStats(col("payload")).foldLeft(assets) {
        case (d, (n, c)) => d.withColumn(n, c)
      }
        .select(col("asset_id"), col("payload_bytes"), col("payload_md5"))
        .orderBy(col("asset_id"))
    },
      oracle =
        """SELECT doc_id AS asset_id,
          | CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
          | md5(text) AS payload_md5
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_dedup", (s, dir) => {
      // exact media dedup by payload digest: the digest is computed where
      // the blob lives, so the exchange carries (16-byte md5, id) pairs —
      // the payloads themselves never shuffle
      Multimodal.payloadDedup(
        Multimodal.syntheticAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("payload_md5"))
    },
      // md5 of the utf-8 payload == md5 of the text on both engines
      oracle =
        """SELECT md5(text) AS payload_md5,
          | CAST(count(*) AS BIGINT) AS n_assets,
          | min(doc_id) AS survivor_id
          |FROM documents GROUP BY payload_md5
          |ORDER BY payload_md5""".stripMargin),

    QueryDef("mm_features_bmp", (s, dir) => {
      // REAL decode path: the engine constructs an actual BMP per doc
      // (closed-form dims) and must recover width/height by parsing the
      // header bytes with BmpCodec; the oracle computes the same dims
      // arithmetically, so a drift in either the byte layout or the
      // little-endian parse breaks the match
      Multimodal.extractFeatures(
        Multimodal.syntheticBmpAssets(par(s)(t(s, dir, "documents"))),
        Multimodal.BmpCodec)
        .select(col("asset_id"), col("width"), col("height"))
        .orderBy(col("asset_id"))
    },
      // the BMP dims are closed-form in doc_id (syntheticBmpAssets);
      // the engine side must reproduce them via a real header parse
      oracle =
        """SELECT doc_id AS asset_id,
          | CAST(16 + doc_id % 1024 AS INT) AS width,
          | CAST(16 + (doc_id * 7) % 1024 AS INT) AS height
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_features_gif", (s, dir) => {
      // REAL animated-GIF decode path: spec-valid GIF89a per doc
      // (closed-form screen dims, frame count, palette size, delays)
      // and the engine recovers the metadata by WALKING the block
      // stream — extensions, descriptors, length-prefixed LZW
      // sub-blocks — not by fixed offsets; the oracle replays the
      // generator arithmetic. duration_ms = frames · delay_cs · 10.
      Multimodal.extractGifMeta(
        Multimodal.syntheticGifAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("asset_id"))
    },
      // the engine reads real interleaved int16 samples out of RIFF
      // bytes; the oracle replays the closed-form sample scramble
      // s(j) = ((j·2657 + id·7919) mod 65536) − 32768 over
      // j ∈ [0, ch·n) and aggregates in exact integers
      oracle =
        """SELECT doc_id AS asset_id,
          | CAST(16 + doc_id % 1024 AS INT) AS width,
          | CAST(16 + (doc_id * 7) % 1024 AS INT) AS height,
          | CAST(1 + doc_id % 5 AS INT) AS n_frames,
          | CAST(1 << CAST(1 + doc_id % 8 AS INT) AS INT) AS gct_entries,
          | CAST((1 + doc_id % 5) * (10 + doc_id % 90) * 10 AS BIGINT)
          |  AS duration_ms
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_audio_meta", (s, dir) => {
      // REAL audio decode path: the engine constructs an actual PCM WAV
      // per doc (closed-form channels/rate/samples) and must recover the
      // metadata by parsing the RIFF header bytes with WavCodec; the
      // duration is exact integer arithmetic (dataSize*1000/byteRate),
      // which the oracle reproduces after the block-align cancellation
      Multimodal.extractAudioMeta(
        Multimodal.syntheticWavAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("asset_id"))
    },
      // the WAV parameters are closed-form in doc_id (syntheticWavAssets);
      // duration_ms = dataSize*1000/byteRate, and the channels·2 block
      // align cancels, leaving exact integer floor(nSamples*1000/rate)
      oracle =
        """SELECT doc_id AS asset_id,
          | CAST(1 + doc_id % 2 AS INT) AS channels,
          | CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
          |  ELSE 44100 END AS INT) AS sample_rate,
          | CAST((1000 + doc_id % 9000) * 1000 AS BIGINT)
          |  // CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
          |   ELSE 44100 END AS BIGINT) AS duration_ms
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_audio_loudness", (s, dir) => {
      // past the header and INTO the data chunk: full PCM payloads with
      // closed-form int16 samples, and the engine computes sample-level
      // loudness (peak, clipped count, exact sum-of-squares) by actually
      // reading the interleaved samples out of the RIFF bytes; the
      // oracle replays the sample formula arithmetically. mean_sq is
      // the single IEEE division of exact fields at read time.
      Multimodal.extractAudioStats(
        Multimodal.syntheticWavAssetsWithSamples(
          par(s)(t(s, dir, "documents"))))
        .withColumn("mean_sq",
          col("sumsq").cast("double") / col("n_samples").cast("double"))
        .orderBy(col("asset_id"))
    },
      oracle =
        """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
          |  200 + doc_id % 800 AS n FROM documents),
          |s AS (SELECT doc_id, ch * n AS total,
          |  unnest(range(0, ch * n)) AS j FROM p),
          |v AS (SELECT doc_id, total,
          |  ((j * 2657 + doc_id * 7919) % 65536) - 32768 AS smp FROM s),
          |a AS (SELECT doc_id, CAST(max(total) AS BIGINT) AS n_samples,
          |  CAST(max(abs(smp)) AS INT) AS peak,
          |  CAST(count(*) FILTER (WHERE smp = 32767 OR smp = -32768)
          |   AS BIGINT) AS n_clipped,
          |  CAST(sum(smp * smp) AS BIGINT) AS sumsq
          | FROM v GROUP BY doc_id)
          |SELECT doc_id AS asset_id, n_samples, peak, n_clipped, sumsq,
          | CAST(sumsq AS DOUBLE) / CAST(n_samples AS DOUBLE) AS mean_sq
          |FROM a ORDER BY asset_id""".stripMargin),

    QueryDef("mm_audio_silence", (s, dir) => {
      // dead-air detection INSIDE the data chunk: assets carry emergent
      // loud/quiet structure (closed-form samples, nobody is told the
      // labels), the engine window-peaks the real PCM bytes and merges
      // silent runs into frame intervals; the oracle replays the sample
      // formula, re-derives the peaks, and rebuilds the islands in SQL.
      // Window 50 frames, threshold 256 — quiet windows peak ≤ 64.
      Multimodal.extractSilenceSegments(
        Multimodal.syntheticWavSilenceAssets(par(s)(t(s, dir, "documents"))),
        window = 50, threshold = 256)
        .orderBy(col("asset_id"), col("seg_idx"))
    },
      // replay the silence generator's sample formula, window-peak,
      // then standard gaps-and-islands over the silent windows
      oracle =
        """WITH p AS (SELECT doc_id, 200 + doc_id % 800 AS n FROM documents),
          |s AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM p),
          |v AS (SELECT doc_id, n, j // 50 AS w,
          |  CASE WHEN ((j // 50) + doc_id) % 3 = 0
          |   THEN ((j * 31 + doc_id * 17) % 129) - 64
          |   ELSE ((j * 2657 + doc_id * 7919) % 65536) - 32768 END AS smp
          | FROM s),
          |pk AS (SELECT doc_id, n, w, max(abs(smp)) AS peak
          | FROM v GROUP BY doc_id, n, w),
          |si AS (SELECT doc_id, n, w,
          |  w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
          | FROM pk WHERE peak < 256),
          |seg AS (SELECT doc_id, CAST(min(w) * 50 AS BIGINT) AS start_frame,
          |  CAST(least((max(w) + 1) * 50, min(n)) AS BIGINT) AS end_frame
          | FROM si GROUP BY doc_id, grp)
          |SELECT doc_id AS asset_id,
          | CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
          |   - 1 AS BIGINT) AS seg_idx,
          | start_frame, end_frame
          |FROM seg ORDER BY asset_id, seg_idx""".stripMargin),

    QueryDef("mm_audio_decimate", (s, dir) => {
      // REAL audio down-res: full-PCM WAVs decimated 4× (every 4th
      // frame, channels aligned) and re-encoded spec-valid; the probes
      // (new rate, frame count, channel-0 samples at first/middle/last
      // kept frame) are re-read from the re-encoded bytes and replayed
      // arithmetically by the oracle — the mm_resize loop for audio.
      Multimodal.extractDecimateProbes(
        Multimodal.syntheticWavAssetsWithSamples(
          par(s)(t(s, dir, "documents"))),
        factor = 4)
        .orderBy(col("asset_id"))
    },
      // decimation replayed arithmetically: kept frames are 0,4,8,… of
      // n = 200 + id%800, so n_kept = (n+3)//4 and the probed channel-0
      // sample of kept frame k is the fixture formula at interleaved
      // index (k*4)*ch
      oracle =
        """WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
          |  CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
          |   ELSE 44100 END AS rate,
          |  200 + doc_id % 800 AS n FROM documents),
          |k AS (SELECT doc_id, ch, rate, (n + 3) // 4 AS nk FROM p),
          |s AS (SELECT doc_id, ch, rate, nk,
          |  0 AS f0, (nk // 2) * 4 AS fmid, (nk - 1) * 4 AS fend FROM k)
          |SELECT doc_id AS asset_id,
          | CAST(rate // 4 AS BIGINT) AS out_rate,
          | CAST(nk AS BIGINT) AS out_frames,
          | CAST(((f0 * ch * 2657 + doc_id * 7919) % 65536) - 32768
          |  AS BIGINT) AS p0,
          | CAST(((fmid * ch * 2657 + doc_id * 7919) % 65536) - 32768
          |  AS BIGINT) AS pmid,
          | CAST(((fend * ch * 2657 + doc_id * 7919) % 65536) - 32768
          |  AS BIGINT) AS pend
          |FROM s ORDER BY asset_id""".stripMargin),

    QueryDef("mm_audio_fingerprint_pairs", (s, dir) => {
      // perceptual AUDIO near-dup, completing the text/image/audio
      // triad: channel-0 frames → 65 equal windows → exact-long
      // energies → 64 gradient bits (e(b+1) > e(b)); every 17th doc
      // gets a perturbed sibling (each 97th sample one step toward
      // zero — re-encode-noise scale) that the gradient hash must
      // shrug off, then hamming-≤3 pairs via the same pigeonhole
      // banding as image dHash. 8 bytes per asset leave the blob scan;
      // the oracle replays the closed-form samples arithmetically and
      // brute-forces the pairs, so the banding is proven lossless.
      Dedup.hammingNearDupPairs(
        Multimodal.extractAudioFingerprint(
          Multimodal.syntheticWavNearDupAssets(
            par(s)(t(s, dir, "documents")))),
        idCol = "asset_id", sigCol = "afp", bits = 64, maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // energy-gradient hash replay: per asset the 65 window energies
      // materialize as ONE list (each window sums frames div 65
      // closed-form middle-square |samples|; the sibling's every-13th
      // sample shrinks up to 5 toward zero, i.e. |s| becomes
      // max(|s|−5, 0)), bits compare adjacent energies, bit 63 rides
      // the sign as -2^63. Pairs BRUTE-FORCED against ground truth,
      // proving the banding lossless.
      oracle = {
        val baseAbs =
          "abs((((j*2657 + id*7919)*(j*2657 + id*7919)) // 256) % 65536 - 32768)"
        val absExpr =
          s"""CASE WHEN sib AND j % 13 = 0
             |  THEN greatest($baseAbs - 5, 0)
             |  ELSE $baseAbs
             |  END""".stripMargin.replace("\n", " ")
        s"""WITH assets AS (
           |  SELECT doc_id AS aid, doc_id AS id, false AS sib,
           |   260 + doc_id % 700 AS n FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, doc_id, true, 260 + doc_id % 700
           |  FROM documents WHERE doc_id % 17 = 0),
           |es AS MATERIALIZED (SELECT aid,
           |  list_transform(range(0, 65), w ->
           |   list_sum(list_transform(
           |    range(w * (n // 65), (w + 1) * (n // 65)),
           |    j -> $absExpr))) AS e
           | FROM assets),
           |hsh AS MATERIALIZED (SELECT aid,
           |  CAST(list_sum(list_transform(range(0, 63), b ->
           |    CASE WHEN e[b+2] > e[b+1]
           |     THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
           |  + CASE WHEN e[65] > e[64]
           |     THEN (-9223372036854775807 - 1) ELSE 0 END AS afp
           | FROM es)
           |SELECT a.aid AS id_a, b.aid AS id_b,
           | CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS dist
           |FROM hsh a JOIN hsh b ON a.aid < b.aid
           |WHERE bit_count(xor(a.afp, b.afp)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef("mm_video_fingerprint_pairs", (s, dir) => {
      // perceptual VIDEO near-dup, closing the text/image/audio/video
      // quad: a video's fingerprint is the SET of its 4-frame
      // signature shingles (order-aware where bag-of-frames is not,
      // trim-robust where fixed alignment is not); every 7th doc gets
      // an intro-trimmed twin (first 1 + id%3 frames cut) that keeps
      // (n-k-3)/(n-3) of the shingle set and must clear Jaccard 0.5,
      // while all other videos share no shingle. The closed-form
      // fixture lets the oracle re-derive pairs AND exact scores with
      // independent arithmetic; only 16-byte shingle keys leave the
      // scan.
      Multimodal.videoShingleNearDupPairs(
        Multimodal.syntheticVideoNearDupAssets(
          par(s)(t(s, dir, "documents"))),
        w = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the only pairs are each multiple-of-7 doc and its intro-trimmed
      // twin: with n = 24 + id%240 frames, trim k = 1 + id%3, shingle
      // width 4, the twin keeps n-k-3 of the base's n-3 shingles —
      // jaccard = (n-k-3)/(n-3), one IEEE division of exact ints; no
      // other pair shares a single 4-frame window
      oracle =
        """SELECT doc_id AS id_a,
          | doc_id + 1000000000 AS id_b,
          | CAST((24 + doc_id % 240) - (1 + doc_id % 3) - 3 AS DOUBLE)
          |  / CAST((24 + doc_id % 240) - 3 AS DOUBLE) AS jaccard
          |FROM documents WHERE doc_id % 7 = 0
          |ORDER BY id_a, id_b""".stripMargin),

    QueryDef("mm_video_meta", (s, dir) => {
      // REAL video decode path: canonical AVI headers per doc with
      // closed-form geometry/timing, recovered by AviCodec's RIFF parse;
      // duration_ms = µsPerFrame * nFrames / 1000, exact integers
      Multimodal.extractVideoMeta(
        Multimodal.syntheticAviAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("asset_id"))
    },
      // AVI parameters are closed-form in doc_id (syntheticAviAssets);
      // duration_ms = usPerFrame * nFrames // 1000, exact integer floor
      oracle =
        """SELECT doc_id AS asset_id,
          | CAST(160 + 16 * (doc_id % 8) AS INT) AS width,
          | CAST(120 + 8 * (doc_id % 6) AS INT) AS height,
          | CAST(24 + doc_id % 240 AS INT) AS n_frames,
          | (CAST(CASE WHEN doc_id % 2 = 0 THEN 33333 ELSE 41708 END AS BIGINT)
          |  * CAST(24 + doc_id % 240 AS BIGINT)) // 1000 AS duration_ms
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_av_align", (s, dir) => {
      // audio-video alignment: which REAL scene cuts (decoded from the
      // frame-sig assets) land inside REAL dead air (window-peaked from
      // the WAV PCM bytes) — the clip-segmentation metric a captioning
      // pipeline computes before cutting assets into training clips.
      // Both extractors run their genuine decode; only per-asset
      // metadata rows meet at the equi-join (blobs never move). The
      // timelines bridge at 4 audio frames per video frame; the oracle
      // re-derives both closed forms arithmetically and replays the
      // same containment.
      val docs = par(s)(t(s, dir, "documents"))
      Multimodal.alignCutsToSilence(
        Multimodal.keyframes(Multimodal.syntheticFrameSigAssets(docs)),
        Multimodal.extractSilenceSegments(
          Multimodal.syntheticWavSilenceAssets(docs),
          window = 50, threshold = 256),
        samplesPerFrame = 4L)
        .orderBy(col("asset_id"))
    },
      // both closed forms re-derived: video cuts at frames k*l+1 map to
      // sample 4*k*l; a cut is silent iff its 50-sample window exists
      // (cs < na) and is a quiet window ((w + doc) % 3 = 0) — mod-3
      // windows never merge, so each silent island is one window
      oracle =
        """WITH p AS (SELECT doc_id, 24 + doc_id % 240 AS nv,
          |  1 + doc_id % 7 AS l, 200 + doc_id % 800 AS na FROM documents),
          |c AS (SELECT doc_id, na,
          |  4 * unnest(range(1, (nv - 1) // l + 1)) * l AS cs FROM p),
          |h AS (SELECT doc_id,
          |  CASE WHEN cs < na AND ((cs // 50) + doc_id) % 3 = 0
          |   THEN 1 ELSE 0 END AS silent
          | FROM c)
          |SELECT doc_id AS asset_id, CAST(count(*) AS BIGINT) AS n_cuts,
          | CAST(sum(silent) AS BIGINT) AS n_silent_cuts
          |FROM h GROUP BY 1 ORDER BY asset_id""".stripMargin),

    QueryDef("mm_scene_cuts", (s, dir) => {
      // shot-boundary detection over per-frame signature arrays: cuts =
      // positions whose signature differs from the predecessor — one
      // narrow array expression, no shuffle, blobs never move. The
      // fixture's closed-form runs let the oracle derive cut positions
      // by independent arithmetic (every L-th frame), not array replay.
      Multimodal.sceneCuts(
        Multimodal.syntheticFrameSigAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("asset_id"))
    },
      oracle =
        """WITH p AS (SELECT doc_id, 24 + doc_id % 240 AS n,
          |  1 + doc_id % 7 AS l FROM documents)
          |SELECT doc_id AS asset_id,
          | CAST(n AS BIGINT) AS n_frames,
          | CAST((n - 1) // l AS BIGINT) AS n_cuts,
          | array_to_string(list_transform(range(1, (n - 1) // l + 1),
          |   k -> CAST(k * l + 1 AS VARCHAR)), ',') AS cuts_csv,
          | CAST(n AS DOUBLE) / CAST((n - 1) // l + 1 AS DOUBLE)
          |  AS mean_scene_len
          |FROM p ORDER BY asset_id""".stripMargin),

    QueryDef("mm_keyframes", (s, dir) => {
      // one row per scene: ordinal, opening frame, its signature — the
      // frame-sample stream a per-frame model would consume; fixture
      // runs are closed-form so the oracle derives every row (scene k
      // of doc starts at k·L+1 with signature k) arithmetically
      Multimodal.keyframes(
        Multimodal.syntheticFrameSigAssets(par(s)(t(s, dir, "documents"))))
        .orderBy(col("asset_id"), col("scene_idx"))
    },
      // independent arithmetic (no array replay): with scene length L =
      // 1 + id%7 and n = 24 + id%240 frames, cuts sit at k·L+1 for k =
      // 1..(n−1)//L; mean length = n / (cuts+1), one IEEE division
      // scene k (0-based) opens at frame k·L+1 whose signature is k —
      // pure arithmetic, no array replay
      oracle =
        """WITH p AS (SELECT doc_id, 24 + doc_id % 240 AS n,
          |  1 + doc_id % 7 AS l FROM documents),
          |s AS (SELECT doc_id, l, unnest(range(0, (n - 1) // l + 1)) AS k
          | FROM p)
          |SELECT doc_id AS asset_id,
          | CAST(k + 1 AS INT) AS scene_idx,
          | CAST(k * l + 1 AS INT) AS start_frame,
          | CAST(k AS INT) AS sig
          |FROM s ORDER BY asset_id, scene_idx""".stripMargin),

    QueryDef("mm_features_errors", (s, dir) => {
      // routed-error decode path: every 13th payload is truncated inside
      // the BMP file header, and routeErrors=true must convert the decode
      // failure into a decode_error row (null dims + the exception
      // message) instead of aborting the job; clean rows must still
      // recover their closed-form dims via the real header parse
      Multimodal.extractFeatures(
        Multimodal.syntheticBmpAssetsCorrupted(par(s)(t(s, dir, "documents"))),
        Multimodal.BmpCodec, routeErrors = true)
        .select(col("asset_id"), col("width"), col("height"),
          col("decode_error"))
        .orderBy(col("asset_id"))
    },
      // corruption is planted at doc_id % 13 = 0 (payload truncated inside
      // the file header), so which rows error — and the codec's exact
      // message (Scala require prefixes "requirement failed: ") — is
      // closed-form; clean rows keep the mm_features_bmp dims
      oracle =
        """SELECT doc_id AS asset_id,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + doc_id % 1024 AS INT) END AS width,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + (doc_id * 7) % 1024 AS INT) END AS height,
          | CASE WHEN doc_id % 13 = 0
          |  THEN 'requirement failed: not a BMP payload (missing BM magic or truncated header)'
          |  ELSE NULL END AS decode_error
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_features_jpeg", (s, dir) => {
      // REAL JPEG decode path: closed-form JFIF headers per doc (odd ids
      // progressive SOF2, even baseline SOF0, both behind an APP0 the
      // scan must walk by declared length), dims recovered by JpegCodec's
      // marker scan; every 13th payload truncated inside APP0 exercises
      // the routed-error policy (the scan runs out without a SOF)
      Multimodal.extractFeatures(
        Multimodal.syntheticJpegAssetsCorrupted(par(s)(t(s, dir, "documents"))),
        Multimodal.JpegCodec, routeErrors = true)
        .select(col("asset_id"), col("width"), col("height"),
          col("decode_error"))
        .orderBy(col("asset_id"))
    },
      // JPEG dims are closed-form in doc_id (syntheticJpegAssets); the
      // corrupted 13th payloads end inside APP0, so the marker scan
      // throws its no-SOF IllegalArgumentException (thrown directly —
      // no "requirement failed: " prefix, unlike the BMP require path)
      oracle =
        """SELECT doc_id AS asset_id,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + doc_id % 1024 AS INT) END AS width,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + (doc_id * 11) % 1024 AS INT) END AS height,
          | CASE WHEN doc_id % 13 = 0
          |  THEN 'truncated JPEG: no SOF marker found'
          |  ELSE NULL END AS decode_error
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_features_png", (s, dir) => {
      // REAL PNG decode path: spec-valid signature+IHDR prefixes per doc
      // (closed-form dims, real CRC32), dims recovered by PngCodec's
      // fixed-offset big-endian IHDR parse; every 13th payload truncated
      // before the IHDR type exercises the routed-error policy
      Multimodal.extractFeatures(
        Multimodal.syntheticPngAssetsCorrupted(par(s)(t(s, dir, "documents"))),
        Multimodal.PngCodec, routeErrors = true)
        .select(col("asset_id"), col("width"), col("height"),
          col("decode_error"))
        .orderBy(col("asset_id"))
    },
      // PNG dims are closed-form in doc_id (syntheticPngAssets); the
      // corrupted 13th payloads end before the IHDR type, so the
      // signature/length require fires ("requirement failed: " prefix,
      // the BMP-path message shape)
      oracle =
        """SELECT doc_id AS asset_id,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + doc_id % 1024 AS INT) END AS width,
          | CASE WHEN doc_id % 13 = 0 THEN NULL
          |  ELSE CAST(16 + (doc_id * 13) % 1024 AS INT) END AS height,
          | CASE WHEN doc_id % 13 = 0
          |  THEN 'requirement failed: not a PNG payload (missing signature or truncated IHDR)'
          |  ELSE NULL END AS decode_error
          |FROM documents ORDER BY asset_id""".stripMargin),

    QueryDef("mm_resize", (s, dir) => {
      // REAL image resize: pixel-carrying BMPs (closed-form dims AND
      // closed-form pixel values) nearest-neighbor-resized to 8×8 and
      // re-encoded; the emitted probe pixels put the whole decode →
      // resize → re-encode → re-decode loop under the oracle, which
      // replays the integer source-pixel mapping arithmetically.
      Multimodal.extractResizeProbes(
        Multimodal.syntheticPixelBmpAssets(par(s)(t(s, dir, "documents"))),
        dstW = 8, dstH = 8)
        .orderBy(col("asset_id"))
    },
      // nearest-neighbor probe replay: src dims are closed-form in
      // doc_id, dst is 8×8, so probe (x,y) reads source pixel
      // (x·srcW//8, y·srcH//8) whose value is (sx·31 + sy·17) mod 256
      oracle = {
        def probe(x: Int, y: Int) =
          s"CAST(((($x * w) // 8) * 31 + (($y * h) // 8) * 17) % 256 AS INT)"
        s"""WITH d AS (SELECT doc_id,
           |  4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h FROM documents)
           |SELECT doc_id AS asset_id,
           | CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
           | ${probe(1, 2)} AS p12,
           | ${probe(4, 4)} AS pmid,
           | ${probe(7, 7)} AS pend
           |FROM d ORDER BY asset_id""".stripMargin
      }),

    QueryDef("mm_phash_pairs", (s, dir) => {
      // perceptual image near-dup: REAL pixel decode → 9×8 nearest-
      // neighbor resize → 64-bit dHash per asset (8 bytes leave the
      // blob scan), then hamming-≤3 pairs via the same pigeonhole
      // banding as text simhash — 4 chunks of 16 bits, exact-match
      // bucket join, exact hamming verify. No image bytes ever shuffle
      // and no n² compare runs; the oracle replays the whole
      // decode→resize→gradient chain as closed-form pixel arithmetic
      // and brute-forces the pairs, so banding must lose nothing.
      Dedup.hammingNearDupPairs(
        Multimodal.extractDHash(
          Multimodal.syntheticPixelBmpAssets(par(s)(t(s, dir, "documents")))),
        idCol = "asset_id", sigCol = "phash", bits = 64, maxDist = 3)
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // dHash replay: gray(x,y) of the 9×8 resize reads source pixel
      // ((x·w)//9, (y·h)//8) whose value is (31·sx + 17·sy) mod 256 —
      // the mm_resize arithmetic — and bit y·8+x compares adjacent
      // grays. Bits 0..62 sum as shifted BIGINTs; bit 63 is the long's
      // sign bit, added as -2^63 (DuckDB refuses 1<<63). Pairs are
      // BRUTE-FORCED (a.id < b.id cross join + exact hamming), so the
      // engine's pigeonhole banding is proven lossless against ground
      // truth, not against itself.
      oracle = {
        def gray(x: String, y: String) =
          s"(31 * (($x * w) // 9) + 17 * (($y * h) // 8)) % 256"
        s"""WITH d AS (SELECT doc_id,
           |  4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h FROM documents),
           |hsh AS MATERIALIZED (SELECT doc_id,
           |  CAST(list_sum(list_transform(range(0, 63), b ->
           |    CASE WHEN ${gray("((b % 8) + 1)", "(b // 8)")}
           |            > ${gray("(b % 8)", "(b // 8)")}
           |     THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
           |  + CASE WHEN ${gray("8", "7")} > ${gray("7", "7")}
           |     THEN (-9223372036854775807 - 1) ELSE 0 END AS ph
           | FROM d)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           | CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS dist
           |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.ph, b.ph)) <= 3
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef("mm_stream_phash_dedup", (s, dir) => {
      // online image dedup at INGEST: hashes batch-extract (the codec
      // runs in the scan; 8 bytes/image leave it) and stage; the stream
      // then claims pigeonhole chunk buckets first-writer-wins with an
      // exact hamming verify against each bucket's claimer — a 16-bit
      // chunk collision alone is not similarity, unlike a MinHash band.
      // Single-batch replay reduces to min-id-claims, which the oracle
      // recomputes from closed-form pixel arithmetic. Loser feed,
      // distinct ids.
      val hashes = Multimodal.extractDHash(
        Multimodal.syntheticPixelBmpAssets(t(s, dir, "documents")))
      val staging = s"$artifactRoot/stream_phash_input"
      hashes.write.mode("overwrite").parquet(staging)
      val schema = Tables.footerSchema(s, staging)
      val stream = s.readStream.schema(schema).parquet(staging)
      val losses = PhashStream.onlineImageDedupStream(
        Dedup.hammingChunkKeys(stream, "asset_id", "phash",
          bits = 64, maxDist = 3))
      Sessionize.runToMemory(s, losses.toDF(), "mm_stream_phash_sink",
        OutputMode.Append, statePartitions = 8)
        .select(col("asset_id")).distinct()
        .orderBy(col("asset_id"))
    },
      // single-batch replay of the claim protocol: per (chunk, value)
      // bucket the min id claims; sharers lose iff within hamming 3 of
      // THE CLAIMER (not of any neighbor — first-writer-wins is the
      // semantics, same as dedup_online's band complement)
      oracle = {
        def gray(x: String, y: String) =
          s"(31 * (($x * w) // 9) + 17 * (($y * h) // 8)) % 256"
        s"""WITH d AS (SELECT doc_id,
           |  4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h FROM documents),
           |hsh AS MATERIALIZED (SELECT doc_id,
           |  CAST(list_sum(list_transform(range(0, 63), b ->
           |    CASE WHEN ${gray("((b % 8) + 1)", "(b // 8)")}
           |            > ${gray("(b % 8)", "(b // 8)")}
           |     THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
           |  + CASE WHEN ${gray("8", "7")} > ${gray("7", "7")}
           |     THEN (-9223372036854775807 - 1) ELSE 0 END AS ph
           | FROM d),
           |ck AS MATERIALIZED (SELECT doc_id, ph, u AS ci,
           |  (ph >> (u * 16)) & 65535 AS cv
           | FROM hsh, unnest([0, 1, 2, 3]) AS t(u)),
           |cl AS (SELECT ci, cv, min(doc_id) AS winner
           | FROM ck GROUP BY ci, cv)
           |SELECT DISTINCT b.doc_id AS asset_id
           |FROM ck b JOIN cl ON b.ci = cl.ci AND b.cv = cl.cv
           | JOIN hsh a ON a.doc_id = cl.winner
           |WHERE b.doc_id <> cl.winner
           | AND bit_count(xor(a.ph, b.ph)) <= 3
           |ORDER BY asset_id""".stripMargin
      }),

    QueryDef("mm_stream_audio_dedup", (s, dir) => {
      // online AUDIO dedup at ingest — the same claim protocol as the
      // image stream (PhashStream is hash-generic: pigeonhole chunk
      // buckets claimed first-writer-wins, exact hamming verify
      // against the claimer), driven by the energy-gradient
      // fingerprint: 8 bytes per asset leave the blob scan, perturbed
      // siblings lose to their base asset, unrelated audio never
      // collides. Single-batch replay reduces to min-id-claims, which
      // the oracle recomputes from the closed-form samples.
      val hashes = Multimodal.extractAudioFingerprint(
        Multimodal.syntheticWavNearDupAssets(t(s, dir, "documents")))
      val staging = s"$artifactRoot/stream_audiofp_input"
      hashes.write.mode("overwrite").parquet(staging)
      val schema = Tables.footerSchema(s, staging)
      val stream = s.readStream.schema(schema).parquet(staging)
      val losses = PhashStream.onlineImageDedupStream(
        Dedup.hammingChunkKeys(stream, "asset_id", "afp",
          bits = 64, maxDist = 3))
      Sessionize.runToMemory(s, losses.toDF(), "mm_stream_audiofp_sink",
        OutputMode.Append, statePartitions = 8)
        .select(col("asset_id")).distinct()
        .orderBy(col("asset_id"))
    },
      // the audio twin of mm_stream_phash_dedup's replay: the same
      // energy-gradient hash CTEs as mm_audio_fingerprint_pairs, then
      // min-id-claims per (chunk, value) bucket + hamming verify
      oracle = {
        val baseAbs =
          "abs((((j*2657 + id*7919)*(j*2657 + id*7919)) // 256) % 65536 - 32768)"
        val absExpr =
          s"""CASE WHEN sib AND j % 13 = 0
             |  THEN greatest($baseAbs - 5, 0)
             |  ELSE $baseAbs
             |  END""".stripMargin.replace("\n", " ")
        s"""WITH assets AS (
           |  SELECT doc_id AS aid, doc_id AS id, false AS sib,
           |   260 + doc_id % 700 AS n FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, doc_id, true, 260 + doc_id % 700
           |  FROM documents WHERE doc_id % 17 = 0),
           |es AS MATERIALIZED (SELECT aid,
           |  list_transform(range(0, 65), w ->
           |   list_sum(list_transform(
           |    range(w * (n // 65), (w + 1) * (n // 65)),
           |    j -> $absExpr))) AS e
           | FROM assets),
           |hsh AS MATERIALIZED (SELECT aid,
           |  CAST(list_sum(list_transform(range(0, 63), b ->
           |    CASE WHEN e[b+2] > e[b+1]
           |     THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
           |  + CASE WHEN e[65] > e[64]
           |     THEN (-9223372036854775807 - 1) ELSE 0 END AS afp
           | FROM es),
           |ck AS MATERIALIZED (SELECT aid, afp, u AS ci,
           |  (afp >> (u * 16)) & 65535 AS cv
           | FROM hsh, unnest([0, 1, 2, 3]) AS t(u)),
           |cl AS (SELECT ci, cv, min(aid) AS winner
           | FROM ck GROUP BY ci, cv)
           |SELECT DISTINCT b.aid AS asset_id
           |FROM ck b JOIN cl ON b.ci = cl.ci AND b.cv = cl.cv
           | JOIN hsh a ON a.aid = cl.winner
           |WHERE b.aid <> cl.winner
           | AND bit_count(xor(a.afp, b.afp)) <= 3
           |ORDER BY asset_id""".stripMargin
      }),

    QueryDef("mm_features", (s, dir) => {
      // stubbed decode via FakeCodec (rows-only; determinism unit-tested)
      Multimodal.extractFeatures(
        Multimodal.syntheticAssets(par(s)(t(s, dir, "documents"))))
        .select(col("asset_id"), col("width"), col("height"),
          // null text → null features; concat_ws would fold the null array
          // to "" while the oracle's md5(NULL) chain yields SQL NULL
          when(col("frame_hashes").isNull, lit(null: String))
            .otherwise(concat_ws(",", col("frame_hashes")))
            .as("frame_hashes_csv"))
        .orderBy(col("asset_id"))
    },
      // FakeCodec is closed-form over md5 of the utf-8 payload
      // (Multimodal.scala FakeCodec): dims from hex digits 1-3 / 4-6,
      // frame hash i = md5(payload ++ byte(i)). chr(i) appends the same
      // single byte in DuckDB's utf-8 varchar for i < 0x80.
      oracle = {
        def hex3(s: String): String =
          s"((strpos('0123456789abcdef', substr($s,1,1))-1)*256" +
            s" + (strpos('0123456789abcdef', substr($s,2,1))-1)*16" +
            s" + (strpos('0123456789abcdef', substr($s,3,1))-1))"
        s"""WITH h AS (SELECT doc_id AS asset_id, md5(text) AS hh, text FROM documents)
           |SELECT asset_id,
           | CAST(16 + ${hex3("substr(hh,1,3)")} AS INT) AS width,
           | CAST(16 + ${hex3("substr(hh,4,3)")} AS INT) AS height,
           | md5(text || chr(0)) || ',' || md5(text || chr(1)) || ',' || md5(text || chr(2)) AS frame_hashes_csv
           |FROM h ORDER BY asset_id""".stripMargin
      })
  )
}
