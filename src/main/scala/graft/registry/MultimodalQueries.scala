package graft
package registry

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal}
import graft.sources.Tables

/** Multimodal queries over the synthesized media payloads:
  * metadata, decode, frames and perceptual-hash near-dups.
  */
object MultimodalQueries {
  private val Family = "multimodal"

  /** q_media_neardup oracle: the 56-bit dHash rebuilt term by term
    * from the closed-form pixel function pixel(x,y) = (31x+17y+id)%256
    * with w = 1+id%16, h = 1+id%12 — the same formula q_media_decode
    * already proves the real codec round-trips losslessly.
    */
  private val mediaNeardupOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id) % 256)"
    val terms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
       |), fp AS (
       |  SELECT doc_id,
       |         $terms AS dhash
       |  FROM dims
       |)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |       CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= 3""".stripMargin
  }

  /** q_media_hashes oracle: BOTH 56-bit perceptual-hash channels
    * rebuilt term by term from the closed-form pixel function —
    * dhash from horizontal gradient signs, ahash from the exact
    * integer mean-threshold cross-multiplication s(r,g)·56 > Σs.
    */
  private val mediaHashesOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id) % 256)"
    val dterms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    val sumTerms = (for { r <- 0 until 8; g <- 0 until 7 } yield px(g, r))
      .mkString(" + ")
    val aterms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g, r)} * 56 > spx THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h FROM documents
       |), spx0 AS (
       |  SELECT doc_id, w, h, $sumTerms AS spx FROM dims
       |)
       |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       |       $dterms AS dhash,
       |       $aterms AS ahash
       |FROM spx0""".stripMargin
  }

  /** q_video_frames oracle: every decoded frame's facts replayed from
    * the closed-form pixel function pixel(x,y,f) = (31x+17y+id+7f)
    * mod 256 with w = 1+id%16, h = 1+id%12, n_frames = 2+id%5 — the
    * values gifFrameMeta proves the real GIF sequence codec
    * round-trips losslessly.
    */
  private val videoFramesOracleSql: String =
    """WITH dims AS (
      |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h,
      |         2 + doc_id % 5 AS nf
      |  FROM documents
      |), fr AS (
      |  SELECT doc_id, w, h, nf, CAST(f AS BIGINT) AS f
      |  FROM dims, unnest(range(0, nf)) AS t(f)
      |), px AS (
      |  SELECT doc_id, f, nf, w, h,
      |         (31*x + 17*y + doc_id + 7*f) % 256 AS v
      |  FROM fr, unnest(range(0, w)) AS tx(x), unnest(range(0, h)) AS ty(y)
      |)
      |SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
      |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |       CAST(sum(v) AS BIGINT) AS sum_px
      |FROM px GROUP BY doc_id, f, nf, w, h""".stripMargin

  /** q_video_neardup oracle: the per-frame 56-bit dHash rebuilt term
    * by term from the same closed-form pixel function (sampled at the
    * 8×8 grid), then ALL Hamming-≤3 pairs by brute force over the
    * (video, frame) fingerprint table — the banded Spark join must
    * reproduce the brute answer exactly (pigeonhole covers ≤3 with
    * 4 chunks).
    */
  private val videoNeardupOracleSql: String = {
    def px(gx: Int, r: Int) =
      s"((31*(($gx*w)//8) + 17*(($r*h)//8) + doc_id + 7*f) % 256)"
    val terms = (for { r <- 0 until 8; g <- 0 until 7 } yield
      s"CASE WHEN ${px(g + 1, r)} > ${px(g, r)} THEN CAST(${1L << (r * 7 + g)} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 12 AS h,
       |         2 + doc_id % 5 AS nf
       |  FROM documents
       |), fr AS (
       |  SELECT doc_id, w, h, CAST(f AS BIGINT) AS f
       |  FROM dims, unnest(range(0, nf)) AS t(f)
       |  WHERE doc_id % 7 = 0
       |), fp AS (
       |  SELECT doc_id * 8 + f AS fkey,
       |         $terms AS dhash
       |  FROM fr
       |)
       |SELECT x.fkey // 8 AS vid_a, CAST(x.fkey % 8 AS INT) AS frame_a,
       |       y.fkey // 8 AS vid_b, CAST(y.fkey % 8 AS INT) AS frame_b,
       |       CAST(bit_count(xor(x.dhash, y.dhash)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.fkey < y.fkey
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= 3""".stripMargin
  }

  /** q_audio_neardup oracle: the 56-bit delta-sign fingerprint rebuilt
    * term by term from the closed-form sample formula
    * sample(i) = ((31i + id) mod 256 − 128)·256 with n = 64 +
    * (id % 12)·4 — the formula q_audio_meta proves the real WAV codec
    * round-trips losslessly. The oracle compares the un-scaled values
    * (the ·256 gain is sign-preserving, so the delta signs agree).
    */
  private val audioNeardupOracleSql: String = {
    def v(p: String) = s"((31*($p) + doc_id) % 256 - 128)"
    val terms = (0 until 56).map(j =>
      s"CASE WHEN ${v(s"((${j + 1})*(n-1))//56")} > ${v(s"(($j)*(n-1))//56")} THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString("\n           + ")
    s"""WITH dims AS (
       |  SELECT doc_id, CAST(64 + (doc_id % 12) * 4 AS INT) AS n FROM documents
       |), fp AS (
       |  SELECT doc_id,
       |         $terms AS afp
       |  FROM dims
       |)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |       CAST(bit_count(xor(x.afp, y.afp)) AS INT) AS hamming
       |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.afp, y.afp)) <= 3""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_media_meta", Family, (s, dir) =>
      Multimodal.mediaMetaRelational(Tables.documents(s, dir), "doc_id", "text"), Some(
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |       CAST(octet_length(CAST(text AS BLOB)) % 640 AS INT) AS width,
        |       CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 AS INT) AS height,
        |       CAST(octet_length(CAST(text AS BLOB)) % 24 AS INT) AS n_frames,
        |       ascii(substr(text, 1, 1)) AS first_byte
        |FROM documents""".stripMargin)),

    // REAL codec round-trip: per-doc PNG synthesized and then decoded
    // with javax.imageio on the executors; every output column comes
    // from the decoded image, verified by the oracle's closed-form
    // pixel function (lossless PNG ⇒ exact integer match).
    QueryDef("q_media_decode", Family, (s, dir) =>
      Multimodal.pngRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id"), Some(
      """WITH px AS (
        |  SELECT d.doc_id, ((31 * x.g + 17 * y.g + d.doc_id) % 256) AS v
        |  FROM documents d,
        |       LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 16)) AS g) x,
        |       LATERAL (SELECT unnest(range(0, 1 + d.doc_id % 12)) AS g) y
        |)
        |SELECT doc_id,
        |       CAST(1 + doc_id % 16 AS INT) AS width,
        |       CAST(1 + doc_id % 12 AS INT) AS height,
        |       CAST(3 AS INT) AS channels,
        |       CAST(sum(v) AS BIGINT) AS sum_px
        |FROM px GROUP BY doc_id""".stripMargin)),

    // frame sampling: explode selected frame indices per media row
    // (every 4th frame of the stub metadata's n_frames).
    QueryDef("q_media_frames", Family, (s, dir) =>
      Multimodal.frameSamplePlan(
        Multimodal.mediaMetaRelational(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", "n_frames", everyN = 4), Some(
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(CAST(text AS BLOB)) % 24 AS INT) AS n_frames
        |  FROM documents
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       round(CAST(i AS INT) * 1000.0 / 24.0, 6) AS frame_ms
        |FROM m, unnest(CASE WHEN n_frames > 0
        |                    THEN range(0, n_frames, 4)
        |                    ELSE CAST([] AS BIGINT[]) END) AS t(i)""".stripMargin)),

    // perceptual image near-dup: 56-bit dHash over REAL-decoded PNG
    // raster samples (the q_media_decode codec round-trip), paired by
    // the pigeonhole Hamming band join (4×14-bit chunks cover
    // maxDist ≤ 3) — never all-pairs. The fingerprint table is cached:
    // the band self-join would otherwise run the codec twice per doc.
    QueryDef("q_media_neardup", Family, (s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.pngPerceptualHash(
          Tables.documents(s, dir).select("doc_id"), "doc_id")
          .select("doc_id", "dhash"))
      Dedup.hammingPairs(fp, "doc_id", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }, Some(
      // dHash replay from the closed-form pixel function (PNG lossless ⇒
      // decoded raster ≡ formula): per doc, 8×8 nearest-neighbor samples
      // at (g·w//8, r·h//8), bit r·7+g = gradient sign; brute pair join
      // (test-SF only — the engine side is the bucketed band join).
      mediaNeardupOracleSql)),

    // BOTH perceptual-hash channels as a directly-oracled table: the
    // near-dup query exercises only the dhash channel, so this pins
    // ahash — and the decoded dimensions — to the closed-form pixel
    // function; no shipped output column without a driver-checked
    // signal.
    QueryDef("q_media_hashes", Family, (s, dir) =>
      Multimodal.pngPerceptualHash(
        Tables.documents(s, dir).select("doc_id"), "doc_id"), Some(mediaHashesOracleSql)),

    // LOSSY codec round-trip audit: real libjpeg encode+decode per
    // doc; geometry columns are closed-form (JPEG preserves them),
    // err_ok is the engine-measured artifact bound (oracle states the
    // spec constant; the measured global max over the full synth
    // period is 42, tol 48 — ExtSpec pins lossiness and the margin).
    QueryDef("q_jpeg_meta", Family, (s, dir) =>
      Multimodal.jpegRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id"), Some(
      // JPEG geometry is lossless (closed-form from key = id mod 10⁷ —
      // the engine's synthJpegSource key, mirrored so ids ≥ 10⁷ can
      // never diverge the two sides); err_ok is the spec bound the
      // ENGINE proves by measuring the real lossy decode against the
      // real source (measured global max 42 ≤ tol 48)
      """SELECT doc_id,
        |       CAST(8 * (8 + (doc_id % 10000000) % 5) AS INT) AS width,
        |       CAST(8 * (8 + (doc_id % 10000000) % 3) AS INT) AS height,
        |       CAST(3 AS INT) AS channels,
        |       TRUE AS err_ok
        |FROM documents""".stripMargin)),

    // perceptual near-dup FACING COMPRESSION ARTIFACTS: each doc id
    // gets a twin (id + 10⁷) whose SOURCE image is identical, so the
    // twin pair survives the lossy round trip at hamming 0 (same
    // bytes in ⇒ same artifacts out — determinism the oracle
    // replays), while every distinct key carries artifact-laden
    // hashes the band join must keep apart. Same 4×14-bit pigeonhole
    // chain as q_media_neardup. Twin construction contract: corpus
    // ids < 10⁷ (all testdata SFs), else a planted twin id would
    // alias a real doc — the key mod in synthJpegSource and the
    // oracle are aligned regardless.
    QueryDef("q_jpeg_neardup", Family, (s, dir) => {
      val ids = Tables.documents(s, dir).select("doc_id")
      val fp = graft.core.Caches.cached(
        Multimodal.jpegPerceptualHash(
          ids.unionByName(ids.select(
            (col("doc_id") + lit(10000000L)).as("doc_id"))), "doc_id")
          .select("doc_id", "dhash"))
      Dedup.hammingPairs(fp, "doc_id", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }, Some(
      // the planted twins (id, id + 10⁷) share one SOURCE image, so the
      // deterministic codec gives byte-identical JPEGs → hamming 0;
      // distinct keys' artifact-laden hashes stay outside maxDist (the
      // strict hash over 3 SFs proves both directions: all twins found,
      // no artifact-driven false pair)
      """SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
        |       CAST(0 AS INT) AS hamming
        |FROM documents""".stripMargin)),

    // REAL audio codec round-trip: per-doc PCM synthesized, framed as
    // WAV by javax.sound on the executors, decoded back; every output
    // column comes from the DECODED stream, verified by the oracle's
    // closed-form sample formula (lossless PCM ⇒ exact integer match).
    QueryDef("q_audio_meta", Family, (s, dir) =>
      Multimodal.wavRoundTripMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id"), Some(
      """WITH dims AS (
        |  SELECT doc_id, CAST(64 + (doc_id % 12) * 4 AS INT) AS n FROM documents
        |)
        |SELECT doc_id, n AS n_samples, CAST(8000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(list_sum(list_transform(range(0, CAST(n AS BIGINT)),
        |              i -> ((31*i + doc_id) % 256 - 128) * 256)) AS BIGINT) AS sum_samples
        |FROM dims""".stripMargin)),

    // audio near-dup: 56-bit delta-sign fingerprint over REAL-decoded
    // WAV samples, paired by the same pigeonhole Hamming band join the
    // text SimHash and image dHash ride (4×14-bit chunks cover
    // maxDist ≤ 3). Fingerprints cached: the band self-join would
    // otherwise run the codec twice per doc.
    QueryDef("q_audio_neardup", Family, (s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.wavFingerprint(
          Tables.documents(s, dir).select("doc_id"), "doc_id")
          .select("doc_id", "afp"))
      Dedup.hammingPairs(fp, "doc_id", "afp",
        nChunks = 4, chunkBits = 14, maxDist = 3)
    }, Some(audioNeardupOracleSql)),
    // REAL multi-frame (video-like) codec round-trip: per doc an
    // animated GIF is synthesized, ENCODED with ImageIO's sequence
    // writer and DECODED frame by frame on the executors; every
    // column comes from the decoded stream (frame count from
    // getNumImages, pixels from decoded RGB). GIF is lossless for
    // indexed input, so the oracle replays each frame's facts from
    // the closed-form pixel function — the real decode behind
    // frameSamplePlan's plan-only frame explosion.
    QueryDef("q_video_frames", Family, (s, dir) =>
      Multimodal.gifFrameMeta(
        Tables.documents(s, dir).select("doc_id"), "doc_id"), Some(videoFramesOracleSql)),
    // temporal/video near-dup: per-frame 56-bit dHash over the
    // DECODED GIF rasters, paired by the same pigeonhole Hamming band
    // join every fingerprint family rides, keyed by the packed
    // (video, frame) id. Consecutive frames differ by a +7 brightness
    // shift, so intra-video frame pairs surface as near-dups (the
    // shot-boundary structure). Fingerprints cached: the band
    // self-join would otherwise run the codec twice per frame. The
    // doc_id%7==0 video slice: the additive synthetic pixel function
    // makes constant-shift frames across videos GENUINE near-dups, so
    // the full-corpus answer is a multi-million-row pair table —
    // correct but all fixture artifact; the slice keeps every
    // semantic (intra-video shot pairs + cross-video dups) at a
    // reviewable volume, and the band join's corpus-axis scaling is
    // already pinned by q_media_neardup on the full table.
    QueryDef("q_video_neardup", Family, (s, dir) => {
      val fp = graft.core.Caches.cached(
        Multimodal.gifFrameHash(
          Tables.documents(s, dir).select("doc_id")
            .filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id")
          .select("fkey", "dhash"))
      Dedup.hammingPairs(fp, "fkey", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
        .select(shiftright(col("id_a"), 3).as("vid_a"),
          (col("id_a").bitwiseAND(7L)).cast("int").as("frame_a"),
          shiftright(col("id_b"), 3).as("vid_b"),
          (col("id_b").bitwiseAND(7L)).cast("int").as("frame_b"),
          col("hamming"))
    }, Some(videoNeardupOracleSql))
  )
}
