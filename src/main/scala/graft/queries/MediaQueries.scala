package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal-pipeline queries: binary payload columns + decode /
  * feature-extract / frame-sample plumbing. The decode codec is the
  * documented STUB seam, but the stub is DETERMINISTIC md5-byte
  * arithmetic (payload = unhex(md5(text)); dims/frames from masked
  * bytes) — so both queries are fully DuckDB-expressible and get real
  * hash-checked oracles (round-5 verdict, What's missing #2): the SQL
  * below re-derives each payload byte from the md5 hex digits. */
object MediaQueries {

  /** SQL int value of the hex digit at 1-based `pos` of lowercase-hex
    * column `hx`. */
  private def hexDigit(hx: String, pos: Int): String =
    s"(CASE WHEN substr($hx, $pos, 1) BETWEEN '0' AND '9' " +
      s"THEN ascii(substr($hx, $pos, 1)) - 48 " +
      s"ELSE ascii(substr($hx, $pos, 1)) - 87 END)"

  /** SQL value of payload byte `i` (0-based) where the payload is
    * unhex(`hx`): two hex digits at 1-based positions 2i+1, 2i+2. */
  private def hexByte(hx: String, i: Int): String =
    s"(${hexDigit(hx, 2 * i + 1)} * 16 + ${hexDigit(hx, 2 * i + 2)})"

  /** [[hexDigit]] with a DYNAMIC 1-based position expression — written in
    * the substring/ascii/BETWEEN dialect intersection, so the SAME string
    * is valid Spark SQL and DuckDB SQL (m08 interpolates it into both
    * engines' caption-time lambdas; identical text = identical bytes). */
  private def hexDigitAt(hx: String, pos: String): String =
    s"(CASE WHEN substring($hx, $pos, 1) BETWEEN '0' AND '9' " +
      s"THEN ascii(substring($hx, $pos, 1)) - 48 " +
      s"ELSE ascii(substring($hx, $pos, 1)) - 87 END)"

  /** [[hexByte]] with a dynamic 0-based byte-index expression (dual-engine
    * like [[hexDigitAt]]). */
  private def hexByteAt(hx: String, i: String): String =
    s"(${hexDigitAt(hx, s"2*($i)+1")} * 16 + ${hexDigitAt(hx, s"2*($i)+2")})"

  /** Decoded-stub CTE: mirrors Multimodal.syntheticMedia (kind
    * round-robins by id, payload = md5 bytes) + decodeStub (width/height
    * from first/last payload byte & 0x3f, video frames from the middle
    * byte & 0x0f). Payload length is always 16 (md5), so "last" = byte 15
    * and "middle" = byte 8. */
  private val sqlDecodedCte: String =
    s"""dec AS (SELECT doc_id AS media_id,
        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
          ELSE 'video' END AS kind,
        CAST(64 + (${hexByte("md5(text)", 0)} % 64) AS INT) AS width,
        CAST(64 + (${hexByte("md5(text)", 15)} % 64) AS INT) AS height,
        CAST(CASE WHEN CAST(doc_id % 3 AS INT) = 2
          THEN 1 + (${hexByte("md5(text)", 8)} % 16) ELSE 1 END AS INT) AS n_frames
      FROM documents
      WHERE text IS NOT NULL)"""

  /** DuckDB mirror of Multimodal.perceptualHashGroups' aHash over a
    * `med` CTE (media_id, kind, hx = md5 hex): the 8 payload bytes `byt`,
    * then `ph` with bit j set iff 8·b_j > Σb (the integer-domain mean
    * threshold). `carry` lists extra `med` columns to keep, each followed
    * by ", ". ONE definition for m04/m09/m13. */
  private def sqlAhashCtes(carry: String = ""): String = {
    val byteCols = (0 until 8)
      .map(j => s"${hexByte("hx", j)} AS b$j").mkString(", ")
    val tot = (0 until 8).map(j => s"b$j").mkString(" + ")
    val bits = (0 until 8)
      .map(j => s"CASE WHEN b$j * 8 > tot THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""byt AS (SELECT media_id, kind, $carry$byteCols FROM med),
          ph AS (SELECT media_id, kind, ${carry}CAST($bits AS BIGINT) AS phash
            FROM (SELECT *, $tot AS tot FROM byt))"""
  }

  /** DuckDB mirror of Multimodal.audioChunks' stream metadata: `aud`
    * (sample rate, duration and byte 3 from the md5 payload of the audio
    * rows) and `base` (n_samples, 1 s window, 50% hop). ONE definition for
    * m05/m12/m17. */
  private val sqlAudioBaseCtes: String =
    s"""aud AS (SELECT doc_id AS media_id,
            8000 * (1 + (${hexByte("md5(text)", 1)} % 4)) AS sample_rate,
            (1 + (${hexByte("md5(text)", 2)} % 8)) AS dur_s,
            ${hexByte("md5(text)", 3)} AS b3
          FROM documents
          WHERE text IS NOT NULL AND CAST(doc_id % 3 AS INT) = 1),
        base AS (SELECT media_id, sample_rate,
            CAST(sample_rate * dur_s + b3 * 100 AS BIGINT) AS n_samples,
            CAST(sample_rate AS BIGINT) AS win,
            CAST(sample_rate AS BIGINT) // 2 AS hop
          FROM aud)"""

  /** The m07/m14 shared cost chain: c (media rows + md5 hex + text
    * tokens) → m (decoded stub metadata) → t exposing (media_id, source,
    * kind, n_text, n_media) — ONE definition mirroring
    * Multimodal.mediaTokenCost(patch = 16, frameStride = 4), so the pack
    * and the budget report can never disagree on what a sample costs. */
  private lazy val sqlMediaCostCtes: String =
    s"""c AS (SELECT doc_id AS media_id, source,
          CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
          md5(text) AS hx,
          CAST(len(${TextQueries.sqlToks}) AS BIGINT) AS n_text
        FROM documents WHERE text IS NOT NULL),
        m AS (SELECT media_id, source, kind, n_text,
          64 + (${hexByte("hx", 0)} % 64) AS w,
          64 + (${hexByte("hx", 15)} % 64) AS h,
          1 + (${hexByte("hx", 8)} % 16) AS nf,
          CAST(8000 * (1 + ${hexByte("hx", 1)} % 4) AS BIGINT) AS sr,
          1 + ${hexByte("hx", 2)} % 8 AS dur,
          ${hexByte("hx", 3)} AS b3
        FROM c),
        t AS (SELECT media_id, source, kind, n_text,
          CAST(CASE kind
            WHEN 'image' THEN ((w + 15) // 16) * ((h + 15) // 16)
            WHEN 'video' THEN ((nf - 1) // 4 + 1)
              * ((w + 15) // 16) * ((h + 15) // 16)
            ELSE CASE WHEN sr * dur + b3 * 100 <= sr THEN 1
              ELSE (sr * dur + b3 * 100 - sr) // (sr // 2) + 1 END
          END AS BIGINT) AS n_media
        FROM m)"""

  /** m08/m15's shared frame ↔ caption alignment (Spark side): the m02
    * frame grid at 4 fps as-of joined onto deterministic 8-token
    * transcript chunks — ONE definition so the per-frame view (m08) and
    * the per-media coverage rollup (m15) can never disagree on the
    * alignment rule. */
  private def frameCaptionAligned(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.{Multimodal, TemporalJoins}
    val frames = Multimodal.sampleFrames(
      Multimodal.decodeFeatures(
        Multimodal.syntheticMedia(Tables.documents(s, d))), every = 4)
      .select(col("media_id"), col("kind"), col("frame_idx"),
        (col("frame_idx") * 250).cast("bigint").as("ts_ms"))
    val caps = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .withColumn("hx", md5(col("text")))
      .select(col("doc_id").as("media_id"), explode(expr(
        s"""transform(sequence(0, (size(toks)-1) div 8), k -> named_struct(
           'cap_idx', CAST(k AS BIGINT),
           'ts_ms', CAST(k * 900 + ${hexByteAt("hx", "k % 16")} * 3 AS BIGINT)))"""))
        .as("cap"))
      .select(col("media_id"), col("cap.cap_idx").as("cap_idx"),
        col("cap.ts_ms").as("ts_ms"))
    TemporalJoins.asOfJoin(frames, caps, "media_id", "ts_ms")
      .select(col("media_id"), col("kind"), col("frame_idx"),
        col("ts_ms"), col("asof.cap_idx").as("cap_idx"),
        col("asof.ts_ms").as("cap_start_ms"))
  }

  /** The same alignment as DuckDB CTEs ending in `al` — ONE definition
    * interpolated into the m08 AND m15 oracles. */
  private lazy val sqlFrameCaptionCtes: String =
    s"""$sqlDecodedCte,
        frames AS (SELECT media_id, kind,
          CAST(unnest(CASE WHEN kind = 'video'
            THEN generate_series(0, n_frames - 1, 4)
            ELSE [CAST(0 AS BIGINT)] END) AS INT) AS frame_idx
        FROM dec),
        f AS (SELECT media_id, kind, frame_idx,
          CAST(frame_idx * 250 AS BIGINT) AS ts_ms FROM frames),
        tk AS (SELECT doc_id, md5(text) AS hx,
            ${TextQueries.sqlToks} AS toks
          FROM documents WHERE text IS NOT NULL),
        caps AS (SELECT doc_id AS media_id,
            unnest(list_transform(range(0, (len(toks)-1)//8 + 1),
              k -> {'ci': CAST(k AS BIGINT),
                'st': CAST(k * 900 + ${hexByteAt("hx", "k % 16")} * 3 AS BIGINT)})) AS u
          FROM tk WHERE len(toks) >= 1),
        c AS (SELECT media_id, u.ci AS cap_idx, u.st AS ts_ms FROM caps),
        al AS (SELECT f.media_id, f.kind, f.frame_idx, f.ts_ms,
            c.cap_idx, c.ts_ms AS cap_start_ms
          FROM f ASOF LEFT JOIN c
            ON f.media_id = c.media_id AND f.ts_ms >= c.ts_ms)"""

  val all: Seq[GraftQuery] = Seq(

    // decode + feature-extract over a binary media column (mapPartitions
    // batch shape, narrow plan — no shuffle)
    GraftQuery(
      "m01_media_decode",
      (s, d) =>
        Multimodal.decodeFeatures(Multimodal.syntheticMedia(Tables.documents(s, d)))
          .toDF()
          .select(col("media_id"), col("kind"), col("width"), col("height"),
            col("n_frames")),
      Some(s"WITH $sqlDecodedCte SELECT * FROM dec")),

    // frame sampling: videos explode to strided frame indices
    GraftQuery(
      "m02_frame_sample",
      (s, d) =>
        Multimodal.sampleFrames(
          Multimodal.decodeFeatures(Multimodal.syntheticMedia(Tables.documents(s, d))),
          every = 4),
      Some(s"""WITH $sqlDecodedCte
        SELECT media_id, kind,
          CAST(unnest(CASE WHEN kind = 'video'
            THEN generate_series(0, n_frames - 1, 4)
            ELSE [CAST(0 AS BIGINT)] END) AS INT) AS frame_idx,
          width, height
        FROM dec""")),

    // resize plan: clamp decoded dims to a 96-px max edge preserving
    // aspect ratio — pure column arithmetic over the decode seam (the
    // brief's "resize" op; an actual pixel resize would live behind the
    // same stubbed codec). Decoded dims span [64, 127], so the clamp
    // genuinely bites on ~half the corpus rather than passing through.
    // round() parity note: no (width, height) in the decode domain can
    // produce an exact .5 product (192·w/m odd has no solution with
    // m ≤ 127), so both engines round the same IEEE double identically.
    GraftQuery(
      "m03_resize_plan",
      (s, d) =>
        Multimodal.resizePlan(
          Multimodal.decodeFeatures(Multimodal.syntheticMedia(Tables.documents(s, d))),
          maxEdge = 96),
      Some(s"""WITH $sqlDecodedCte
        SELECT media_id, width, height,
          CAST(round(width * least(1.0, 96.0 / greatest(width, height, 1)))
            AS INT) AS out_width,
          CAST(round(height * least(1.0, 96.0 / greatest(width, height, 1)))
            AS INT) AS out_height
        FROM dec""")),

    // perceptual-hash (aHash) dedup groups: the image-dedup pipeline —
    // decode seam → mean-threshold bit hash → linear keep-min grouping.
    // Threshold math runs in the integer byte domain (8*b_j > Σb) so both
    // engines bit-agree. Scale shape: the ≤768-row group table broadcasts
    // back onto the media rows (the 8-bit hash makes (kind, phash) an
    // unbounded hot key — a window would buffer N/768-row partitions);
    // the oracle states the same result as a window, which DuckDB is free
    // to execute however it likes. See Multimodal.perceptualHashGroups.
    GraftQuery(
      "m04_phash_groups",
      (s, d) =>
        Multimodal.perceptualHashGroups(
          Multimodal.syntheticMedia(Tables.documents(s, d))),
      Some(s"""WITH med AS (SELECT doc_id AS media_id,
            CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
            md5(text) AS hx FROM documents WHERE text IS NOT NULL),
          ${sqlAhashCtes()}
          SELECT media_id, kind, phash,
            min(media_id) OVER (PARTITION BY kind, phash) AS rep_id,
            count(*) OVER (PARTITION BY kind, phash) AS group_n
          FROM ph""")),

    // audio chunking: strided fixed-duration sample windows (1 s window,
    // 50% hop) from decoded stream metadata — the audio analog of m02's
    // frame sampling; narrow explode, no shuffle, all-integer window
    // math (see Multimodal.audioChunks).
    GraftQuery(
      "m05_audio_chunks",
      (s, d) =>
        Multimodal.audioChunks(Multimodal.syntheticMedia(Tables.documents(s, d))),
      Some(s"""WITH $sqlAudioBaseCtes,
        ch AS (SELECT media_id, sample_rate, n_samples, win, hop,
            unnest(generate_series(0,
              CASE WHEN n_samples <= win THEN 0
                ELSE (n_samples - win) // hop END)) AS chunk_idx
          FROM base)
        SELECT media_id, CAST(sample_rate AS INT) AS sample_rate,
          n_samples, CAST(chunk_idx AS INT) AS chunk_idx,
          CAST(chunk_idx * hop AS BIGINT) AS start_sample,
          CAST(least(chunk_idx * hop + win, n_samples) AS BIGINT) AS end_sample
        FROM ch""")),

    // ViT patch-grid plan: 16-px tiling geometry per image — grid dims,
    // sequence length, right/bottom padding. All-integer ceil division
    // ((w + 15) // 16), narrow codegen'd projection over the decode seam,
    // zero shuffles. See Multimodal.patchGrid.
    GraftQuery(
      "m06_patch_grid",
      (s, d) =>
        Multimodal.patchGrid(
          Multimodal.decodeFeatures(Multimodal.syntheticMedia(Tables.documents(s, d))),
          patch = 16),
      Some(s"""WITH $sqlDecodedCte
        SELECT media_id, width, height,
          CAST((width + 15) // 16 AS BIGINT) AS n_x,
          CAST((height + 15) // 16 AS BIGINT) AS n_y,
          CAST(((width + 15) // 16) * ((height + 15) // 16) AS BIGINT)
            AS n_patches,
          CAST(((width + 15) // 16) * 16 - width AS BIGINT) AS pad_w,
          CAST(((height + 15) // 16) * 16 - height AS BIGINT) AS pad_h
        FROM dec WHERE kind = 'image'""")),

    // multimodal sequence packing: text tokens + per-modality media
    // tokens (image patches / sampled-frames × patches / audio chunks),
    // packed per source into 2048-token budgets — the multimodal analog
    // of d28's text-only pack. See Multimodal.multimodalPack for the
    // cost model and the one-exchange scale shape. The input projection
    // mirrors Multimodal.syntheticMedia plus the text token count the
    // packer charges (a real pipeline reads both off the media table).
    GraftQuery(
      "m07_multimodal_pack",
      (s, d) =>
        Multimodal.multimodalPack(
          Tables.documents(s, d).filter(col("text").isNotNull)
            .select(col("doc_id").as("media_id"),
              element_at(typedlit(Seq("image", "audio", "video")),
                (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
              to_binary(md5(col("text")), lit("hex")).as("payload"),
              col("source"),
              graft.functions.TextFunctions.tokenCount(col("text"))
                .cast("bigint").as("n_text")),
          patch = 16, frameStride = 4, budget = 2048),
      Some(s"""WITH $sqlMediaCostCtes,
        cum AS (SELECT media_id, source, kind, n_text, n_media,
          n_text + n_media AS n_tokens,
          SUM(n_text + n_media) OVER (PARTITION BY source
            ORDER BY media_id) AS cum
        FROM t)
        SELECT media_id, source, kind, n_text, n_media, n_tokens,
          CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS pack_id
        FROM cum""")),

    // ---- frame ↔ caption alignment (as-of join in the media domain) ------
    // The video-text pair construction step: every sampled frame (m02's
    // stride-4 grid, 4 fps ⇒ ts = frame_idx·250 ms) is aligned to the
    // most recent transcript caption that started at or before it — a
    // per-media as-of join, exactly the q19 attribution shape applied to
    // multimodal pairing. Captions are 8-token transcript chunks whose
    // start times come from the same deterministic md5-byte seam as every
    // media fixture: chunk k starts at k·900 + byte(md5(text), k mod 16)·3
    // ms (jitter ≤ 765 < 900 keeps starts strictly increasing, so the
    // as-of right side is unique per (media, ts) as TemporalJoins
    // requires). Frames before the first caption align to NULL (left
    // as-of) — the honest cold-open case.
    //
    // Scale shape: TemporalJoins.asOfJoin — union both sides, ONE shuffle
    // on media_id, one in-partition window carrying the latest caption
    // forward; never an inequality join (DuckDB's ASOF JOIN is the
    // oracle's native mirror of the same semantics).
    GraftQuery(
      "m08_caption_align",
      (s, d) => frameCaptionAligned(s, d),
      Some(s"""WITH $sqlFrameCaptionCtes
        SELECT media_id, kind, frame_idx, ts_ms, cap_idx, cap_start_ms
        FROM al""")),

    // ---- caption reuse: same visual, different text ----------------------
    // The image-text-pair curation check m04 can't make alone: a phash
    // group (visually-identical media) paired with MORE THAN ONE distinct
    // caption fingerprint is boilerplate imagery recycled under new text
    // (stock photos, logos, thumbnails) — pairs a CLIP-style trainer
    // downweights or dedups, while a group with one caption is an honest
    // exact dup (m04's case). Composite of the two fingerprint families:
    // m04's integer aHash for the visual key, d04's md5 text fingerprint
    // for the caption key.
    //
    // Scale shape: phash and caption fingerprint ride ONE narrow scan
    // (Multimodal.perceptualHash keeps rider columns — no self-join to
    // re-attach text), then two map-side-combinable groupBys: the
    // distinct-caption count goes through groupBy(kind, phash, fp) FIRST,
    // so the (kind, phash) hot keys (≤ 768 distinct values — m04's
    // documented skew) never feed a count(DISTINCT) expand or a window;
    // the second agg sees at most |captions| rows per hot key.
    GraftQuery(
      "m09_caption_reuse",
      (s, d) => {
        val media = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id").as("media_id"),
            element_at(typedlit(Seq("image", "audio", "video")),
              (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
            to_binary(md5(col("text")), lit("hex")).as("payload"),
            graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
        val perCaption = Multimodal.perceptualHash(media)
          .groupBy(col("kind"), col("phash"), col("fp"))
          .agg(count(lit(1)).as("c"))
        perCaption.groupBy(col("kind"), col("phash"))
          .agg(sum(col("c")).as("n_media"),
            count(lit(1)).as("n_captions"))
          .filter(col("n_media") >= 2)
          .select(col("kind"), col("phash"), col("n_media"),
            col("n_captions"), (col("n_captions") >= 2).as("multi_caption"))
      },
      Some(s"""WITH med AS (SELECT doc_id AS media_id,
            CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
            md5(text) AS hx, ${TextQueries.sqlFingerprint} AS fp
            FROM documents WHERE text IS NOT NULL),
          ${sqlAhashCtes("fp, ")},
          pc AS (SELECT kind, phash, fp, COUNT(*) AS c
            FROM ph GROUP BY 1, 2, 3),
          g AS (SELECT kind, phash, CAST(SUM(c) AS BIGINT) AS n_media,
            CAST(COUNT(*) AS BIGINT) AS n_captions FROM pc GROUP BY 1, 2)
          SELECT kind, phash, n_media, n_captions,
            n_captions >= 2 AS multi_caption
          FROM g WHERE n_media >= 2""")),

    // ---- shared frames across videos (intro/outro boilerplate) -----------
    // The video-corpus analog of d22's chunk dedup: a FRAME key that
    // appears in ≥2 distinct videos is recycled footage — intros, outros,
    // station logos, stock b-roll — the segments a video trainer dedups
    // or masks rather than learning five thousand times. Per shared key:
    // how many videos carry it and how many frame instances exist. The
    // key is the first 16 bits of the per-frame stub digest
    // (md5(text || ':' || frame_idx) — the same deterministic codec seam
    // every m-query uses; a real pipeline plugs a perceptual frame hash
    // into exactly this slot).
    //
    // Scale shape: videos explode into ≤16 frames each (the decode
    // stub's n_frames bound; real sampling is m02's stride); then the
    // m09 rule — (frame_key, media_id) partial-agg collapse FIRST, so a
    // boilerplate key shared by millions of videos never feeds a
    // count(DISTINCT) expand or a window; the key rollup sees one row
    // per (key, video). Output is bounded by the 2^16 key domain.
    GraftQuery(
      "m10_shared_frames",
      (s, d) => {
        val v = Tables.documents(s, d)
          .filter(col("text").isNotNull && pmod(col("doc_id"), lit(3)) === 2)
          .select(col("doc_id").as("media_id"), col("text"),
            (lit(1) + pmod(expr("cast(conv(substr(md5(text), 17, 2), 16, 10) as int)"),
              lit(16))).as("n_frames"))
          .withColumn("fi", explode(sequence(lit(0), col("n_frames") - 1)))
          .select(col("media_id"),
            substring(md5(concat(col("text"), lit(":"),
              col("fi").cast("string"))), 1, 4).as("frame_key"))
        v.groupBy(col("frame_key"), col("media_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("frame_key"))
          .agg(count(lit(1)).as("n_videos"), sum(col("c")).as("n_frames"))
          .filter(col("n_videos") >= 2)
      },
      Some(s"""WITH v AS (SELECT doc_id AS media_id, text,
            CAST(1 + (${hexByte("md5(text)", 8)} % 16) AS INT) AS n_frames
          FROM documents
          WHERE text IS NOT NULL AND CAST(doc_id % 3 AS INT) = 2),
        fr AS (SELECT media_id, text,
            unnest(range(0, n_frames)) AS fi FROM v),
        k AS (SELECT media_id,
            substr(md5(text || ':' || fi), 1, 4) AS frame_key FROM fr),
        pm AS (SELECT frame_key, media_id, COUNT(*) AS c FROM k
          GROUP BY 1, 2),
        g AS (SELECT frame_key, CAST(COUNT(*) AS BIGINT) AS n_videos,
            CAST(SUM(c) AS BIGINT) AS n_frames FROM pm GROUP BY 1)
        SELECT frame_key, n_videos, n_frames FROM g
        WHERE n_videos >= 2""")),

    // ---- shot-boundary detection over the frame grid ---------------------
    // The video-curation op after frame sampling (m02) and cross-video
    // dedup (m10): segment each video into SHOTS by comparing adjacent
    // frame digests — a real pipeline diffs perceptual frame features;
    // the stub seam makes runs of frames share a scene digest
    // (scene = md5(text # fi div shot_len), shot_len ∈ [1,4] from
    // payload byte 4 — the same deterministic md5-byte convention as
    // every m-query, so both engines derive identical runs). Per video:
    // frame count, shot count (boundary = digest differs from lag, first
    // frame always opens a shot), and mean shot length — the stats a
    // sampling policy reads (sample per SHOT, not per stride, to avoid
    // over-representing long static scenes).
    //
    // Scale shape: one narrow scan → bounded explode (≤16 frames/video)
    // → ONE media_id exchange serving both the lag window (per-video
    // frames, bounded partitions) and the per-video fold. Nothing is
    // corpus-wide; the plan is m02's with a lag window instead of a
    // rollup.
    GraftQuery(
      "m11_shot_boundaries",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val v = Tables.documents(s, d)
          .filter(col("text").isNotNull && pmod(col("doc_id"), lit(3)) === 2)
          .select(col("doc_id").as("media_id"), col("text"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 17, 2), 16, 10) as int)"),
              lit(16))).as("n_frames"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 9, 2), 16, 10) as int)"),
              lit(4))).as("shot_len"))
          .withColumn("fi", explode(sequence(lit(0), col("n_frames") - 1)))
          // full md5 (unlike m10's deliberately-bounded 16-bit key
          // domain): adjacent-shot digest collisions would silently
          // merge distinct shots, so the compare key keeps all 128 bits
          .withColumn("scene", md5(concat(col("text"), lit("#"),
            expr("cast(fi div shot_len as int)").cast("string"))))
        val wOrd = Window.partitionBy(col("media_id")).orderBy(col("fi"))
        v.withColumn("prev", lag(col("scene"), 1).over(wOrd))
          .withColumn("boundary",
            (col("prev").isNull || col("prev") =!= col("scene"))
              .cast("long"))
          .groupBy(col("media_id"))
          .agg(count(lit(1)).cast("bigint").as("n_frames"),
            sum(col("boundary")).cast("bigint").as("n_shots"))
          .withColumn("avg_shot_len",
            round(col("n_frames").cast("double")
              / col("n_shots").cast("double"), 6))
      },
      Some(s"""WITH v AS (SELECT doc_id AS media_id, text,
            CAST(1 + (${hexByte("md5(text)", 8)} % 16) AS INT) AS n_frames,
            CAST(1 + (${hexByte("md5(text)", 4)} % 4) AS INT) AS shot_len
          FROM documents
          WHERE text IS NOT NULL AND CAST(doc_id % 3 AS INT) = 2),
        fr AS (SELECT media_id, text, shot_len,
            unnest(range(0, n_frames)) AS fi FROM v),
        k AS (SELECT media_id, fi,
            md5(text || '#' || CAST(fi // shot_len AS INT)) AS scene
          FROM fr),
        b AS (SELECT media_id, scene,
            lag(scene) OVER (PARTITION BY media_id ORDER BY fi) AS prev
          FROM k),
        a AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
            CAST(SUM(CASE WHEN prev IS NULL OR prev <> scene
              THEN 1 ELSE 0 END) AS BIGINT) AS n_shots
          FROM b GROUP BY 1)
        SELECT media_id, n_frames, n_shots,
          round(CAST(n_frames AS DOUBLE) / CAST(n_shots AS DOUBLE), 6)
            AS avg_shot_len
        FROM a""")),

    // ---- speech-ratio / VAD gate over the audio chunk grid ---------------
    // The audio-curation gate (m11's run logic in the audio domain): a
    // real pipeline runs voice-activity detection per chunk and drops
    // low-speech audio (music beds, silence, static) before transcription
    // — paying the expensive ASR step only on speech. Per-chunk "energy"
    // is the stub seam (byte 0 of md5(media_id ~ chunk_idx), scaled to
    // [0,1) — deterministic in both engines); voiced = energy ≥ 0.4. Per
    // audio: chunk/voiced counts, the speech ratio a keep-threshold
    // reads, and the number of contiguous voiced SEGMENTS (the clip
    // extractor's input — lag-window run starts, exactly m11's boundary
    // rule).
    //
    // Scale shape: m05's chunk explode (bounded per audio by duration /
    // hop) → ONE media_id exchange serving the lag window and the
    // per-audio fold. Nothing is corpus-wide.
    GraftQuery(
      "m12_speech_ratio",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ch = Multimodal.audioChunks(
          Multimodal.syntheticMedia(Tables.documents(s, d)))
        val en = ch.withColumn("energy",
          expr("""cast(conv(substr(md5(concat(cast(media_id as string),
            '~', cast(chunk_idx as string))), 1, 2), 16, 10) as int)""")
            .cast("double") / lit(256.0))
          .withColumn("voiced", (col("energy") >= 0.4).cast("long"))
        val w = Window.partitionBy(col("media_id")).orderBy(col("chunk_idx"))
        en.withColumn("prev", lag(col("voiced"), 1).over(w))
          .withColumn("seg_start",
            (col("voiced") === 1L &&
              (col("prev").isNull || col("prev") === 0L)).cast("long"))
          .groupBy(col("media_id"))
          .agg(count(lit(1)).cast("bigint").as("n_chunks"),
            sum(col("voiced")).cast("bigint").as("n_voiced"),
            sum(col("seg_start")).cast("bigint").as("n_segments"))
          .withColumn("speech_ratio",
            round(col("n_voiced").cast("double")
              / col("n_chunks").cast("double"), 6))
      },
      Some(s"""WITH $sqlAudioBaseCtes,
        ch AS (SELECT media_id,
            unnest(generate_series(0,
              CASE WHEN n_samples <= win THEN 0
                ELSE (n_samples - win) // hop END)) AS chunk_idx
          FROM base),
        en AS (SELECT media_id, chunk_idx,
            CAST(${hexByte(
              "md5(CAST(media_id AS VARCHAR) || '~' || CAST(chunk_idx AS VARCHAR))",
              0)} AS DOUBLE) / 256.0 AS energy
          FROM ch),
        v AS (SELECT media_id, chunk_idx,
            CASE WHEN energy >= 0.4 THEN 1 ELSE 0 END AS voiced FROM en),
        l AS (SELECT *, lag(voiced)
            OVER (PARTITION BY media_id ORDER BY chunk_idx) AS prev FROM v),
        a AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(voiced) AS BIGINT) AS n_voiced,
            CAST(SUM(CASE WHEN voiced = 1 AND (prev IS NULL OR prev = 0)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_segments
          FROM l GROUP BY 1)
        SELECT media_id, n_chunks, n_voiced,
          round(CAST(n_voiced AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6)
            AS speech_ratio,
          n_segments
        FROM a""")),

    // ---- pHash Hamming-neighborhood canonicalization -----------------------
    // m04 groups media whose perceptual hashes are byte-identical; real
    // near-dup images land one or two BITS apart. The scale-correct
    // Hamming join is NOT a pairwise media join: the aHash domain is
    // bounded (≤256 values per kind), so collapse to the (kind, phash)
    // GROUP table first (≤768 rows with counts, map-side combinable) and
    // run the Hamming-≤1 self-join on the DOMAIN — 768² tiny-row
    // comparisons regardless of corpus size, the d56-style
    // domain-vs-data separation. Each hash canonicalizes to the SMALLEST
    // hash in its 1-bit neighborhood; n_merged sums media over the
    // canonical group (window on the ≤768-row domain).
    //
    // ONE-STEP canonicalization, deliberately not transitive: {00, 01,
    // 11} maps 11→01 while 01→00, so chained neighborhoods do NOT close
    // into equivalence classes (the same one-hop contract as d53's
    // bucket representatives). When closure over multi-bit chains is
    // required, feed the (phash, canon_phash) edges — a ≤768-row edge
    // list — to ConnectedComponents (the d27 form); at this domain size
    // that is a driver-trivial loop.
    //
    // Exactness: phash/xor/bit_count are pure integer ops in both
    // engines; counts int64; no floats anywhere.
    GraftQuery(
      "m13_phash_hamming_merge",
      (s, d) => {
        val groups = Multimodal.perceptualHash(
            Multimodal.syntheticMedia(Tables.documents(s, d)))
          .groupBy(col("kind"), col("phash"))
          .agg(count(lit(1)).as("n_media"))
        val nbrs = groups.select(col("kind"), col("phash").as("pb"))
        val canon = groups.join(nbrs, Seq("kind"))
          .filter(bit_count(col("phash").bitwiseXOR(col("pb"))) <= 1)
          .groupBy(col("kind"), col("phash"))
          .agg(max(col("n_media")).as("n_media"),
            min(col("pb")).as("canon_phash"))
        canon
          .withColumn("n_merged", sum(col("n_media")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("kind"), col("canon_phash"))))
          .select(col("kind"), col("phash"), col("n_media"),
            col("canon_phash"), col("n_merged"),
            (col("canon_phash") =!= col("phash")).cast("int").as("merged"))
      },
      Some(s"""WITH med AS (SELECT doc_id AS media_id,
            CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
            md5(text) AS hx FROM documents WHERE text IS NOT NULL),
          ${sqlAhashCtes()},
          g AS (SELECT kind, phash, CAST(COUNT(*) AS BIGINT) AS n_media
            FROM ph GROUP BY 1, 2),
          nb AS (SELECT a.kind, a.phash, a.n_media,
              MIN(b.phash) AS canon_phash
            FROM g a JOIN g b ON a.kind = b.kind
              AND bit_count(xor(a.phash, b.phash)) <= 1
            GROUP BY 1, 2, 3)
          SELECT kind, phash, n_media, canon_phash,
            CAST(SUM(n_media) OVER (PARTITION BY kind, canon_phash)
              AS BIGINT) AS n_merged,
            CAST(CASE WHEN canon_phash <> phash THEN 1 ELSE 0 END AS INT)
              AS merged
          FROM nb""")),

    // ---- modality token-budget report --------------------------------------
    // The "what will this mix cost to train on" readout a multimodal run
    // plans with: per modality, the sample count, total estimated
    // training tokens under m07's cost model (ONE shared definition —
    // Multimodal.mediaTokenCost / sqlMediaCostCtes — so the pack and the
    // report can never disagree), the mean cost per sample, and each
    // modality's share of the total budget. Media tokens routinely dwarf
    // text tokens per sample; this is the readout that says by how much
    // BEFORE the GPUs do.
    //
    // Scale shape: one narrow scan folds map-side onto the 3-kind
    // domain; share windows run on 3 rows.
    //
    // Exactness: the cost model is all-integer; shares/means divide
    // exact int64s as double, 6-dp rounded.
    GraftQuery(
      "m14_modality_token_budget",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        Multimodal.syntheticMedia(Tables.documents(s, d))
          .select(col("kind"),
            Multimodal.mediaTokenCost(patch = 16, frameStride = 4)
              .as("n_media"))
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_samples"),
            sum(col("n_media")).as("total_tokens"))
          .withColumn("mean_tokens",
            round(col("total_tokens").cast("double")
              / col("n_samples").cast("double"), 6))
          .withColumn("token_share",
            round(col("total_tokens").cast("double")
              / sum(col("total_tokens")).over(w).cast("double"), 6))
      },
      Some(s"""WITH $sqlMediaCostCtes,
        g AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_samples,
            CAST(SUM(n_media) AS BIGINT) AS total_tokens
          FROM t GROUP BY 1)
        SELECT kind, n_samples, total_tokens,
          round(CAST(total_tokens AS DOUBLE) / CAST(n_samples AS DOUBLE), 6)
            AS mean_tokens,
          round(CAST(total_tokens AS DOUBLE) / CAST(CAST(SUM(total_tokens)
            OVER () AS BIGINT) AS DOUBLE), 6) AS token_share
        FROM g""")),

    // ---- caption coverage per media ----------------------------------------
    // The curation rollup of m08's per-frame alignment: per media, how
    // much of the sampled frame grid actually has a transcript caption
    // under it — the yield number a video-text pair pipeline reads
    // before training (uncaptioned frames are the as-of's cold-open
    // NULLs; a low-coverage video wastes its decode budget). ONE shared
    // alignment definition (frameCaptionAligned / sqlFrameCaptionCtes)
    // keeps m08 and this rollup in lockstep.
    //
    // Scale shape: m08's one media_id exchange, then a map-side fold
    // back onto the media domain — no second alignment pass, no window.
    //
    // Exactness: counts exact int64; coverage divides exact int64s,
    // 6-dp rounded; first_caption_ms is an exact integer min (NULL when
    // nothing aligned, both engines).
    GraftQuery(
      "m15_caption_coverage",
      (s, d) =>
        frameCaptionAligned(s, d)
          .groupBy(col("media_id"), col("kind"))
          .agg(count(lit(1)).as("n_frames"),
            sum(when(col("cap_idx").isNotNull, 1L).otherwise(0L))
              .as("n_captioned"),
            min(col("cap_start_ms")).as("first_caption_ms"))
          .select(col("media_id"), col("kind"), col("n_frames"),
            col("n_captioned"),
            round(col("n_captioned").cast("double")
              / col("n_frames").cast("double"), 6).as("coverage"),
            col("first_caption_ms")),
      Some(s"""WITH $sqlFrameCaptionCtes
        SELECT media_id, kind, CAST(COUNT(*) AS BIGINT) AS n_frames,
          CAST(SUM(CASE WHEN cap_idx IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_captioned,
          round(CAST(SUM(CASE WHEN cap_idx IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
          CAST(MIN(cap_start_ms) AS BIGINT) AS first_caption_ms
        FROM al GROUP BY 1, 2""")),

    // ---- resolution / aspect-ratio audit over the decode seam --------------
    // The pre-train image/video filter every multimodal pipeline runs
    // before paying for pixels: per (kind, aspect class), media count,
    // share within kind, mean pixel count, and the dimension envelope —
    // the table a "drop tiny/extreme-aspect media" gate is calibrated
    // from (m03's resize plan decides HOW to shrink; this decides WHAT
    // is worth keeping).
    //
    // Scale shape: one narrow pass over the decode seam folds map-side
    // onto the ≤ 9-row (kind × aspect) domain; the share window runs on
    // that domain.
    //
    // Exactness: dims are exact ints from the stub; pixel sums exact
    // int64; mean divides exact int64s, 6-dp rounded (≤ 1e4 magnitude,
    // non-terminating — no tie exposure).
    GraftQuery(
      "m16_resolution_audit",
      (s, d) => {
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("kind"))
        Multimodal.decodeFeatures(
            Multimodal.syntheticMedia(Tables.documents(s, d)))
          .select(col("media_id"), col("kind"), col("width"), col("height"))
          .withColumn("aspect",
            when(col("width") < col("height"), lit("portrait"))
              .when(col("width") > col("height"), lit("landscape"))
              .otherwise(lit("square")))
          .groupBy(col("kind"), col("aspect"))
          .agg(count(lit(1)).as("n_media"),
            sum((col("width") * col("height")).cast("bigint"))
              .as("px_sum"),
            min(col("width")).cast("bigint").as("min_width"),
            max(col("width")).cast("bigint").as("max_width"))
          .withColumn("kind_share", round(col("n_media").cast("double")
            / sum(col("n_media")).over(wk).cast("double"), 6))
          .select(col("kind"), col("aspect"), col("n_media"),
            col("kind_share"),
            round(col("px_sum").cast("double")
              / col("n_media").cast("double"), 6).as("mean_pixels"),
            col("min_width"), col("max_width"))
      },
      Some(s"""WITH $sqlDecodedCte,
        a AS (SELECT kind,
            CASE WHEN width < height THEN 'portrait'
              WHEN width > height THEN 'landscape'
              ELSE 'square' END AS aspect,
            width, height
          FROM dec),
        g AS (SELECT kind, aspect, CAST(COUNT(*) AS BIGINT) AS n_media,
            CAST(SUM(CAST(width AS BIGINT) * CAST(height AS BIGINT))
              AS BIGINT) AS px_sum,
            CAST(MIN(width) AS BIGINT) AS min_width,
            CAST(MAX(width) AS BIGINT) AS max_width
          FROM a GROUP BY 1, 2)
        SELECT kind, aspect, n_media,
          round(CAST(n_media AS DOUBLE) / CAST(CAST(SUM(n_media)
            OVER (PARTITION BY kind) AS BIGINT) AS DOUBLE), 6)
            AS kind_share,
          round(CAST(px_sum AS DOUBLE) / CAST(n_media AS DOUBLE), 6)
            AS mean_pixels,
          min_width, max_width
        FROM g""")),

    // ---- loudness-normalization gain per audio clip -------------------------
    // The audio-conditioning step between m12's VAD gate and any ASR/
    // training consumer: per clip, the mean chunk energy and the linear
    // gain that would bring it to the 0.5 target, capped at 4× (the
    // limiter — a near-silent clip amplified without a cap just
    // amplifies noise), plus the limited flag a curation report counts.
    // Energy rides m12's stub seam (byte 0 of md5(media_id ~ chunk_idx)
    // scaled to [0,1)) so the whole chain is oracle-checkable.
    //
    // Scale shape: m05's bounded chunk explode, ONE media_id fold —
    // no window at all.
    //
    // Exactness: per-chunk energies are exact 1/256 multiples summed as
    // exact DECIMAL(18,8); mean/gain are identical double ops on those
    // exact sums, emitted UNROUNDED (identical inputs → identical
    // doubles; rounding is the only op that could disagree, so it is
    // simply not applied); the cap compares and the flag derives from
    // the same doubles in both engines.
    GraftQuery(
      "m17_loudness_gain",
      (s, d) => {
        val ch = Multimodal.audioChunks(
          Multimodal.syntheticMedia(Tables.documents(s, d)))
        ch.withColumn("energy",
            expr("""cast(conv(substr(md5(concat(cast(media_id as string),
              '~', cast(chunk_idx as string))), 1, 2), 16, 10) as int)""")
              .cast("double") / lit(256.0))
          .groupBy(col("media_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("energy").cast("decimal(18,8)")).as("esum"))
          .withColumn("mean_energy",
            col("esum").cast("double") / col("n_chunks").cast("double"))
          // Zero mean energy happens (a 1-chunk clip whose md5 byte is
          // 0x00 — present at sf0.1): every division sits behind the
          // zero guard, or ANSI mode kills the task (DIVIDE_BY_ZERO
          // fires even on doubles in Spark 4).
          .select(col("media_id"), col("n_chunks"), col("mean_energy"),
            when(col("mean_energy") === 0.0, lit(null).cast("double"))
              .otherwise(least(lit(4.0), lit(0.5) / col("mean_energy")))
              .as("gain"),
            when(col("mean_energy") === 0.0, lit(0))
              .otherwise((lit(0.5) / col("mean_energy") > 4.0).cast("int"))
              .as("limited"))
      },
      Some(s"""WITH $sqlAudioBaseCtes,
        ch AS (SELECT media_id,
            unnest(generate_series(0,
              CASE WHEN n_samples <= win THEN 0
                ELSE (n_samples - win) // hop END)) AS chunk_idx
          FROM base),
        en AS (SELECT media_id,
            CAST(${hexByte(
              "md5(CAST(media_id AS VARCHAR) || '~' || CAST(chunk_idx AS VARCHAR))",
              0)} AS DOUBLE) / 256.0 AS energy
          FROM ch),
        g AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CAST(energy AS DECIMAL(18,8))) AS DECIMAL(38,8))
              AS esum
          FROM en GROUP BY 1),
        m AS (SELECT *, CAST(esum AS DOUBLE) / CAST(n_chunks AS DOUBLE)
            AS mean_energy
          FROM g)
        SELECT media_id, n_chunks, mean_energy,
          CASE WHEN mean_energy = 0.0 THEN NULL
            ELSE least(4.0, 0.5 / mean_energy) END AS gain,
          CAST(CASE WHEN mean_energy = 0.0 THEN 0
            WHEN 0.5 / mean_energy > 4.0 THEN 1 ELSE 0 END AS INT)
            AS limited
        FROM m""")),

    // ---- per-shot keyframe selection --------------------------------------
    // The sampling policy m11's boundary detection exists to enable:
    // one representative frame per SHOT (the first — the cut frame)
    // instead of m02's blind every-4th stride — static scenes stop
    // paying per-frame decode cost, fast cuts stop being skipped. Per
    // (video, shot): the shot index, its keyframe, and its frame count
    // — the decode worklist a frame-caption trainer actually fetches.
    //
    // Scale shape: m11's bounded frame explode and ONE media_id
    // exchange serving the lag window, the running-sum shot index, and
    // the per-shot fold.
    //
    // Exactness: pure integer/string ops — frame indices, md5 scene
    // digests, exact counts; no floats anywhere.
    GraftQuery(
      "m18_keyframe_select",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val v = Tables.documents(s, d)
          .filter(col("text").isNotNull && pmod(col("doc_id"), lit(3)) === 2)
          .select(col("doc_id").as("media_id"), col("text"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 17, 2), 16, 10) as int)"),
              lit(16))).as("n_frames"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 9, 2), 16, 10) as int)"),
              lit(4))).as("shot_len"))
          .withColumn("fi", explode(sequence(lit(0), col("n_frames") - 1)))
          .withColumn("scene", md5(concat(col("text"), lit("#"),
            expr("cast(fi div shot_len as int)").cast("string"))))
        val wOrd = Window.partitionBy(col("media_id")).orderBy(col("fi"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        v.withColumn("prev", lag(col("scene"), 1).over(wOrd))
          .withColumn("boundary",
            (col("prev").isNull || col("prev") =!= col("scene"))
              .cast("long"))
          .withColumn("shot_idx", sum(col("boundary")).over(wRun))
          .groupBy(col("media_id"), col("shot_idx"))
          .agg(min(col("fi")).cast("bigint").as("keyframe_fi"),
            count(lit(1)).as("shot_frames"))
      },
      Some(s"""WITH v AS (SELECT doc_id AS media_id, text,
            CAST(1 + (${hexByte("md5(text)", 8)} % 16) AS INT) AS n_frames,
            CAST(1 + (${hexByte("md5(text)", 4)} % 4) AS INT) AS shot_len
          FROM documents
          WHERE text IS NOT NULL AND CAST(doc_id % 3 AS INT) = 2),
        fr AS (SELECT media_id, text, shot_len,
            unnest(range(0, n_frames)) AS fi FROM v),
        k AS (SELECT media_id, fi,
            md5(text || '#' || CAST(fi // shot_len AS INT)) AS scene
          FROM fr),
        b AS (SELECT media_id, fi, scene,
            lag(scene) OVER (PARTITION BY media_id ORDER BY fi) AS prev
          FROM k),
        si AS (SELECT media_id, fi,
            CAST(SUM(CASE WHEN prev IS NULL OR prev <> scene
              THEN 1 ELSE 0 END) OVER (PARTITION BY media_id ORDER BY fi
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS shot_idx
          FROM b)
        SELECT media_id, shot_idx, CAST(MIN(fi) AS BIGINT) AS keyframe_fi,
          CAST(COUNT(*) AS BIGINT) AS shot_frames
        FROM si GROUP BY 1, 2""")),

    // ---- shot-sampling savings report (m18's decision scalar) --------------
    // The number that justifies switching from m02's blind stride to
    // m18's per-shot keyframes: per video, keyframe count vs the
    // stride-4 sample count, their ratio, and the cheaper-policy flag —
    // then the corpus-total decode budget under each policy. Fast-cut
    // videos have MORE shots than stride samples (ratio > 1 — stride
    // was undersampling them, the quality half of the argument).
    //
    // Scale shape: m18's bounded frame explode and one media_id
    // exchange; the rollup scalar windows run on the media domain.
    //
    // Exactness: pure integer counts and ceil-division; one ≤~4
    // magnitude quotient round.
    GraftQuery(
      "m19_sampling_savings",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val v = Tables.documents(s, d)
          .filter(col("text").isNotNull && pmod(col("doc_id"), lit(3)) === 2)
          .select(col("doc_id").as("media_id"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 17, 2), 16, 10) as int)"),
              lit(16))).cast("bigint").as("n_frames"),
            (lit(1) + pmod(expr(
              "cast(conv(substr(md5(text), 9, 2), 16, 10) as int)"),
              lit(4))).cast("bigint").as("shot_len"))
        val w = Window.partitionBy(lit(1))
        // n_shots = ceil(n_frames / shot_len): the scene digest changes
        // exactly at every shot_len boundary (m11's n_shots identity,
        // spec-pinned there), so no frame explode is needed here at all.
        v.withColumn("n_shots",
            expr("div(n_frames + shot_len - 1, shot_len)"))
          .withColumn("stride4",
            expr("div(n_frames + 3, 4)"))
          .withColumn("tot_shots", sum(col("n_shots")).over(w))
          .withColumn("tot_stride", sum(col("stride4")).over(w))
          .select(col("media_id"), col("n_frames"), col("n_shots"),
            col("stride4").as("stride4_samples"),
            round(col("n_shots").cast("double")
              / col("stride4").cast("double"), 6).as("keyframe_ratio"),
            (col("n_shots") < col("stride4")).cast("int")
              .as("shot_sampling_cheaper"),
            round(col("tot_shots").cast("double")
              / col("tot_stride").cast("double"), 6)
              .as("corpus_decode_ratio"))
      },
      Some(s"""WITH v AS (SELECT doc_id AS media_id,
            CAST(1 + (${hexByte("md5(text)", 8)} % 16) AS BIGINT)
              AS n_frames,
            CAST(1 + (${hexByte("md5(text)", 4)} % 4) AS BIGINT)
              AS shot_len
          FROM documents
          WHERE text IS NOT NULL AND CAST(doc_id % 3 AS INT) = 2),
        c AS (SELECT media_id, n_frames,
            (n_frames + shot_len - 1) // shot_len AS n_shots,
            (n_frames + 3) // 4 AS stride4
          FROM v),
        t AS (SELECT *, CAST(SUM(n_shots) OVER () AS BIGINT) AS tot_shots,
            CAST(SUM(stride4) OVER () AS BIGINT) AS tot_stride
          FROM c)
        SELECT media_id, n_frames, CAST(n_shots AS BIGINT) AS n_shots,
          CAST(stride4 AS BIGINT) AS stride4_samples,
          round(CAST(n_shots AS DOUBLE) / CAST(stride4 AS DOUBLE), 6)
            AS keyframe_ratio,
          CAST(CASE WHEN n_shots < stride4 THEN 1 ELSE 0 END AS INT)
            AS shot_sampling_cheaper,
          round(CAST(tot_shots AS DOUBLE) / CAST(tot_stride AS DOUBLE), 6)
            AS corpus_decode_ratio
        FROM t""")),

    // ---- aspect-ratio bucket plan (batch-shape planning) -------------------
    // The NaViT/SDXL-style batching trick: a vision encoder batches
    // same-shape tensors, so images are grouped into a small set of
    // fixed-aspect target shapes and resize-to-cover + center-crop into
    // their bucket — the alternative to square-padding everything (m03's
    // max-edge plan feeds a variable-shape pipeline; this is the
    // fixed-shape-fleet counterpart). Per image: nearest bucket by
    // |aspect − bucket aspect| (ties to the lower bucket id); per bucket:
    // population, share, and the mean/max center-crop pixel loss — the
    // table that says whether the bucket set fits the corpus or crops
    // half of it away.
    //
    // Scale shape: geometry rides the m01 decode seam (mapPartitions, no
    // exchange); the per-image argmin is a SCALAR — array_min over the
    // 5-struct (dist, b_idx, bw, bh) literal array, whose lexicographic
    // struct order IS the (distance asc, id asc) tie-break — so election
    // costs zero exchanges (an explode + media_id window would shuffle
    // every image row for a 5-way comparison); the readout folds onto
    // the ≤5-row bucket grid. At 100 TB nothing after the seam exceeds
    // 5 rows, and no per-image row ever shuffles. The oracle states the
    // same election as a window — DuckDB may plan it however it likes.
    //
    // Exactness: aspects and scale factors are double quotients written
    // in ONE op order in both engines (never a pre-divided decimal
    // literal — the 1.96² lesson); crop waste is clamped at 0 BEFORE the
    // 6-dp round (s·w can undershoot bw by 1 ulp, and a −1e-16 round
    // would split the engines on signed zero); means use the rounded-
    // term decimal-sum discipline.
    GraftQuery(
      "m20_aspect_bucket_plan",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dw = col("width").cast("double")
        val dh = col("height").cast("double")
        // The election IS the thirteenth bounded-state sketch's scalar
        // (Sketches.aspectBucket over Sketches.AspectBuckets — the
        // streaming maintenance folds the same projection into ≤5-row
        // state); the crop-loss stats below are the batch-only readout.
        val bwD = col("bw").cast("double")
        val bhD = col("bh").cast("double")
        val elected = Multimodal.decodeFeatures(
            Multimodal.syntheticMedia(Tables.documents(s, d)))
          .filter(col("kind") === "image")
          .select(col("media_id"), col("width"), col("height"),
            graft.operators.Sketches
              .aspectBucket(col("width"), col("height")).as("e"))
          .select(col("media_id"), col("width"), col("height"),
            col("e.b_idx").as("b_idx"), col("e.bw").as("bw"),
            col("e.bh").as("bh"))
          .withColumn("s", greatest(bwD / dw, bhD / dh))
          .withColumn("waste", round(greatest(lit(0.0),
            lit(1.0) - (bwD * bhD)
              / ((col("s") * dw) * (col("s") * dh))), 6))
        elected
          .groupBy(col("b_idx"), col("bw").as("bucket_w"),
            col("bh").as("bucket_h"))
          .agg(count(lit(1)).as("n_images"),
            sum(col("waste").cast("decimal(18,6)")).as("sw"),
            max(col("waste")).as("max_crop_waste"))
          .withColumn("share", round(col("n_images").cast("double")
            / sum(col("n_images")).over(Window.partitionBy())
              .cast("double"), 6))
          .select(col("b_idx"), col("bucket_w"), col("bucket_h"),
            col("n_images"), col("share"),
            round(col("sw").cast("double")
              / col("n_images").cast("double"), 6).as("mean_crop_waste"),
            col("max_crop_waste"))
      },
      Some(s"""WITH $sqlDecodedCte,
        bk AS (SELECT * FROM (VALUES (0, 64, 64), (1, 80, 56),
          (2, 56, 80), (3, 96, 48), (4, 48, 96)) AS t(b_idx, bw, bh)),
        x AS (SELECT media_id, width, height, b_idx, bw, bh,
            abs(CAST(width AS DOUBLE) / CAST(height AS DOUBLE)
              - CAST(bw AS DOUBLE) / CAST(bh AS DOUBLE)) AS dist
          FROM dec, bk WHERE kind = 'image'),
        a AS (SELECT *, row_number() OVER (PARTITION BY media_id
            ORDER BY dist ASC, b_idx ASC) AS rn FROM x),
        w AS (SELECT b_idx, bw, bh, width, height,
            greatest(CAST(bw AS DOUBLE) / CAST(width AS DOUBLE),
              CAST(bh AS DOUBLE) / CAST(height AS DOUBLE)) AS s
          FROM a WHERE rn = 1),
        cw AS (SELECT b_idx, bw, bh,
            round(greatest(0.0, 1.0
              - (CAST(bw AS DOUBLE) * CAST(bh AS DOUBLE))
              / ((s * CAST(width AS DOUBLE))
                * (s * CAST(height AS DOUBLE)))), 6) AS waste
          FROM w),
        g AS (SELECT b_idx, bw, bh, CAST(COUNT(*) AS BIGINT) AS n_images,
            SUM(CAST(waste AS DECIMAL(18,6))) AS sw,
            MAX(waste) AS max_crop_waste
          FROM cw GROUP BY 1, 2, 3)
        SELECT CAST(b_idx AS BIGINT) AS b_idx,
          CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
          n_images,
          round(CAST(n_images AS DOUBLE)
            / CAST(SUM(n_images) OVER () AS DOUBLE), 6) AS share,
          round(CAST(sw AS DOUBLE) / CAST(n_images AS DOUBLE), 6)
            AS mean_crop_waste,
          max_crop_waste
        FROM g""")),
  )
}
