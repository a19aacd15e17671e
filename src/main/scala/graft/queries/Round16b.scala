package graft.queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal

/** Round-16 second batch — the multimodal near-dup suite completed:
  * video near-dup by per-frame dHash fingerprints over the REAL GIF
  * sequence-decode tier, audio near-dup by energy-sign fingerprints
  * over the REAL RIFF/WAVE decode tier, and duplicate-count sampling
  * weights (the keep-everything alternative to dropping exact dups). */
object Round16b extends GateBatch {

  private[graft] val VideoClusterSize = 5
  private[graft] val VideoMaxHamming = 8
  private[graft] val VideoMinMatch = 2

  private[graft] val AudioClusterSize = 5
  private[graft] val AudioMaxHamming = 4

  val defs: Map[String, Q] = Map(

    // video near-dup: every frame REAL-decoded and dHashed; families of
    // 5 one-frame-retouched re-encodes must pair (a retouch moves <= 4
    // bits in ONE frame, so every frame still matches within 8), while
    // cross-family frame stacks decorrelate. Candidates from the
    // (frame_idx, band, value) bucket join — never all-pairs.
    "dedup_video_frames" -> ((s, dir) =>
      Multimodal.videoNearDupPairs(
          Multimodal.videoFrameHashes(tbl(s, dir, "documents"), "doc_id",
            VideoClusterSize),
          maxHamming = VideoMaxHamming, minMatchFrames = VideoMinMatch)
        .orderBy("doc_id_a", "doc_id_b")),

    // audio near-dup: REAL WAV decode -> 31-bit energy-sign fingerprint
    // -> 2x16-bit Hamming-banded pair join. A one-sample click moves
    // <= 2 adjacent envelope bits.
    "dedup_audio_fp" -> ((s, dir) =>
      Multimodal.audioNearDupPairs(
          Multimodal.audioFingerprints(tbl(s, dir, "documents"), "doc_id",
            AudioClusterSize),
          maxHamming = AudioMaxHamming)
        .orderBy("doc_id_a", "doc_id_b")),

    // duplicate-count sampling weights: every doc kept, weighted 1/n
    // over its exact-dedup multiplicity — provenance-preserving dedup
    "dedup_weights" -> ((s, dir) =>
      Dedup.dupWeights(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("id")))

  val oracles: Map[String, String] = Map(

    // per-(doc, frame) dHash replay (squared-hash pixel with the frame
    // term + the one-frame one-pixel retouch), then the same
    // (frame_idx, band) bucket join, per-frame Hamming filter, and
    // distinct-frame count per pair
    "dedup_video_frames" ->
      s"""WITH d AS (SELECT doc_id, doc_id // $VideoClusterSize AS cl
           FROM documents),
         dm AS (SELECT doc_id, cl,
             CAST(16 + cl % 9 AS INT) AS w0,
             CAST(12 + cl % 7 AS INT) AS h0,
             CAST(2 + cl % 5 AS INT) AS nf FROM d),
         fx AS (SELECT doc_id, cl, w0, h0, nf,
             unnest(generate_series(0, nf - 1)) AS f FROM dm),
         bits AS (SELECT doc_id, cl, w0, h0, nf, f,
             unnest(generate_series(0, 63)) AS i FROM fx),
         g AS (SELECT doc_id, f, nf, i, w0, h0, cl,
             ((i % 8) * w0 // 9) AS sxl, (((i % 8) + 1) * w0 // 9) AS sxr,
             ((i // 8) * h0 // 8) AS sy
           FROM bits),
         t AS (SELECT doc_id, f, nf, i, w0, h0, sy, sxl, sxr,
             (cl * 1000003 + f * 8009 + sxl * 31 + sy) % 1000000007 AS tl,
             (cl * 1000003 + f * 8009 + sxr * 31 + sy) % 1000000007 AS tr
           FROM g),
         p AS (SELECT doc_id, f, nf, i,
             CASE WHEN f = (doc_id * 3) % nf AND sxl = doc_id % w0
                 AND sy = (doc_id * 7) % h0
               THEN ((tl * tl % 1000000007) % 256 + 128) % 256
               ELSE (tl * tl % 1000000007) % 256 END AS pl,
             CASE WHEN f = (doc_id * 3) % nf AND sxr = doc_id % w0
                 AND sy = (doc_id * 7) % h0
               THEN ((tr * tr % 1000000007) % 256 + 128) % 256
               ELSE (tr * tr % 1000000007) % 256 END AS pr
           FROM t),
         h AS (SELECT doc_id, f, max(nf) AS nf,
             CAST(sum(CASE WHEN pl > pr THEN
               CASE WHEN i = 63 THEN -9223372036854775807 - 1
                    ELSE 1::BIGINT << CAST(i AS INT) END
               ELSE 0 END) AS BIGINT) AS dhash
           FROM p GROUP BY doc_id, f),
         bands AS (SELECT doc_id, f, nf, dhash, b,
             (dhash >> (b * 16)) & 65535 AS bval
           FROM h, (SELECT unnest([0, 1, 2, 3]) AS b)),
         m AS (SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
             a.f AS f, a.nf AS nf
           FROM bands a JOIN bands c
             ON a.f = c.f AND a.b = c.b AND a.bval = c.bval
             AND a.doc_id < c.doc_id
           WHERE bit_count(xor(a.dhash, c.dhash)) <= $VideoMaxHamming)
         SELECT doc_id_a, doc_id_b, CAST(max(nf) AS INT) AS n_frames,
           count(*)::BIGINT AS n_match
         FROM m GROUP BY doc_id_a, doc_id_b
         HAVING count(*) >= $VideoMinMatch
         ORDER BY doc_id_a, doc_id_b""",

    // per-doc energy envelope replay: squared-hash PCM16 track with the
    // one-sample retouch, 32 windows of exact integer energies, 31
    // envelope-gradient bits, then the 2x16-bit band join
    "dedup_audio_fp" ->
      s"""WITH d AS (SELECT doc_id, doc_id // $AudioClusterSize AS cl
           FROM documents),
         dm AS (SELECT doc_id, cl, CAST(64 + cl % 33 AS INT) AS n FROM d),
         w AS (SELECT doc_id, cl, n, unnest(generate_series(0, 31)) AS wi
           FROM dm),
         s AS (SELECT doc_id, cl, n, wi,
             unnest(generate_series(wi * n // 32, (wi + 1) * n // 32 - 1))
               AS i
           FROM w),
         sv AS (SELECT doc_id, wi, i,
             CASE WHEN i = doc_id % n
               THEN ((((cl + 7919) * 1000003 + i * 31 + 7) % 1000000007)
                 * (((cl + 7919) * 1000003 + i * 31 + 7) % 1000000007)
                 % 1000000007) % 65536 - 32768
               ELSE (((cl * 1000003 + i * 31 + 7) % 1000000007)
                 * ((cl * 1000003 + i * 31 + 7) % 1000000007)
                 % 1000000007) % 65536 - 32768 END AS sval
           FROM s),
         e AS (SELECT doc_id, wi, sum(sval * sval)::BIGINT AS en
           FROM sv GROUP BY doc_id, wi),
         fp AS (SELECT e2.doc_id,
             CAST(sum(CASE WHEN e2.en > e1.en
               THEN 1::BIGINT << CAST(e2.wi - 1 AS INT)
               ELSE 0 END) AS BIGINT) AS fp
           FROM e e1 JOIN e e2
             ON e1.doc_id = e2.doc_id AND e2.wi = e1.wi + 1
           GROUP BY e2.doc_id),
         bands AS (SELECT doc_id, fp, b, (fp >> (b * 16)) & 65535 AS bval
           FROM fp, (SELECT unnest([0, 1]) AS b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_id_a,
             c.doc_id AS doc_id_b, a.fp AS fa, c.fp AS fb
           FROM bands a JOIN bands c
             ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id)
         SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(fa, fb)) <= $AudioMaxHamming
         ORDER BY doc_id_a, doc_id_b""",

    "dedup_weights" ->
      """WITH k AS (SELECT doc_id AS id,
           md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS dedup_key
           FROM documents),
         g AS (SELECT dedup_key, count(*)::BIGINT AS n_docs
           FROM k GROUP BY dedup_key)
         SELECT k.id, k.dedup_key, g.n_docs,
           floor(1000000.0 / g.n_docs + 0.5) / 1000000 AS weight
         FROM k JOIN g USING (dedup_key)
         ORDER BY id""")
}
