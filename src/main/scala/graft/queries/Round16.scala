package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.multimodal.Multimodal
import graft.similarity.Similarity

/** Round-16 batch: the REAL video-frame walk (animated GIF through the
  * JDK's own multi-frame codec — frame count, stride sampling and
  * per-frame NN resampling over actually-decoded rasters), perceptual
  * image near-dup (dHash over the decoded tier + Hamming-banded pair
  * join — the image sibling of the SimHash text family), incremental
  * IVF index maintenance (append new vectors to frozen centroids +
  * per-cell drift), and the F17 es-PE currency display format as an
  * oracle gate (ref `index.html:104-106`). */
object Round16 extends GateBatch {

  /** dedup_image_phash family size: docs sharing `doc_id / 5` render
    * near-identical images, so pairs scale linearly with the corpus. */
  private[graft] val PhashClusterSize = 5
  private[graft] val PhashMaxHamming = 8

  /** mm_frames_real stride and resample target. */
  private[graft] val FrameStride = 2
  private[graft] val FrameResample = 6

  /** sim_ann_incremental cell count (md5-seeded like dedup_semantic). */
  private[graft] val IncNlist = 8

  val defs: Map[String, Q] = Map(

    // REAL multi-frame decode: per-doc animated-GIF fixture -> actual
    // javax.imageio sequence walk (getNumImages + per-frame read) ->
    // keep every 2nd frame -> 6x6 NN resample -> position-weighted
    // checksum. The oracle replays the integers straight from the
    // fixture formula + the NN index math, so a codec that drops,
    // reorders, composites, or palette-shifts frames fails the hash.
    "mm_frames_real" -> ((s, dir) =>
      Multimodal.videoRoundTrip(tbl(s, dir, "documents"), "doc_id",
          stride = FrameStride, FrameResample, FrameResample)
        .toDF().orderBy("doc_id", "frame_idx")),

    // perceptual image near-dup: dHash(9x8 gradient signs) over the
    // REAL-decoded image tier, then Hamming-banded pair join (4 x
    // 16-bit bands -> bucket join -> exact bit_count filter) — never
    // all-pairs. Fixture families of 5 one-pixel retouches per base
    // image land 0-4 bits apart; cross-family ~32 bits.
    "dedup_image_phash" -> ((s, dir) =>
      Multimodal.imageNearDupPairs(
          Multimodal.imageDHashes(tbl(s, dir, "documents"), "doc_id",
            PhashClusterSize).toDF(),
          maxHamming = PhashMaxHamming)
        .orderBy("doc_id_a", "doc_id_b")),

    // incremental IVF maintenance: index vec_id % 5 != 0 (1 Lloyd round,
    // md5 seed so DuckDB replays the clustering), then APPEND the held
    // out 20% against the frozen centroids and report per-cell drift.
    // The oracle recomputes the full seed->mean->reassign->mean chain
    // and the batch argmax, so the gate pins "append == what a rebuild
    // would assign on unchanged centroids".
    "sim_ann_incremental" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val base = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val batch = emb.where(pmod(col("vec_id"), lit(5L)) === 0L)
      val (assigned, cents) = Similarity.ivfIndex(base, "vec_id",
        "embedding", dim = 64, nlist = IncNlist, iters = 1,
        seedCell = Some(Round7.semSeed(IncNlist)))
      val appended = Similarity.ivfAppend(cents, batch, "vec_id",
        "embedding", IncNlist)
      val drift = Similarity.ivfDrift(assigned, appended)
      appended.select(col("vec_id"), col("__cell").cast("long").as("cell"))
        .join(broadcast(drift), Seq("cell"))
        .select(col("vec_id"), col("cell"), col("n_indexed"),
          col("n_appended"), col("growth"))
        .orderBy("vec_id")
    }),

    // F17 — es-PE PEN display format (ref `index.html:104-106`):
    // round half-up to whole soles, comma thousands grouping, the
    // dashboard's en-dash placeholder on the null lane
    "scalar_currency_pen_total" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_orderkey") <= 2000L)
        .select(col("l_orderkey").cast("long").as("okey"),
          col("l_linenumber").cast("long").as("line"),
          GraftFunctions.formatCurrency(col("l_extendedprice"))
            .as("precio"),
          GraftFunctions.formatCurrency(
            when(col("l_quantity") > 25,
              col("l_extendedprice") * col("l_quantity")))
            .as("total"))
        .orderBy("okey", "line")))

  val oracles: Map[String, String] = Map(

    // replays testFramePixel/testDims/testFrameCount + the stride and
    // the 6x6 NN index math (sx = x2*W//6, sy = y2*H//6), weights i+1
    "mm_frames_real" ->
      s"""WITH f AS (SELECT d.doc_id,
             CAST(16 + d.doc_id % 9 AS INT) AS width,
             CAST(12 + d.doc_id % 7 AS INT) AS height,
             CAST(2 + d.doc_id % 5 AS INT) AS n_frames
           FROM documents d),
         fr AS (SELECT doc_id, width, height, n_frames,
             unnest(generate_series(0, n_frames - 1)) AS fi FROM f),
         k AS (SELECT * FROM fr WHERE fi % $FrameStride = 0),
         px AS (SELECT doc_id, fi, n_frames, width, height,
             unnest(generate_series(0,
               ${FrameResample * FrameResample - 1})) AS i FROM k)
         SELECT doc_id, CAST(fi AS INT) AS frame_idx, n_frames, width,
           height,
           CAST(sum(((doc_id * 31 + fi * 41
               + ((i % $FrameResample) * width // $FrameResample) * 7
               + ((i // $FrameResample) * height // $FrameResample) * 13)
               % 256) * (i + 1)) AS BIGINT) AS checksum
         FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id, frame_idx""",

    // replays the fixture pixel (one +128 retouch per doc), the 9x8
    // dHash bit lattice, the 4 x 16-bit band join and the bit_count
    // filter; bit 63's power spelled as MinLong (1<<63 overflows)
    "dedup_image_phash" ->
      s"""WITH d AS (SELECT doc_id, doc_id // $PhashClusterSize AS cl
           FROM documents),
         dm AS (SELECT doc_id, cl,
             CAST(16 + cl % 9 AS INT) AS w0,
             CAST(12 + cl % 7 AS INT) AS h0 FROM d),
         bits AS (SELECT doc_id, w0, h0, cl,
             unnest(generate_series(0, 63)) AS i FROM dm),
         g AS (SELECT doc_id, i,
             ((i % 8) * w0 // 9) AS sxl, (((i % 8) + 1) * w0 // 9) AS sxr,
             ((i // 8) * h0 // 8) AS sy, w0, h0, cl
           FROM bits),
         t AS (SELECT doc_id, i, sy, w0, h0,
             (cl * 1000003 + sxl * 31 + sy) % 1000000007 AS tl,
             (cl * 1000003 + sxr * 31 + sy) % 1000000007 AS tr,
             sxl, sxr
           FROM g),
         p AS (SELECT doc_id, i,
             CASE WHEN sxl = doc_id % w0 AND sy = (doc_id * 7) % h0
               THEN ((tl * tl % 1000000007) % 256 + 128) % 256
               ELSE (tl * tl % 1000000007) % 256 END AS pl,
             CASE WHEN sxr = doc_id % w0 AND sy = (doc_id * 7) % h0
               THEN ((tr * tr % 1000000007) % 256 + 128) % 256
               ELSE (tr * tr % 1000000007) % 256 END AS pr
           FROM t),
         h AS (SELECT doc_id,
             CAST(sum(CASE WHEN pl > pr THEN
               CASE WHEN i = 63 THEN -9223372036854775807 - 1
                    ELSE 1::BIGINT << CAST(i AS INT) END
               ELSE 0 END) AS BIGINT) AS dhash
           FROM p GROUP BY doc_id),
         bands AS (SELECT doc_id, dhash, b,
             (dhash >> (b * 16)) & 65535 AS bval
           FROM h, (SELECT unnest([0, 1, 2, 3]) AS b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_id_a,
             c.doc_id AS doc_id_b, a.dhash AS ha, c.dhash AS hb
           FROM bands a JOIN bands c
             ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id)
         SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(ha, hb)) <= $PhashMaxHamming
         ORDER BY doc_id_a, doc_id_b""",

    // full replay of the frozen-centroid chain: md5 seed -> cell means
    // -> reassign (round-4 argmax, smaller cell on ties) -> cell means
    // again (the returned centroids) -> batch argmax + drift counts
    "sim_ann_incremental" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST(('0x' || substr(md5(vec_id::VARCHAR), 1, 8)) AS BIGINT)
               % $IncNlist AS scell
           FROM embeddings WHERE vec_id % 5 <> 0),
         c0 AS (SELECT scell, list(a ORDER BY i) AS c FROM (
             SELECT scell, i, avg(v[i]) AS a
             FROM v, generate_series(1, 64) AS g(i) GROUP BY scell, i)
           GROUP BY scell),
         a1 AS (SELECT vec_id, v, cell FROM (
             SELECT v.vec_id, v.v, c0.scell AS cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 round(list_cosine_similarity(v.v, c0.c), 4) DESC,
                 c0.scell) AS rk
             FROM v, c0) WHERE rk = 1),
         c1 AS (SELECT cell, list(a ORDER BY i) AS c FROM (
             SELECT cell, i, avg(v[i]) AS a
             FROM a1, generate_series(1, 64) AS g(i) GROUP BY cell, i)
           GROUP BY cell),
         b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id % 5 = 0),
         ab AS (SELECT vec_id, cell FROM (
             SELECT b.vec_id, c1.cell,
               row_number() OVER (PARTITION BY b.vec_id ORDER BY
                 round(list_cosine_similarity(b.v, c1.c), 4) DESC,
                 c1.cell) AS rk
             FROM b, c1) WHERE rk = 1),
         ni AS (SELECT cell, count(*)::BIGINT AS n_indexed
           FROM a1 GROUP BY cell),
         na AS (SELECT cell, count(*)::BIGINT AS n_appended
           FROM ab GROUP BY cell)
         SELECT ab.vec_id, ab.cell::BIGINT AS cell, ni.n_indexed,
           na.n_appended,
           floor(na.n_appended / ni.n_indexed::DOUBLE * 1000000 + 0.5)
             / 1000000 AS growth
         FROM ab JOIN ni USING (cell) JOIN na USING (cell)
         ORDER BY ab.vec_id""",

    // DuckDB round() is half-away-from-zero on the double's binary
    // value; at WHOLE-sol precision the half grid (.5) is exactly
    // representable, so it agrees with Spark's shortest-repr HALF_UP
    "scalar_currency_pen_total" ->
      """SELECT l_orderkey::BIGINT AS okey, l_linenumber::BIGINT AS line,
           'S/ ' || format('{:,}', round(l_extendedprice)::BIGINT)
             AS precio,
           CASE WHEN l_quantity > 25
             THEN 'S/ ' || format('{:,}',
               round(l_extendedprice * l_quantity)::BIGINT)
             ELSE '–' END AS total
         FROM lineitem WHERE l_orderkey <= 2000
         ORDER BY okey, line""")
}
