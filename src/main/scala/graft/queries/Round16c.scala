package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.DatasetSplit

/** Round-16 third batch: leakage-audited dataset splitting (the step
  * between curation and training — exact-dup leakage structurally
  * impossible, residual near-dup leakage AUDITED per split) and the
  * streaming claim-store twin over the image dHash tier (the image
  * sibling of `stream_neardup_keep`). */
object Round16c extends GateBatch {

  private[graft] val SplitTrainPct = 80
  private[graft] val SplitValPct = 10

  val defs: Map[String, Q] = Map(

    // split by exact-dedup digest (identical copies can never straddle
    // a split), then audit the near-dup pairs that DO cross — the
    // number an eval gatekeeper reads before trusting a benchmark
    "curate_split_leakage" -> ((s, dir) => {
      val assign = DatasetSplit.byDigest(tbl(s, dir, "documents"),
        "doc_id", "text", SplitTrainPct, SplitValPct)
      DatasetSplit.leakageReport(assign,
          Extensions.neardupPairsFor(s, dir), "id_a", "id_b")
        .orderBy("split")
    }),

    // batch replay of the streaming BucketClaim store over IMAGE dHash
    // bands: synthetic arrival times with collisions, a doc is kept iff
    // it owns (earliest (ts, id)) ALL 4 of its band buckets — the
    // image twin of stream_neardup_keep, fed by the REAL decode tier
    "stream_image_neardup_keep" -> ((s, dir) => {
      val banded = Multimodal.imageDHashes(tbl(s, dir, "documents"),
          "doc_id", Round16.PhashClusterSize).toDF()
        .select(col("doc_id").as("id"),
          pmod(col("doc_id") * lit(37L), lit(97L)).as("ts"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftright(col("dhash"), b * 16).bitwiseAND(lit(65535L))
                .as("bucket"))): _*)).as("bb"))
        .select(col("id"), col("ts"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
      graft.streaming.StreamingDedup.nearDupKeepReplay(banded, bands = 4)
        .select(col("id").as("doc_id"), col("ts"))
        .orderBy("doc_id")
    }))

  private val dhashCtes =
    """d AS (SELECT doc_id, doc_id // 5 AS cl FROM documents),
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
           FROM p GROUP BY doc_id)"""

  val oracles: Map[String, String] = Map(

    "curate_split_leakage" ->
      """WITH a AS (SELECT doc_id AS id, dedup_key,
           CASE WHEN CAST(('0x' || substr(dedup_key, 1, 8)) AS BIGINT)
               % 100 < 80 THEN 'train'
             WHEN CAST(('0x' || substr(dedup_key, 1, 8)) AS BIGINT)
               % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
           FROM (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(trim(text), '\s+'))), ' '))
               AS dedup_key FROM documents)),
         sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)) >= 0.8),
         cr AS (SELECT pa.split AS sa, pb.split AS sb FROM pairs p
           JOIN a pa ON p.id_a = pa.id JOIN a pb ON p.id_b = pb.id
           WHERE pa.split <> pb.split),
         lk AS (SELECT split, count(*)::BIGINT AS leak_pairs FROM (
             SELECT sa AS split FROM cr UNION ALL SELECT sb FROM cr)
           GROUP BY split),
         ps AS (SELECT split, count(*)::BIGINT AS n_docs,
             count(DISTINCT dedup_key)::BIGINT AS n_groups
           FROM a GROUP BY split)
         SELECT ps.split, ps.n_docs, ps.n_groups,
           coalesce(lk.leak_pairs, 0)::BIGINT AS leak_pairs
         FROM ps LEFT JOIN lk USING (split) ORDER BY ps.split""",

    "stream_image_neardup_keep" ->
      s"""WITH $dhashCtes,
         br AS (SELECT doc_id, (doc_id * 37) % 97 AS ts, b,
             (dhash >> (b * 16)) & 65535 AS bucket
           FROM h, (SELECT unnest([0, 1, 2, 3]) AS b)),
         own AS (SELECT b, bucket, doc_id AS win_id FROM (
             SELECT b, bucket, doc_id,
               row_number() OVER (PARTITION BY b, bucket
                 ORDER BY ts, doc_id) AS rn
             FROM br) WHERE rn = 1)
         SELECT br.doc_id, min(br.ts) AS ts
         FROM br JOIN own ON br.b = own.b AND br.bucket = own.bucket
         GROUP BY br.doc_id
         HAVING sum(CASE WHEN br.doc_id = own.win_id THEN 1 ELSE 0 END) = 4
         ORDER BY doc_id""")
}
