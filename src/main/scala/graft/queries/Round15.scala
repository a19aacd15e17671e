package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{RawSheetReader, XlsSheetReader}
import graft.operators.{GlobalShuffle, Kappa, UnionByName}
import graft.sinks.XlsWriter

/** Round-15 batch, closing the round-14 verdict's evidence gaps as
  * oracle gates:
  *
  *  - the legacy `.xls` container loop — REAL BIFF8+CFB bytes written
  *    by [[XlsWriter]] (typed RK/NUMBER/BOOLERR/LABELSST cells, shared
  *    SST with CONTINUE splits), read back through
  *    [[XlsSheetReader]]'s tolerant core and hash-matched, plus a
  *    deliberately CORRUPTED pair (container stripped, zero-padded,
  *    truncated mid-record) gating the `ignore_workbook_corruption`
  *    tolerance itself (ref `Actualizar_Precios_de_Nexo.py:191-193`);
  *  - the cluster WRITE shape of the seeded global shuffle — the
  *    `repartition(shard)` + `sortWithinPartitions` + partitioned
  *    parquet sink the operator's scaladoc names, with the per-shard
  *    PHYSICAL file order hash-checked against DuckDB's recomputation;
  *  - Fleiss' kappa — the multi-rater panel generalization of the
  *    round-14 Cohen gate, integer-exact numerators;
  *  - a rank-error ACCURACY gate for the keyed streaming quantile —
  *    the round-14 gate proved deterministic replay; this one bounds
  *    |rank(est) − p| against the exact per-key distribution, with the
  *    ε(K) bound stated where the sketch is defined.
  */
object Round15 extends GateBatch {

  private val ShuffleSeed = "s15-sink"
  private val SinkShards = 8

  /** Rank-error tolerance for the K=64 keyed bottom-K sample: the
    * estimate is an order statistic of a uniform 64-point sample, so
    * the achieved rank fraction deviates from p by ~sqrt(p(1-p)/K)
    * (≤ 0.0625 at p=0.5) plus the lower-index read-off bias (< 1/K);
    * 0.25 is a 4σ envelope — deterministic per dataset since the md5
    * family is fixed. Spec-asserted at gate scale; stated in
    * [[graft.streaming.StreamingQsketch]]. */
  val RankEps = 0.25

  private val QProbs =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  private def outDir(name: String, dir: String): String =
    new java.io.File(s"target/gates/r15/${name}_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath

  /** Canonical headers for the xls gates — the writer emits them at
    * row 0, where the reader's alias scan finds them. */
  private val xlsCfg = RawSheetReader.Config(
    aliases = Seq(
      "Segmento" -> Nil, "Numero de cliente" -> Nil, "Nombre" -> Nil,
      "Saldo" -> Nil, "Clave grande" -> Nil, "Nota" -> Nil),
    ensure = Seq("Segmento", "Numero de cliente", "Nombre", "Saldo",
      "Clave grande", "Nota"))

  private val tolCfg = RawSheetReader.Config(
    aliases = Seq(
      "Pais id" -> Nil, "Nombre" -> Nil, "Region" -> Nil,
      "Comentario" -> Nil),
    ensure = Seq("Pais id", "Nombre", "Region", "Comentario"))

  /** The customer slice both xls-roundtrip sides derive from: exercises
    * every typed-cell encoding — RK ints (custkey), NUMBER doubles
    * (acctbal), beyond-RK exact integers (custkey·2^30), compressed
    * AND UTF-16 SST strings (names vs the `→` note), omitted nulls. */
  private def xlsUnits(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_mktsegment").as("Segmento"),
      col("c_custkey").cast("long").as("Numero de cliente"),
      col("c_name").as("Nombre"),
      col("c_acctbal").cast("double").as("Saldo"),
      (col("c_custkey").cast("long") * lit(1073741824L)).as("Clave grande"),
      when(col("c_custkey") % 7 === 0, lit(null))
        .otherwise(concat(lit("Año → "), col("c_nationkey").cast("string")))
        .as("Nota"))

  val defs: Map[String, Q] = Map(

    // write one REAL two-sheet .xls (BIFF8 records in a CFB container),
    // read both sheets back through the tolerant legacy reader, return
    // the unioned typed content: a hash match pins the RK int/float
    // encodings, IEEE NUMBER cells, the shared SST (with CONTINUE
    // splits once the name table outgrows one record), BOUNDSHEET
    // offsets + tab order, null omission, and the CFB sector chains
    "ingest_xls_roundtrip" -> ((s, dir) => {
      val out = outDir("xls_roundtrip", dir)
      val units = xlsUnits(s, dir)
      val even = units.where(col("Numero de cliente") % 2 === 0)
        .orderBy("Numero de cliente")
      val odd = units.where(col("Numero de cliente") % 2 === 1)
        .orderBy("Numero de cliente")
      val path = s"$out/clientes.xls"
      XlsWriter.writeWorkbook(path, Seq("Pares" -> even, "Impares" -> odd))
      val sheets = Seq("Pares", "Impares").map { sh =>
        XlsSheetReader.readSheet(s, path, sh, xlsCfg, sheet = Some(sh))
      }
      UnionByName(sheets).select(
        col("Proyecto").as("hoja"),
        col("Segmento").as("segmento"),
        expr("try_cast(`Numero de cliente` AS BIGINT)").as("numero"),
        col("Nombre").as("nombre"),
        expr("try_cast(Saldo AS DOUBLE)").as("saldo"),
        expr("try_cast(`Clave grande` AS BIGINT)").as("clave"),
        col("Nota").as("nota"))
        .orderBy("numero")
    }),

    // the tolerance gate: the SAME content (plus a sentinel tail row)
    // through two corrupted containers — (a) the bare BIFF stream with
    // no CFB wrapper and 512 bytes of zero padding (the reader's
    // documented terminator), (b) the stream truncated mid-record
    // (final EOF plus part of the last cell record cut) — every
    // physically-present cell must still land, which is exactly what
    // xlrd's ignore_workbook_corruption promises the reference
    "ingest_xls_tolerance" -> ((s, dir) => {
      val out = outDir("xls_tolerance", dir)
      Files.createDirectories(Paths.get(out))
      val base = tbl(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("Pais id"),
        col("n_name").as("Nombre"),
        col("n_regionkey").cast("long").as("Region"),
        concat(col("n_name"), lit(" / región "),
          col("n_regionkey").cast("string")).as("Comentario"))
      import s.implicits._
      // the sentinel sorts LAST; truncation cuts into ITS final cell,
      // so the real rows survive the cut bit-exactly
      val sentinel = Seq((999999L, "ZZZ_SENTINEL", 0L,
        "tail row, last cell cut mid-record")).toDF(
        "Pais id", "Nombre", "Region", "Comentario")
      val df = base.unionByName(sentinel).orderBy("Pais id")
      val stream = XlsWriter.workbookStreamBytes(Seq("Datos" -> df))
      val bare = s"$out/bare_padded.xls"
      Files.write(Paths.get(bare), stream ++ new Array[Byte](512))
      val trunc = s"$out/truncated.xls"
      // drop the 4-byte EOF and 3 bytes of the last cell record: the
      // scan must stop at the dangling record, not fail, not misread
      Files.write(Paths.get(trunc), stream.dropRight(7))
      val both = Seq("bare_padded" -> bare, "truncated" -> trunc).map {
        case (tag, p) => XlsSheetReader.readSheet(s, p, tag, tolCfg)
      }
      UnionByName(both).select(
        col("Proyecto").as("fixture"),
        expr("try_cast(`Pais id` AS BIGINT)").as("pais"),
        col("Nombre").as("nombre"),
        expr("try_cast(Region AS BIGINT)").as("region"),
        col("Comentario").as("comentario"))
        .where(col("pais") < 999999L) // the sentinel is scaffolding
        .orderBy("fixture", "pais")
    }),

    // the at-scale WRITE shape of the seeded global shuffle
    // (GlobalShuffle's scaladoc): repartition on shard +
    // sortWithinPartitions(sort_key) + shard-partitioned parquet —
    // ONE shuffle, no global sort, no one-task funnel — then read each
    // shard's file back and hash the ids in PHYSICAL file order; the
    // oracle recomputes the per-shard order from the md5 contract, so
    // a match proves the files carry the reproducible order on disk
    "sink_global_shuffle" -> ((s, dir) => {
      val out = outDir("global_shuffle", dir)
      GlobalShuffle.shuffle(tbl(s, dir, "documents"), col("doc_id"),
          ShuffleSeed, SinkShards)
        .repartition(col("shard"))
        .sortWithinPartitions("sort_key", "id")
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      // bounded per-shard read-back (SinkShards dirs): each shard is
      // ONE file (all rows of a shard land in one task; dynamic
      // partitioning preserves task row order per file), read as one
      // split, so monotonically_increasing_id IS the file order
      val perShard = (0 until SinkShards).map { i =>
        s.read.parquet(s"$out/shard=$i")
          .withColumn("fidx", monotonically_increasing_id())
          .select(lit(i).as("shard"), col("fidx"),
            col("id").cast("string").as("id"))
      }
      UnionByName(perShard)
        .groupBy("shard")
        .agg(count(lit(1)).as("n"),
          md5(concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(fidx, id))), p -> p.id)")))
            .as("order_hash"))
        .orderBy("shard")
    }),

    // Fleiss' kappa over a 3-rater panel: order lines 1..3 as raters,
    // return flag as the label — "is the panel's agreement above
    // chance" for every order large enough to carry the full panel
    "audit_label_kappa_fleiss" -> ((s, dir) =>
      Kappa.fleiss(
        tbl(s, dir, "lineitem").where(col("l_linenumber") <= 3),
        col("l_orderkey"), col("l_returnflag"), raters = 3)),

    // accuracy of the keyed streaming quantile: for each (key, prob),
    // the achieved rank fraction of the bottom-K estimate within the
    // key's EXACT distribution, and whether it sits inside the ε(K)
    // envelope — both engines recompute the identical deterministic
    // sample, so the gate hash-pins the measured error itself; the
    // all-true `ok` column is additionally spec-asserted (Round15Spec)
    "stream_quantile_rank_error" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("event_type").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
      val est = graft.streaming.StreamingQsketch.keyedQuantiles(
          graft.streaming.StreamingQsketch.keyedEndStates(
            ev, "event_type", col("event_id"), "value"),
          QProbs)
        .withColumnRenamed("key", "event_type")
      val probVal = QProbs.foldLeft(lit(null).cast("double")) {
        case (acc, (label, p)) =>
          when(col("prob") === label, lit(p)).otherwise(acc)
      }
      ev.select(col("event_type"), col("value").cast("double").as("v"))
        .join(est, "event_type")
        .groupBy(col("event_type"), col("prob"), col("est_q"))
        .agg((sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("rf"))
        .select(col("event_type"), col("prob"), col("est_q"),
          (floor(col("rf") * 1e6 + 0.5) / 1e6).as("rank_frac"),
          (abs(col("rf") - probVal) <= RankEps).as("ok"))
        .orderBy("event_type", "prob")
    }))

  val oracles: Map[String, String] = Map(

    "ingest_xls_roundtrip" ->
      """SELECT CASE WHEN c_custkey % 2 = 0 THEN 'Pares' ELSE 'Impares' END
           AS hoja,
         c_mktsegment AS segmento, c_custkey::BIGINT AS numero,
         c_name AS nombre, c_acctbal::DOUBLE AS saldo,
         (c_custkey::BIGINT * 1073741824)::BIGINT AS clave,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
           ELSE 'Año → ' || c_nationkey::VARCHAR END AS nota
         FROM customer ORDER BY numero""",

    "ingest_xls_tolerance" ->
      """WITH n AS (SELECT n_nationkey::BIGINT AS pais, n_name AS nombre,
             n_regionkey::BIGINT AS region,
             n_name || ' / región ' || n_regionkey::VARCHAR AS comentario
           FROM nation)
         SELECT f.fixture, n.pais, n.nombre, n.region, n.comentario
         FROM n CROSS JOIN (SELECT unnest(['bare_padded', 'truncated'])
           AS fixture) f
         ORDER BY fixture, pais""",

    "sink_global_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
             md5('$ShuffleSeed' || '|' || doc_id::VARCHAR) AS sort_key
           FROM documents WHERE doc_id IS NOT NULL),
         s AS (SELECT doc_id, sort_key,
             (CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT)
               % $SinkShards)::INT AS shard
           FROM h)
         SELECT shard, count(*)::BIGINT AS n,
           md5(string_agg(doc_id::VARCHAR, ','
             ORDER BY sort_key, doc_id)) AS order_hash
         FROM s GROUP BY shard ORDER BY shard""",

    "audit_label_kappa_fleiss" ->
      """WITH r AS (SELECT l_orderkey AS item, l_returnflag AS label
             FROM lineitem WHERE l_linenumber <= 3),
         cells AS (SELECT item, label, count(*)::BIGINT AS c
           FROM r GROUP BY item, label),
         it AS (SELECT item, sum(c)::BIGINT AS tot,
             sum(c * c)::BIGINT AS s2
           FROM cells GROUP BY item),
         elig AS (SELECT item, s2 FROM it WHERE tot = 3),
         tops AS (SELECT count(*)::BIGINT AS n_items,
             coalesce(sum(s2::DECIMAL(38,0)), 0::DECIMAL(38,0)) AS s2_sum
           FROM elig),
         pe AS (SELECT coalesce(sum(cj * cj), 0::DECIMAL(38,0)) AS pe_num
           FROM (SELECT sum(c::DECIMAL(38,0)) AS cj
             FROM cells JOIN elig USING (item) GROUP BY label)),
         d AS (SELECT n_items,
             (s2_sum::DOUBLE - n_items * 3) / (n_items * 3 * 2) AS p_bar,
             pe_num::DOUBLE / (n_items * 3.0 * n_items * 3.0) AS p_e
           FROM tops, pe WHERE n_items > 0)
         SELECT n_items, 3::BIGINT AS n_raters,
           floor(p_bar * 1000000 + 0.5) / 1000000 AS p_bar,
           floor(p_e * 1000000 + 0.5) / 1000000 AS p_e,
           floor(CASE WHEN p_e = 1 THEN (CASE WHEN p_bar = 1 THEN 1
               ELSE 0 END)
             ELSE (p_bar - p_e) / (1 - p_e) END * 1000000 + 0.5)
             / 1000000 AS kappa
         FROM d""",

    "stream_quantile_rank_error" -> {
      val k = graft.streaming.StreamingQsketch.KeyedK
      val labels = QProbs.map(p => s"'${p._1}'").mkString(", ")
      val pvals = QProbs.map(_._2).mkString(", ")
      s"""WITH h AS (SELECT event_type AS key,
             CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
               AS BIGINT) AS h,
             value::DOUBLE AS v
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND event_id IS NOT NULL),
         bk AS (SELECT key, h, v FROM (SELECT key, h, v,
             row_number() OVER (PARTITION BY key ORDER BY h, v) AS rn
           FROM (SELECT DISTINCT key, h, v FROM h))
           WHERE rn <= $k),
         r AS (SELECT key, h, v,
             row_number() OVER (PARTITION BY key ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY key) AS n
           FROM bk),
         p AS (SELECT unnest([$labels]) AS prob,
             unnest([$pvals]::DOUBLE[]) AS pv),
         est AS (SELECT key, prob, pv, v AS est_q
           FROM r JOIN p ON r.rn = (floor(pv * (n - 1)) + 1)::BIGINT),
         m AS (SELECT est.key, est.prob, est.pv, est.est_q,
             sum(CASE WHEN h.v <= est.est_q THEN 1 ELSE 0 END)::DOUBLE
               / count(*) AS rf
           FROM h JOIN est ON h.key = est.key
           GROUP BY est.key, est.prob, est.pv, est.est_q)
         SELECT key AS event_type, prob, est_q,
           floor(rf * 1000000 + 0.5) / 1000000 AS rank_frac,
           abs(rf - pv) <= ${Round15.RankEps} AS ok
         FROM m ORDER BY event_type, prob"""
    })
}
