package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}
import graft.functions.GraftFunctions._
import graft.operators._

/** E1 — the price-update pipeline (ref `Actualizar_Precios_de_Nexo.py`,
  * flow at SURVEY.md §3 E1), re-expressed as one Spark DAG that is
  * pinned once and read by every output:
  *
  * union-by-name of per-project sheets -> unit canonicalization -> tower
  * prefix -> key normalization -> stable rowid -> sperant dedup (argmax by
  * date) -> LEFT broadcast join -> coalesce update rules -> audit flags
  * (tolerant diff) -> PIN. From the pin: the updated table, the
  * per-project resumen, the changed-row detail and the project set
  * differences.
  *
  * The pin is the reference's `df_total`, built once and read by every
  * output (`Actualizar_Precios_de_Nexo.py:399-406`, `:483-487`);
  * without it each sink would re-plan and re-run the union, window,
  * self-join and broadcast join. It is unconditional
  * ([[Checkpoints.pin]], not `pinIfLarge`) because what pays for it is
  * the number of readers, not the input size. The caller owns it:
  * [[Result.close]] releases it once the last sink has run.
  *
  * Scale shape: the only shuffles are the sperant dedup window (tiny
  * side), the join (broadcast — right side is a deduped CRM extract), and
  * the resumen aggregation by project. The big side is never re-sorted;
  * `_rowid` derives from the per-file ordinal captured at scan time.
  */
object PriceUpdate {

  val ColNum = "Numero de inmueble"
  val ColPre = "Precio de lista"
  val ColEst = "Estado de inmueble"

  sealed trait DedupRule
  case object MaxFecha extends DedupRule
  case object Ultimo extends DedupRule

  case class Config(
      dedupRule: DedupRule = MaxFecha,
      updateMode: UpdateRules.Mode = UpdateRules.PreferNew,
      towerProjects: Seq[String] = Seq("capadocia", "matera", "napoles"))

  /** The outputs of [[run]]. Every frame reads the run's pin, and
    * `updated` reads nothing else: it is the pin minus the file
    * ordinals and the audit flags. */
  case class Result(
      updated: DataFrame,
      resumen: DataFrame,
      detalle: DataFrame,
      soloEnNexo: DataFrame,
      soloEnSperant: DataFrame) {

    /** Release the pin. Call it after the last action on these frames:
      * an action on any of them afterwards fails. Idempotent. */
    def close(): Unit = Checkpoints.release(updated)
  }

  /** sheets: per-project frames from RawSheetReader (string columns +
    * `_file_row` + `Proyecto`); sperant: CRM extract with at least
    * (nombre_proyecto, nombre, precio_lista, estado_comercial) and
    * optionally fecha_actualizacion / a `_row` load ordinal.
    */
  def run(sheets: Seq[DataFrame], sperant: DataFrame,
          cfg: Config = Config()): Result = {

    // ---- left side: unified nexo table ----
    val unioned = UnionByName(
      sheets.zipWithIndex.map { case (df, i) => df.withColumn("_file_ord", lit(i)) })
    val canonical = unioned
      .withColumn(ColNum, canonUnit(col(ColNum)))
      .withColumn("_precio_num_antes", localeNum(col(ColPre)))
    val prefixed = TowerPrefix(canonical, cfg.towerProjects,
      "Proyecto", ColNum, "Tipologia")
    // `_rowid` must reproduce the reference's DENSE concatenated index
    // (pandas concat + reset_index: 0..n-1 across sheets in order, no
    // gaps from skipped header/preamble lines) without a GLOBAL
    // `row_number()` window, which would move the whole unified table to
    // ONE task. Two distributed pieces instead:
    //  1. rank within each sheet: a window PARTITIONED by `_file_ord` —
    //     one task per sheet, the same per-file unit the tolerant reader
    //     ingests by (never a single all-data reducer);
    //  2. each sheet's starting offset: per-file counts aggregate to a
    //     #sheets-row table, and a triangular self-join over THAT (tiny)
    //     turns counts into running offsets, broadcast-joined back.
    val perFile = org.apache.spark.sql.expressions.Window
      .partitionBy("_file_ord").orderBy("_file_row")
    val ranked = prefixed.withColumn("__rk",
      row_number().over(perFile).cast("long") - 1L)
    val fileCounts = prefixed.groupBy("_file_ord")
      .agg(count(lit(1)).as("__cnt"))
    val before = fileCounts.select(col("_file_ord").as("__ord2"),
      col("__cnt").as("__cnt2"))
    val fileOffsets = fileCounts
      .join(before, col("__ord2") < col("_file_ord"), "left")
      .groupBy("_file_ord")
      .agg(coalesce(sum("__cnt2"), lit(0L)).as("__off"))
    val dfTotal = ranked
      .join(broadcast(fileOffsets), Seq("_file_ord"))
      .withColumn("_key_proy", normKey(col("Proyecto")))
      .withColumn("_key_num", normKey(col(ColNum)))
      .withColumn("_rowid", col("__off") + col("__rk"))
      .drop("__off", "__rk")

    // ---- right side: ensure cols, keys, dedup to one row per key ----
    val ensured = EnsureColumns(sperant, Seq(
      "nombre_proyecto" -> StringType, "nombre" -> StringType,
      "estado_comercial" -> StringType, "precio_lista" -> DoubleType,
      "fecha_actualizacion" -> TimestampType))
    val sp = if (ensured.columns.contains("_row")) ensured
      else ensured.withColumn("_row", lit(0L))
    val keyed = sp
      .withColumn("_key_proy", normKey(col("nombre_proyecto")))
      .withColumn("_key_num", normKey(col("nombre")))
      .select("_key_proy", "_key_num", "precio_lista", "estado_comercial",
        "fecha_actualizacion", "_row")
    val right = (cfg.dedupRule match {
      case MaxFecha => DedupLatest(keyed, Seq("_key_proy", "_key_num"),
        Seq(tryTimestamp(col("fecha_actualizacion")).desc_nulls_last,
          col("_row").desc))
      case Ultimo => DedupLatest.lastByOrdinal(keyed,
        Seq("_key_proy", "_key_num"), "_row")
    }).withColumn("_matched", lit(true)).drop("_row")

    // ---- LEFT join + update rules (right side broadcasts) ----
    val joined = dfTotal.join(broadcast(right),
      Seq("_key_proy", "_key_num"), "left")
    val updated = joined
      .withColumn("_precio_num_despues",
        UpdateRules.applyUpdate(col("_precio_num_antes"),
          tryDouble(col("precio_lista")), cfg.updateMode))
      .withColumn("_estado_antes", col(ColEst))
      .withColumn(ColEst,
        UpdateRules.applyUpdate(col(ColEst), col("estado_comercial"), cfg.updateMode))
      .withColumn(ColPre, col("_precio_num_despues"))
      .withColumn("tiene_match", coalesce(col("_matched"), lit(false)))
      .withColumn("Sin_Match", !col("tiene_match"))
      .drop("precio_lista", "estado_comercial", "_matched")

    // ---- audit flags (tolerant float diff, null-sentinel string diff) ----
    val auditFlags = Seq("Cambio_PrecioLista", "Cambio_Estado",
      "Algun_Cambio", "Sin_Cambio")
    val flagged = Checkpoints.pin(updated
      .withColumn("Cambio_PrecioLista",
        coalesce(!isClose(col("_precio_num_antes"), col("_precio_num_despues")),
          lit(false)))
      .withColumn("Cambio_Estado",
        coalesce(nullSafeNeq(col("_estado_antes"), col(ColEst)), lit(false)))
      .withColumn("Algun_Cambio", col("Cambio_PrecioLista") || col("Cambio_Estado"))
      .withColumn("Sin_Cambio", !col("Algun_Cambio") && col("tiene_match")))

    // ---- resumen per project (single hash aggregation) ----
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val resumen0 = flagged.groupBy("Proyecto").agg(
      count(lit(1)).as("Registros"),
      cnt(col("tiene_match")).as("Con_Match"),
      cnt(col("Sin_Match")).as("Sin_Match"),
      cnt(col("Algun_Cambio")).as("Cambios"),
      cnt(col("Cambio_PrecioLista")).as("Cambios_Precio"),
      cnt(col("Cambio_Estado")).as("Cambios_Estado"),
      cnt(col("Sin_Cambio")).as("Sin_Cambio"))
    val resumen = Seq("Con_Match", "Sin_Match", "Cambios", "Sin_Cambio")
      .foldLeft(resumen0) { (d, c) =>
        d.withColumn(s"%_$c", round(col(c) / col("Registros"), 4))
      }.orderBy("Proyecto")

    // ---- changed-row detail (before/after columns side by side) ----
    val detalle = flagged
      .filter(col("Cambio_PrecioLista") || col("Cambio_Estado"))
      .select(col("_rowid"), col("Proyecto"), col(ColNum),
        col("_precio_num_antes").as(s"${ColPre}_Antes"),
        col("_precio_num_despues").as(s"${ColPre}_Despues"),
        col("_estado_antes").as(s"${ColEst}_Antes"),
        col(ColEst).as(s"${ColEst}_Despues"),
        col("tiene_match"), col("Sin_Match"),
        col("Cambio_PrecioLista"), col("Cambio_Estado"))
      .orderBy("_rowid")

    // ---- project set differences (J6/U2) ----
    // the LEFT join keeps every dfTotal row, so the pin has its projects
    val proyNexo = flagged.select(trim(col("Proyecto")).as("Proyecto")).distinct()
    val proySper = sperant.select(trim(col("nombre_proyecto")).as("Proyecto")).distinct()
    Result(
      updated = flagged.drop("_file_ord" +: "_file_row" +: auditFlags: _*),
      resumen = resumen,
      detalle = detalle,
      soloEnNexo = proyNexo.except(proySper).orderBy("Proyecto"),
      soloEnSperant = proySper.except(proyNexo).orderBy("Proyecto"))
  }
}
