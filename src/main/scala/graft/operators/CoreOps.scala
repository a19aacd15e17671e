package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J2/O1/O2 — keep the latest record per key (argmax-by-ordering dedup).
  *
  * Reference rule `max_fecha` (`Actualizar_Precios_de_Nexo.py:133-141`):
  * sort by date within key, keep last. Implemented as a ranking window —
  * one shuffle on the keys, map-side nothing to combine (row-level argmax).
  * At 100 TB this is the canonical per-key reduction; for heavy skew on a
  * key, AQE skew handling applies because it is a plain hash partitioning.
  */
object DedupLatest {
  def apply(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** `max_fecha`: latest by `dateCol` (nulls lose), deterministic tiebreak. */
  def latestBy(df: DataFrame, keys: Seq[String], dateCol: String, tiebreak: String): DataFrame =
    apply(df, keys, Seq(col(dateCol).desc_nulls_last, col(tiebreak).desc))

  /** `ultimo`: keep the LAST row per key in input/load order (ref `:141`
    * `keep="last"`), ignoring any date column — `ordinal` is the load
    * ordinal captured at ingest (`_row`/`_file_row`). */
  def lastByOrdinal(df: DataFrame, keys: Seq[String], ordinal: String): DataFrame =
    apply(df, keys, Seq(col(ordinal).desc))
}

/** U1 — union-by-name with outer schema union: missing columns become NULL
  * (ref `pd.concat`, `Actualizar_Precios_de_Nexo.py:235`). */
object UnionByName {
  def apply(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
}

/** F11 — update rule: prefer the incoming value unless null, or the reverse
  * (ref `_apply_update`, `:143-147`; mode switch `:70`). */
object UpdateRules {
  sealed trait Mode
  case object PreferNew extends Mode
  case object PreferExisting extends Mode

  def applyUpdate(existing: Column, incoming: Column, mode: Mode = PreferNew): Column =
    mode match {
      case PreferNew      => coalesce(incoming, existing)
      case PreferExisting => coalesce(existing, incoming)
    }
}

/** P9/F9 — tower-prefix derivation (ref `:256-291`): for selected projects,
  * prefix the unit number with the tower letter (first char of the
  * typology, accepted only when A/B), skipping rows already prefixed.
  */
object TowerPrefix {
  def apply(df: DataFrame, projects: Seq[String], projectCol: String,
            unitCol: String, typologyCol: String): DataFrame = {
    val inScope = lower(trim(col(projectCol))).isin(projects.map(_.toLowerCase): _*)
    val letter = upper(substring(trim(col(typologyCol)), 1, 1))
    val letterOk = letter.isin("A", "B")
    val alreadyPrefixed = upper(trim(col(unitCol))).rlike("^[AB]\\d+$")
    val newUnit = concat(letter, trim(col(unitCol)))
    df.withColumn(unitCol,
      when(inScope && !alreadyPrefixed && letterOk && col(unitCol).isNotNull, newUnit)
        .otherwise(col(unitCol)))
  }
}

/** P2 — ensure-column: materialize missing target columns as all-NULL of
  * the right type (ref `:216-217,311-316`). */
object EnsureColumns {
  import org.apache.spark.sql.types.DataType
  def apply(df: DataFrame, specs: Seq[(String, DataType)]): DataFrame =
    specs.foldLeft(df) { case (d, (name, tpe)) =>
      if (d.columns.contains(name)) d
      else d.withColumn(name, lit(null).cast(tpe))
    }
}

/** A7 — value_counts: counts per value with nulls bucketed as `__NA__`,
  * descending by count (ref `python_json.py:154-157`). */
object ValueCounts {
  def apply(df: DataFrame, column: String, naLabel: String = "__NA__"): DataFrame =
    df.groupBy(coalesce(col(column).cast("string"), lit(naLabel)).as(column))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(column))
}

/** P11 — case-insensitive substring search across a set of columns
  * (dashboard full-text filter, `index.html:217`). */
object SearchAll {
  def apply(df: DataFrame, query: String, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val q = query.toLowerCase
    val pred = cols.map(c => lower(col(c).cast("string")).contains(q)).reduce(_ || _)
    df.filter(pred)
  }
}

/** O5 — pagination over a deterministic ordering (ref `index.html:263-265`). */
object Paginate {
  def apply(df: DataFrame, order: Seq[Column], page: Int, pageSize: Int): DataFrame =
    df.orderBy(order: _*).offset((page - 1) * pageSize).limit(pageSize)
}

/** A11 — pivoted counts (project x estado matrix) with optional
  * percent-of-row-total normalization (ref `index_2.html:320-335,373-377`).
  * Each pivot value is one conditional count, `count(CASE WHEN pivotKey =
  * v THEN 1 END) AS v`, so the matrix is a single aggregation with no
  * collect for the values and no fill: a row key whose rows all miss the
  * list (or have a null pivot key) still gets its row, with 0 counts
  * (null percentages). */
object PivotCounts {
  /** The matrix in no particular order. */
  def counts(df: DataFrame, rowKey: String, pivotKey: String,
             pivotValues: Seq[String], percent: Boolean = false): DataFrame = {
    val cells = pivotValues.map(v => count(when(col(pivotKey) === v, 1)).as(v))
    val counts = df.groupBy(rowKey).agg(cells.head, cells.tail: _*)
    if (!percent) counts
    else {
      // materialize the row total BEFORE overwriting any pivot column,
      // otherwise later columns normalize against already-percented ones.
      // A row key with no listed value has total 0: its percentages are
      // null, not a DIVIDE_BY_ZERO that fails the query under ANSI.
      val withTotal = counts.withColumn("__total",
        nullif(pivotValues.map(col).reduce(_ + _), lit(0L)))
      pivotValues.foldLeft(withTotal) { (acc, v) =>
        acc.withColumn(v, round(lit(100.0) * col(v) / col("__total"), 2))
      }.drop("__total")
    }
  }

  /** The matrix ordered by the row key: a global sort, since the row-key
    * domain of a general input is unbounded. */
  def apply(df: DataFrame, rowKey: String, pivotKey: String,
            pivotValues: Seq[String], percent: Boolean = false): DataFrame =
    counts(df, rowKey, pivotKey, pivotValues, percent).orderBy(rowKey)
}
