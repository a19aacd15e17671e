package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The one place a frame crosses to the driver "if it is under a cap".
  * A single `limit(cap + 1)` action fetches AND sizes the frame, so the
  * limit bounds what lands on the driver BEFORE the guard can object:
  * collecting first and checking afterwards would materialize exactly
  * the blow-up the cap exists to prevent. One extra row detects
  * overflow; under the cap the limit drops nothing. */
object BoundedCollect {

  /** The rows of `ds` when there are at most `cap` of them, else `None`
    * (having fetched at most `cap + 1` rows). `cap` is clamped to the
    * range `limit` takes. */
  def apply[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    val n = math.min(cap, (Int.MaxValue - 2).toLong).toInt
    val rows = ds.limit(n + 1).collect()
    if (rows.length <= n) Some(rows) else None
  }

  /** [[apply]], failing over the cap with an `IllegalArgumentException`
    * that reads `"<site>: more than <cap> <what> — <hint>"`. */
  def orFail[T](ds: Dataset[T], cap: Long, site: String, what: String,
                hint: String): Array[T] =
    apply(ds, cap).getOrElse(throw new IllegalArgumentException(
      s"$site: more than $cap $what — $hint"))

  /** Whether the driver can group collected values of type `dt` by
    * value: atomic types other than binary, which collects as
    * `Array[Byte]` and compares by reference. */
  def groupsByValue(dt: DataType): Boolean =
    dt != BinaryType && Shim.isAtomic(dt)
}
