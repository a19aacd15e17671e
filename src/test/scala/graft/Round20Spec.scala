package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Md5BytesExpr, Md5Prefix, Md5PrefixExpr}
import graft.operators.{Checkpoints, LanedPrefix}

/** Round-20 optimization pins: the full-digest binary fingerprint, the
  * size-conditional pin, superseded-pin release, and the driver-fused
  * laned offsets/totals. */
class Round20Spec extends SparkTestBase {

  // ---- Md5Bytes: the 128-bit gram key ------------------------------

  test("Md5Prefix.bytes equals unhex(md5(x)) bit-for-bit, null in " +
    "null out") {
    import spark.implicits._
    val strs = Seq("", "a", "two words", "unicode: café π 北京",
      "0" * 500, "a b c d e f g h") ++
      (1 to 300).map(i => s"gram $i ${i * 2654435761L}")
    val df = strs.toDF("s")
    val bad = df.select(col("s"), unhex(md5(col("s"))).as("expect"),
        Md5Prefix.bytes(col("s")).as("got"))
      .where(not(col("expect") <=> col("got"))).count()
    assert(bad === 0L)
    val rows = Seq(Some("x"), None).toDF("s")
      .select(Md5Prefix.bytes(col("s")).as("b")).collect()
    assert(rows.count(_.isNullAt(0)) === 1)
  }

  test("Md5BytesExpr and Md5PrefixExpr interpreted eval (nullSafeEval " +
    "path, no codegen) match the digest") {
    val s = "interpreted path probe"
    val utf8 = UTF8String.fromString(s)
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes)
    // Md5BytesExpr.eval on a literal child — the interpreted path the
    // round-19 advisory flagged as untested for Md5PrefixExpr
    val got = Md5BytesExpr(Literal(bytes, BinaryType))
      .eval(InternalRow.empty).asInstanceOf[Array[Byte]]
    assert(java.util.Arrays.equals(got, expect))
    val gotPrefix = Md5PrefixExpr(Literal(bytes, BinaryType), 15)
      .eval(InternalRow.empty).asInstanceOf[Long]
    val expectPrefix = java.lang.Long.parseLong(
      expect.map(b => f"$b%02x").mkString.take(15), 16)
    assert(gotPrefix === expectPrefix)
    assert(utf8.toString === s) // silence unused warning; utf8 kept for doc
  }

  // ---- size-conditional pin ----------------------------------------

  private def withPinThreshold[A](bytes: Long)(body: => A): A = {
    val key = "spark.graft.pin.aboveBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("pinIfLarge skips a small file-backed frame and pins once the " +
    "threshold says its bytes are large enough") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // sf0.001 documents is a few kB — far under the 64 MB default
    val skipped = Checkpoints.pinIfLarge(docs, None)
    assert(!skipped.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "a small file-backed frame must not pin")
    // forcing the threshold to 1 byte flips the same call to a pin
    withPinThreshold(1L) {
      val pinned = Checkpoints.pinIfLarge(docs, None)
      assert(pinned.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        "over-threshold input must pin")
      Checkpoints.release(pinned)
    }
  }

  test("a malformed spark.graft.pin.aboveBytes fails naming the key " +
    "and the value") {
    val key = "spark.graft.pin.aboveBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "32MB")
    try {
      // a file leaf and a leaf with no byte statistic alike
      Seq(spark.read.parquet(s"$sf/documents.parquet"),
        spark.range(10).toDF("id")).foreach { df =>
        val e = intercept[IllegalArgumentException] {
          Checkpoints.pinIfLarge(df, None)
        }
        assert(e.getMessage.contains(key) && e.getMessage.contains("'32MB'"),
          e.getMessage)
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("pinIfLarge treats unknown leaf bytes as large (scale-safe " +
    "default) and reads persisted-block bytes for pinned parents") {
    import spark.implicits._
    // a Range leaf has no file or block statistic -> assume large, pin
    val unknown = Checkpoints.pinIfLarge(
      spark.range(100).toDF("id"), None)
    assert(unknown.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    // a frame over that pin: the probe now sees the tiny persisted
    // blocks (ground truth) and skips
    val derived = Checkpoints.pinIfLarge(
      unknown.select((col("id") * 2).as("v")).distinct(), None)
    assert(!derived.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "kB-sized pinned-parent input must not pin again")
    Checkpoints.release(unknown)
    val xs = Seq(1, 2, 3).toDF("x") // keep implicits used
    assert(xs.count() === 3)
  }

  test("release frees a pinned frame's storage blocks") {
    val pinned = Checkpoints.pin(
      spark.range(1000).toDF("id"), None)
    val rddId = pinned.queryExecution.analyzed
      .asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId),
      "pin must persist blocks")
    Checkpoints.release(pinned)
    // unpersist(blocking = false): poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    var gone = false
    while (!gone && System.nanoTime() < deadline) {
      gone = !spark.sparkContext.getRDDStorageInfo.exists(_.id == rddId)
      if (!gone) Thread.sleep(50)
    }
    assert(gone, "release must unpersist the pinned blocks")
  }

  // ---- driver-fused laned offsets/totals ---------------------------

  test("fused withPrefix offsets/totals equal a brute-force global " +
    "prefix, including a decimal sum column") {
    import spark.implicits._
    val vals = (1 to 97).map(v =>
        (v.toDouble * 1.5, (v % 7 + 1).toLong))
      .toDF("v", "c")
      .withColumn("vc", (col("v") * col("c")).cast("decimal(38,0)"))
    val (cum, totals) = LanedPrefix.withPrefix(vals, "v",
      Seq("c", "vc"), k = 64, nLanes = 4, inclusive = false)
    val got = cum.select("v", "c_cum", "vc_cum").collect()
      .map(r => (r.getDouble(0), r.getLong(1),
        r.getDecimal(2).longValueExact())).sortBy(_._1)
    val rows = vals.select("v", "c", "vc").collect()
      .map(r => (r.getDouble(0), r.getLong(1),
        r.getDecimal(2).longValueExact())).sortBy(_._1)
    var (cAcc, vcAcc) = (0L, 0L)
    rows.zip(got).foreach { case ((v, c, vc), (gv, gc, gvc)) =>
      assert(gv === v)
      assert(gc === cAcc, s"c prefix at v=$v")
      assert(gvc === vcAcc, s"vc prefix at v=$v")
      cAcc += c; vcAcc += vc
    }
    val t = totals.collect()(0)
    assert(t.getLong(t.fieldIndex("c_tot")) === cAcc)
    assert(t.getDecimal(t.fieldIndex("vc_tot")).longValueExact() === vcAcc)
  }

  test("fused withPrefix over empty input: empty prefix frame, one " +
    "all-null totals row (agg-over-empty semantics)") {
    import spark.implicits._
    val vals = Seq.empty[(Double, Long)].toDF("v", "c")
    val (cum, totals) = LanedPrefix.withPrefix(vals, "v",
      Seq("c"), k = 64, nLanes = 4, inclusive = false)
    assert(cum.count() === 0L)
    val t = totals.collect()
    assert(t.length === 1 && t(0).isNullAt(0))
  }

  test("fused grouped totals carry the broadcast hint under the cap " +
    "and group-exact sums") {
    import spark.implicits._
    val vals = (0 until 5).flatMap(g => (1 to 20).map(v =>
        (s"g$g", v.toDouble + g, (v % 3 + 1).toLong)))
      .toDF("g", "v", "c")
      .groupBy("g", "v").agg(sum("c").as("c"))
    val (_, totals) = LanedPrefix.withPrefixGrouped(vals, "g", "v",
      Seq("c"), k = 64, nLanes = 4, inclusive = false)
    val expect = vals.groupBy("g").agg(sum("c").as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = totals.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }
}
