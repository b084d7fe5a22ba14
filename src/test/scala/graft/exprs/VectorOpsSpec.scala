package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CosineSim]] must be value-equal (bit-equal doubles) to the HOF fold
  * it replaced, on float arrays, double arrays, mixed, nulls, null
  * elements, length mismatches, zero vectors and empties. */
class VectorOpsSpec extends SparkSpec {

  import spark.implicits._

  /** The replaced fold, verbatim. */
  private def hofCosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    dot / (sqrt(na) * sqrt(nb))
  }

  private val rnd = new scala.util.Random(42)
  private def vec(n: Int): Seq[java.lang.Float] =
    (0 until n).map(_ => java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1))

  test("CosineSim bit-equals the HOF fold on float arrays incl. edge cases") {
    val rows: Seq[(Long, Seq[java.lang.Float], Seq[java.lang.Float])] =
      (0L until 50L).map(i => (i, vec(64), vec(64))) ++ Seq(
        (100L, null, vec(4)),
        (101L, vec(4), null),
        (103L, vec(3), vec(5)), // zip_with pads -> null dot
        (104L, Seq[java.lang.Float](1.0f, null, 2.0f), vec(3)) // null element
      )
    val df = rows.toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
    val out = df.select(col("id"),
        hofCosine(col("a"), col("b")).as("want"),
        VectorOps.cosineSim(col("a"), col("b")).as("got"))
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val want = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      val got = if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
      // bit-compare so NaN == NaN and -0.0 != 0.0 are judged exactly
      val wantBits = if (want == null) -1L else java.lang.Double.doubleToRawLongBits(want)
      val gotBits = if (got == null) -1L else java.lang.Double.doubleToRawLongBits(got)
      assert(gotBits === wantBits, s"id=$id want=$want got=$got")
    }
  }

  test("CosineSim raises on zero-norm/empty vectors exactly as the ANSI fold raises") {
    val zeros = Seq(
      (1L, Seq(0f, 0f), Seq(0f, 0f)),
      (2L, Seq(1f, 2f), Seq(0f, 0f)),
      (3L, Seq.empty[Float], Seq.empty[Float])
    ).toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
    // the replaced fold raises [DIVIDE_BY_ZERO] under ANSI mode...
    val e1 = intercept[Exception] {
      zeros.select(hofCosine(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage.contains("DIVIDE_BY_ZERO"))
    // ...and the kernel mirrors the loud failure
    val e2 = intercept[Exception] {
      zeros.select(VectorOps.cosineSim(col("a"), col("b"))).collect()
    }
    assert(e2.getMessage.contains("DIVIDE_BY_ZERO"))
  }

  test("CosineSim yields null on zero-norm with ANSI off, like the fold's Divide") {
    val zeros = Seq((1L, Seq(0f, 0f), Seq(1f, 2f))).toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val want = zeros.select(hofCosine(col("a"), col("b"))).collect()
      val got = zeros.select(VectorOps.cosineSim(col("a"), col("b"))).collect()
      assert(want.head.isNullAt(0), "fold Divide yields null under non-ANSI")
      assert(got.head.isNullAt(0), "kernel mirrors the non-ANSI null")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("CosineSim rejects non-float-array arguments at analysis") {
    val df = Seq((Seq(1, 2), Seq(1f, 2f), "x")).toDF("ai", "b", "s")
    // array<int> and a non-array each fail when the plan is analysed,
    // before any codegen or execution
    Seq(VectorOps.cosineSim(col("ai"), col("b")),
        VectorOps.cosineSim(col("b"), col("s"))).foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
  }

  test("CosineSim handles double-array inputs (the IVF centroid side)") {
    val df = (0L until 20L).map(i => (i, vec(8), vec(8).map(f =>
        java.lang.Double.valueOf(f.toDouble))))
      .toDF("id", "a", "c")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("c", col("c").cast("array<double>"))
    val out = df.select(
        hofCosine(col("a"), col("c")).as("want"),
        VectorOps.cosineSim(col("a"), col("c")).as("got"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
  }
}
