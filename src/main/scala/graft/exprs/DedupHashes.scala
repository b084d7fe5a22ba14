package graft.exprs

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row kernels for the dedup hash pipelines (optimization guide
  * §1.2 step 2 — per-task work after the distributed shape is right).
  *
  * The HOF formulations (`transform(sh, x => md5(x))`, per-slice
  * `array_min(transform(...))`, explode + 16 vote sums) evaluate an
  * interpreted lambda chain per array element and allocate the full hex
  * string of every digest; MD5 via Spark's `md5` additionally allocates a
  * fresh MessageDigest and a hex String per call. These expressions compute
  * the identical values in one tight loop per row — one reused digest, no
  * per-element string churn — and are drop-in equal by construction:
  *
  *  - [[MinHashSigs]](sh) ≡ the 4 per-band signatures
  *    `concat(min slice(md5(x), off, 8), min slice(..))` with families
  *    h1 = md5(x), h2 = md5(x ~ "~"), band b reading offsets
  *    (16(b mod 2), 16(b mod 2)+8) of h1 for b<2 and of h2 for b≥2. Null
  *    elements are skipped exactly as `array_min` skips them; an
  *    empty/all-null/NULL array yields [null,null,null,null] exactly as the
  *    `concat(array_min(...), ...)` chain nulls out (the downstream
  *    posexplode/explode then emits 4 rows with null sig either way).
  *  - [[SimHash16]](toks) ≡ the explode_outer + 16 × `sum(when(bit,1,-1))`
  *    vote aggregation reassembled as Σ (votes_b > 0) << b: per non-null
  *    token the vote for bit b is ((h >> b) & 1) ? +1 : -1 with h = the
  *    first 4 hex chars of md5(token) as an integer; a null token votes −1
  *    on every bit (`when` null-propagation → otherwise branch); an
  *    empty/NULL token array yields simhash 0 (explode_outer's single null
  *    row votes −1 everywhere → no bit positive — same 0).
  *
  * DedupHashesSpec asserts value-equality against the original HOF
  * formulations on adversarial inputs; the DuckDB oracles of
  * q_minhash_sig/pairs, q_ngram_jaccard and q_simhash pin the semantics
  * end-to-end.
  */
object DedupHashes {

  private val hexDigits = "0123456789abcdef".getBytes

  /** Lowercase-hex encode 16 digest bytes into `out` (32 bytes). */
  private def hexify(digest: Array[Byte], out: Array[Byte]): Unit = {
    var i = 0
    while (i < 16) {
      val b = digest(i) & 0xff
      out(2 * i) = hexDigits(b >>> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
  }

  /** Byte-wise less-than over 8-byte slices a[ao..ao+8) < b[bo..bo+8) —
    * UTF8String binary ordering restricted to equal-length ASCII hex. */
  private def sliceLt(a: Array[Byte], ao: Int, b: Array[Byte], bo: Int): Boolean = {
    var i = 0
    while (i < 8) {
      val x = a(ao + i) & 0xff
      val y = b(bo + i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** The 4 MinHash band signatures of a shingle array; see scaladoc. */
  def minhashSigs(arr: ArrayData): ArrayData = {
    var set = false
    // 8 running minima: slices 0-3 = h1 at offsets 0,8,16,24; 4-7 = h2
    val mins = Array.ofDim[Byte](8, 8)
    if (arr != null) {
      val md = MessageDigest.getInstance("MD5")
      val hex1 = new Array[Byte](32)
      val hex2 = new Array[Byte](32)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val bytes = arr.getUTF8String(i).getBytes
          md.reset()
          md.update(bytes)
          hexify(md.digest(), hex1)
          md.reset()
          md.update(bytes)
          md.update('~'.toByte)
          hexify(md.digest(), hex2)
          if (!set) {
            var s = 0
            while (s < 4) {
              System.arraycopy(hex1, s * 8, mins(s), 0, 8)
              System.arraycopy(hex2, s * 8, mins(s + 4), 0, 8)
              s += 1
            }
            set = true
          } else {
            var s = 0
            while (s < 4) {
              if (sliceLt(hex1, s * 8, mins(s), 0))
                System.arraycopy(hex1, s * 8, mins(s), 0, 8)
              if (sliceLt(hex2, s * 8, mins(s + 4), 0))
                System.arraycopy(hex2, s * 8, mins(s + 4), 0, 8)
              s += 1
            }
          }
        }
        i += 1
      }
    }
    if (!set) new GenericArrayData(Array[Any](null, null, null, null))
    else {
      val out = new Array[Any](4)
      var b = 0
      while (b < 4) {
        val sig = new Array[Byte](16)
        System.arraycopy(mins(2 * b), 0, sig, 0, 8)
        System.arraycopy(mins(2 * b + 1), 0, sig, 8, 8)
        out(b) = UTF8String.fromBytes(sig)
        b += 1
      }
      new GenericArrayData(out)
    }
  }

  /** 16-bit SimHash of a token array; see scaladoc. */
  def simhash16(arr: ArrayData): Long = {
    val votes = new Array[Int](16)
    if (arr != null) {
      val md = MessageDigest.getInstance("MD5")
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) {
          var b = 0
          while (b < 16) { votes(b) -= 1; b += 1 }
        } else {
          md.reset()
          md.update(arr.getUTF8String(i).getBytes)
          val d = md.digest()
          // first 4 hex chars of the digest as an integer = first 2 bytes
          val h = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
          var b = 0
          while (b < 16) {
            votes(b) += (if (((h >>> b) & 1) == 1) 1 else -1)
            b += 1
          }
        }
        i += 1
      }
    }
    var sim = 0L
    var b = 0
    while (b < 16) {
      if (votes(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }

  private val Space = UTF8String.fromString(" ")

  /** Distinct word 3-gram shingles of a token array; ≡
    * `array_distinct(when(size(toks) >= 3, transform(sequence(1, size-2),
    * i => concat_ws(" ", toks[i], toks[i+1], toks[i+2])))
    * .otherwise(array(concat_ws(" ", toks))))`:
    *  - null/short arrays fall to the single-shingle branch (concat_ws
    *    skips a null array / null elements and yields "" for no input),
    *  - 3-grams use concat_ws semantics per gram (null tokens skipped),
    *  - distinct keeps first-occurrence order (array_distinct semantics).
    */
  def shingles3(arr: ArrayData): ArrayData = {
    if (arr == null)
      return new GenericArrayData(Array[Any](UTF8String.concatWs(Space)))
    val n = arr.numElements()
    val get = (i: Int) => if (arr.isNullAt(i)) null else arr.getUTF8String(i)
    if (n < 3) {
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < n) { parts(i) = get(i); i += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(Space, parts: _*)))
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
      var i = 0
      while (i < n - 2) {
        seen.add(UTF8String.concatWs(Space, get(i), get(i + 1), get(i + 2)))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    }
  }

  def minhashSigs(c: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.toColumn(MinHashSigs(ColumnBridge.toExpression(c)))
  }

  def simhash16(c: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.toColumn(SimHash16(ColumnBridge.toExpression(c)))
  }

  def shingles3(c: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.toColumn(Shingles3(ColumnBridge.toExpression(c)))
  }
}

/** array<string> tokens → distinct word 3-gram shingles (array<string>,
  * never null, elements never null — concat_ws semantics). */
case class Shingles3(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    DedupHashes.shingles3(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DedupHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val childGen = child.genCode(ctx)
    val resultCode =
      s"org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = " +
        s"$cls.shingles3(${childGen.isNull} ? null : ${childGen.value});"
    ev.copy(code = code"${childGen.code}\n$resultCode", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)

  override def prettyName: String = "shingles3"
}

/** array<string> shingles → the 4 MinHash band signatures (array<string>,
  * elements null when no non-null shingle exists; never a null array —
  * mirrors the `concat(array_min(..), ..)` null chain so the downstream
  * explode emits 4 rows per doc in every case). */
case class MinHashSigs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    DedupHashes.minhashSigs(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DedupHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val childGen = child.genCode(ctx)
    val resultCode =
      s"org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = " +
        s"$cls.minhashSigs(${childGen.isNull} ? null : ${childGen.value});"
    ev.copy(code = code"${childGen.code}\n$resultCode", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)

  override def prettyName: String = "minhash_sigs"
}

/** array<string> tokens → 16-bit SimHash (long, never null). */
case class SimHash16(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    DedupHashes.simhash16(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DedupHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val childGen = child.genCode(ctx)
    val resultCode =
      s"long ${ev.value} = " +
        s"$cls.simhash16(${childGen.isNull} ? null : ${childGen.value});"
    ev.copy(code = code"${childGen.code}\n$resultCode", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)

  override def prettyName: String = "simhash16"
}
