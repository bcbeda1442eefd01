package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_signature(sh, numHashes, portable)` — the MinHash signature
  * of a shingle array as ONE native expression: for each hash index
  * i in [0, numHashes), the least hash of i and a shingle over the set.
  *
  * Two hash families, each bit-identical to its built-ins form
  * (PropertySpec holds them equal):
  *  - xxhash64 (`portable = false`, the scale path): Spark's
  *    `xxhash64(s, i)`. Its seed chain is hash(s, 42) then hash(i, ·),
  *    so each shingle's bytes are hashed ONCE and every index costs one
  *    `XXH64.hashInt`. A null shingle hashes as the bare seed.
  *  - md5 (`portable = true`): `conv(substr(md5(i || ':' || s), 1, 15),
  *    16, 10)`, the 60-bit [[graft.operators.Routing.portableHash]]
  *    family, replayable by any engine with md5. A null shingle has no
  *    hash.
  * The built-ins form, `transform(sequence(0, numHashes - 1), i =>
  * array_min(transform(sh, s => hash(s, i))))`, is two nested lambdas:
  * a `CodegenFallback` that re-hashed every shingle's bytes for each of
  * the numHashes indices, interpreted.
  *
  * An empty or null shingle array gives numHashes nulls, as
  * `array_min` of an empty (or null) array does.
  */
case class MinhashSignature(child: Expression, numHashes: Int, portable: Boolean)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(numHashes > 0, s"minhash_signature: numHashes must be positive (got $numHashes)")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def eval(input: InternalRow): Any =
    MinhashSignature.compute(child.eval(input).asInstanceOf[ArrayData], numHashes, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.MinhashSignature.compute(
          ${c.isNull} ? null : ${c.value}, $numHashes, $portable);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

object MinhashSignature {

  /** Called from generated code — must stay public+static. */
  def compute(sh: ArrayData, numHashes: Int, portable: Boolean): ArrayData = {
    val n = if (sh == null) 0 else sh.numElements
    if (n == 0) new GenericArrayData(new Array[Any](numHashes))
    else if (portable) portableMins(sh, n, numHashes)
    else {
      val out = new Array[Long](numHashes)
      xxhashMins(sh, n, out)
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  private def xxhashMins(sh: ArrayData, n: Int, out: Array[Long]): Unit = {
    val seeds = new Array[Long](n)
    var j = 0
    while (j < n) {
      seeds(j) =
        if (sh.isNullAt(j)) 42L
        else {
          val s = sh.getUTF8String(j)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      j += 1
    }
    var i = 0
    while (i < out.length) {
      var min = Long.MaxValue
      j = 0
      while (j < n) {
        val h = XXH64.hashInt(i, seeds(j))
        if (h < min) min = h
        j += 1
      }
      out(i) = min
      i += 1
    }
  }

  private def portableMins(sh: ArrayData, n: Int, numHashes: Int): ArrayData = {
    val out = new Array[Any](numHashes)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val bytes = Array.tabulate(n)(j =>
      if (sh.isNullAt(j)) null else sh.getUTF8String(j).getBytes)
    if (bytes.forall(_ == null)) return new GenericArrayData(out)
    var i = 0
    while (i < out.length) {
      val prefix = s"$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var min = Long.MaxValue
      var j = 0
      while (j < n) {
        if (bytes(j) != null) {
          md5.update(prefix)
          val d = md5.digest(bytes(j))
          // the first 15 hex digits: 7 bytes and the high nibble of the 8th
          var h = 0L
          var k = 0
          while (k < 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
          h = (h << 4) | ((d(7) & 0xffL) >>> 4)
          if (h < min) min = h
        }
        j += 1
      }
      out(i) = min
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def minhash_signature(sh: Column, numHashes: Int, portable: Boolean): Column =
    GraftColumns.column(MinhashSignature(GraftColumns.expression(sh), numHashes, portable))
}
