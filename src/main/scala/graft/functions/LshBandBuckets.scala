package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** `lsh_band_buckets(sig, bands, rowsPerBand)` — a MinHash signature's
  * LSH band buckets as ONE native expression: per band b in [0, bands),
  * the struct (band = b, bucket = `xxhash64(b, sig[b * rowsPerBand],
  * …, sig[b * rowsPerBand + rowsPerBand - 1])`).
  *
  * Bit-identical to its built-ins form, a `transform` lambda over
  * `sequence(0, bands - 1)` (a `CodegenFallback`; PropertySpec holds the
  * two equal): the hash chain starts at Spark's seed 42 and skips a null
  * value, so a null signature, or a signature of nulls, buckets each
  * band by its index alone. A non-null signature shorter than
  * bands × rowsPerBand is an error, as ANSI `element_at` past the end is.
  */
case class LshBandBuckets(child: Expression, bands: Int, rowsPerBand: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(bands > 0 && rowsPerBand > 0,
    s"lsh_band_buckets: bands and rowsPerBand must be positive (got $bands, $rowsPerBand)")

  override def dataType: DataType = LshBandBuckets.dataType
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def eval(input: InternalRow): Any =
    LshBandBuckets.compute(child.eval(input).asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.LshBandBuckets.compute(
          ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandBuckets =
    copy(child = newChild)
  override def prettyName: String = "lsh_band_buckets"
}

object LshBandBuckets {

  val dataType: ArrayType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", LongType, nullable = false))), containsNull = false)

  /** Called from generated code — must stay public+static. */
  def compute(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    if (sig != null && sig.numElements < bands * rowsPerBand)
      throw new ArrayIndexOutOfBoundsException(
        s"lsh_band_buckets: a signature of ${sig.numElements} values has no " +
          s"$bands bands of $rowsPerBand")
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = XXH64.hashInt(b, 42L)
      if (sig != null) {
        var r = 0
        while (r < rowsPerBand) {
          val at = b * rowsPerBand + r
          if (!sig.isNullAt(at)) h = XXH64.hashLong(sig.getLong(at), h)
          r += 1
        }
      }
      out(b) = new GenericInternalRow(Array[Any](b, h))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def lsh_band_buckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    GraftColumns.column(LshBandBuckets(GraftColumns.expression(sig), bands, rowsPerBand))
}
