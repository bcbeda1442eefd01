package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** `nearest_cells(vec)` — the `n` centroid ids nearest (by cosine) to an
  * array<double> vector, ordered best-first.
  *
  * The centroid matrix rides along as a codegen REFERENCE OBJECT
  * (`ctx.addReferenceObj`), not as literals: inlining nlist x dim doubles
  * into the expression tree makes janino compile a multi-thousand-line
  * class per query instantiation (measured ~8s cold per IVF plan build).
  * Here the generated code is one static call regardless of nlist/dim.
  */
case class NearestCells(child: Expression, cents: Array[Array[Double]], n: Int,
                        rounded: Boolean = false)
  extends UnaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override protected def nullSafeEval(input: Any): Any =
    NearestCells.compute(input.asInstanceOf[ArrayData], cents, n, rounded)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCells.compute($c, $ref, $n, $rounded)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells"

  // centroid identity for semanticEquals/codegen cache: content-based
  override lazy val canonicalized: Expression =
    copy(child = child.canonicalized)
}

object NearestCells {

  /** Called from generated code — must stay public+static.
    *
    * `rounded = true` ranks by the cosine ROUNDED to 6dp (HALF_UP away
    * from zero — the exact `round(x, 6)` semantics Spark and DuckDB
    * share), ties to the lowest cell index: the ENGINE-PORTABLE
    * assignment an independent SQL replay reproduces exactly (see
    * [[graft.ext.Dedup.semanticCells]]). Unrounded (the default) keeps
    * the raw-double argmax for the IVF family, where assignment is an
    * internal detail verified by recall bounds, not replay.
    */
  def compute(vec: ArrayData, cents: Array[Array[Double]], n: Int,
              rounded: Boolean = false): ArrayData = {
    val dim = vec.numElements()
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      var dot = 0.0; var nv = 0.0; var nw = 0.0
      var i = 0
      val m = math.min(dim, w.length)
      while (i < m) {
        val x = vec.getDouble(i); val y = w(i)
        dot += x * y; nv += x * x; nw += y * y
        i += 1
      }
      val s = dot / (math.sqrt(nv) * math.sqrt(nw))
      // Rounded (portable) variant: a NaN cosine (zero-norm vector or
      // zero-norm seed) must rank GREATER-THAN-ALL, because the SQL
      // replay `ORDER BY round(sim, 6) DESC, idx ASC` sorts NaN first
      // in BOTH Spark and DuckDB. The raw scan below would otherwise
      // keep/skip NaN purely by position (NaN never wins `>` but is
      // never displaced once picked first) — divergent for degenerate
      // vectors. +Inf is strictly above every real cosine ([-1, 1]),
      // and all-NaN ties fall to the lowest index, exactly the replay.
      sims(c) =
        if (!rounded) s
        else if (java.lang.Double.isNaN(s)) Double.PositiveInfinity
        else round6(s)
      c += 1
    }
    // top-n by sim desc, cell id asc (selection over nlist entries)
    val k = math.min(n, cents.length)
    val picked = new Array[Any](k)
    val used = new Array[Boolean](cents.length)
    var p = 0
    while (p < k) {
      var best = -1
      var c2 = 0
      while (c2 < cents.length) {
        if (!used(c2) && (best < 0 || sims(c2) > sims(best))) best = c2
        c2 += 1
      }
      used(best) = true
      picked(p) = best
      p += 1
    }
    new GenericArrayData(picked)
  }

  /** `round(x, 6)` as Spark/DuckDB compute it: HALF_UP away from zero
    * via BigDecimal — bit-agreement with the SQL `round` both engines
    * apply, which `math.rint`-style half-to-even would break at exact
    * .5-ulp boundaries.
    */
  private[functions] def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Column API: `vec` must be array<double>. */
  def nearest_cells(vec: Column, cents: Array[Array[Double]], n: Int): Column =
    GraftColumns.column(NearestCells(GraftColumns.expression(vec), cents, n))

  /** The engine-portable variant: rank by 6dp-rounded cosine, ties to
    * the lowest cell index (replayable as
    * `ORDER BY round(sim, 6) DESC, idx ASC` in any SQL engine).
    * Degenerate vectors are part of the contract: a NaN cosine
    * (zero-norm input or seed) ranks greater-than-all — the NaN-first
    * DESC ordering Spark and DuckDB share — so the replay holds for
    * zero vectors too.
    */
  def nearest_cells_rounded(vec: Column, cents: Array[Array[Double]],
                            n: Int): Column =
    GraftColumns.column(NearestCells(GraftColumns.expression(vec), cents, n,
      rounded = true))
}
