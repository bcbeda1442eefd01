package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `curation_scores(text)` — the per-document curation features as ONE
  * native expression: the struct (lang, quality, rep_ratio, n_toks) of
  * [[graft.ext.TextStats.langId]], [[graft.ext.TextStats.qualityScore]],
  * [[graft.ext.Curation.repetitionRatio]] and
  * [[graft.ext.TextStats.tokenCount]], from one tokenize pass.
  *
  * The built-ins formulation scores each language marker set, the
  * stopword ratio and the token count with `filter` lambdas over
  * `split(lower(text))`. Every higher-order function is a
  * `CodegenFallback` in Spark 4.1, so those lambdas ran interpreted and
  * kept the gate Filter and its Project out of whole-stage codegen.
  *
  * Bit-identical to the built-ins forms (PropertySpec holds them equal):
  *  - tokens: [[WordShingles.tokenize]], the lowercased [a-z0-9]+ runs;
  *  - lang: 'zh' if any char is in U+4E00..U+9FFF, else the language
  *    whose marker set counts most tokens (ties go to the
  *    lexicographically greatest language, `greatest(struct(score,
  *    lang))`), 'und' when no marker matches;
  *  - quality: length band (code points) + stopword presence +
  *    0.2 - punctuation excess, each ratio rounded HALF_UP to 6 decimals
  *    before its threshold, as Spark's `round` does;
  *  - rep_ratio: 1 - distinct/total tokens, rounded;
  *  - n_toks: the token count.
  * Null text gives ('und', 0.2, null, null), as the built-ins do under
  * ANSI `size(null) = null`; the struct itself is never null.
  */
case class CurationScores(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {

  override def dataType: DataType = CurationScores.schema
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def eval(input: InternalRow): Any =
    CurationScores.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.CurationScores.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CurationScores =
    copy(child = newChild)
  override def prettyName: String = "curation_scores"
}

object CurationScores {

  val schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = true),
    StructField("rep_ratio", DoubleType, nullable = true),
    StructField("n_toks", IntegerType, nullable = true)))

  // languages in ascending name order: a later language wins a tie
  private val markers: Array[(UTF8String, java.util.HashSet[String])] =
    graft.ext.TextStats.langMarkers.toSeq.sortBy(_._1).map { case (l, ws) =>
      UTF8String.fromString(l) -> new java.util.HashSet[String](
        scala.jdk.CollectionConverters.SeqHasAsJava(ws).asJava)
    }.toArray

  private val stopwords = new java.util.HashSet[String](
    scala.jdk.CollectionConverters.SeqHasAsJava(graft.ext.TextStats.englishStopwords).asJava)

  private val Zh = UTF8String.fromString("zh")
  private val Und = UTF8String.fromString("und")

  private val nullScores: InternalRow = new GenericInternalRow(Array[Any](Und, 0.2d, null, null))

  // The gate Filter reads three fields of a document's scores and the
  // Project above it two more, each through its own call: a Filter
  // shares no subexpression in generated code. So each task thread
  // keeps its last document (a copy: the input may point into a reused
  // row buffer) and its scores, and a repeated call costs one compare.
  private final class Last(var text: UTF8String, var scores: InternalRow)
  private val last = ThreadLocal.withInitial[Last](() => new Last(null, null))

  /** Called from generated code — must stay public+static. */
  def compute(text: UTF8String): InternalRow =
    if (text == null) nullScores
    else {
      val l = last.get
      if (text != l.text) {
        l.scores = scoresOf(text)
        l.text = text.clone()
      }
      l.scores
    }

  private def scoresOf(text: UTF8String): InternalRow = {
    val lowered = text.toLowerCase.toString
    val toks = WordShingles.tokensOf(lowered)
    val n = toks.length
    val counts = new Array[Int](markers.length)
    var nStop = 0
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < n) {
      val t = toks(i)
      var l = 0
      while (l < markers.length) {
        if (markers(l)._2.contains(t)) counts(l) += 1
        l += 1
      }
      if (stopwords.contains(t)) nStop += 1
      distinct.add(t)
      i += 1
    }
    var best = 0
    var l = 1
    while (l < markers.length) {
      if (counts(l) >= counts(best)) best = l
      l += 1
    }
    val lang =
      if (hasCjk(lowered)) Zh
      else if (counts(best) > 0) markers(best)._1
      else Und

    val len = text.numChars
    var nPunct = 0
    var b = 0
    val nb = text.numBytes
    while (b < nb) {
      val c = text.getByte(b)
      if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') nPunct += 1
      b += 1
    }
    val lenScore =
      if (len >= 100 && len <= 20000) 0.5d
      else if (len >= 20 && len <= 99) 0.25d
      else 0.0d
    val stopScore = if (NearestCells.round6(nStop.toDouble / math.max(n, 1)) >= 0.05) 0.3d else 0.0d
    val punctPenalty = if (NearestCells.round6(nPunct.toDouble / math.max(len, 1)) > 0.1) 0.2d else 0.0d
    val quality = NearestCells.round6(lenScore + stopScore + 0.2d - punctPenalty)
    val repRatio = NearestCells.round6(1.0d - distinct.size.toDouble / math.max(n, 1))
    new GenericInternalRow(Array[Any](lang, quality, repRatio, n))
  }

  // lowercasing maps no character into or out of the CJK block
  private def hasCjk(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '\u4e00' && c <= '\u9fff') return true
      i += 1
    }
    false
  }

  /** Column API. */
  def curation_scores(text: Column): Column =
    GraftColumns.column(CurationScores(GraftColumns.expression(text)))
}
