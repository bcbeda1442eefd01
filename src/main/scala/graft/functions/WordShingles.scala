package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_shingles(text, k)` — distinct k-word shingles of lowercased
  * [a-z0-9]+ tokens, as ONE native expression.
  *
  * The built-ins formulation (`transform(sequence(...), i =>
  * concat_ws(" ", slice(tokens(text), i+1, k)))`) re-evaluates the
  * tokenization INSIDE the lambda — Catalyst does not CSE across lambda
  * boundaries — so every shingle re-splits the whole document: O(len *
  * shingles) per row (measured ~6s warm on 5k docs). This expression
  * tokenizes once and emits shingles in O(len): single tokenize pass,
  * first-occurrence-ordered distinct (array_distinct semantics).
  *
  * Token/shingle semantics are identical to the oracle SQL
  * (`string_split_regex(lower(text), '[^a-z0-9]+')`, empties filtered).
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression
  with ImplicitCastInputTypes {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

object WordShingles {

  /** Lowercased [a-z0-9]+ token runs of `text`. */
  def tokenize(text: UTF8String): Array[String] =
    tokensOf(text.toLowerCase.toString)

  /** The [a-z0-9]+ token runs of an already lowercased `s`. */
  def tokensOf(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && !isTokenChar(s.charAt(i))) i += 1
      val start = i
      while (i < n && isTokenChar(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  @inline private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Called from generated code — must stay public+static. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(text)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + k <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(arr)
  }

  /** Column API. */
  def word_shingles(text: Column, k: Int): Column =
    GraftColumns.column(WordShingles(GraftColumns.expression(text), k))
}
