package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

object WordNgramsKernel {
  /** The word n-grams of `s` in order, each gram its n words joined by one
    * space. Words are the maximal runs of bytes other than ' ' (0x20 never
    * occurs inside a multi-byte UTF-8 sequence, so byte offsets are safe);
    * on normalized text that is exactly split(s, ' '). Fewer than n words
    * (the empty string included) yields an empty array. One scan of the
    * string, then one copy per gram. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val b = s.getBytes
    val starts = new scala.collection.mutable.ArrayBuilder.ofInt
    val ends = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    while (i < b.length) {
      while (i < b.length && b(i) == ' ') i += 1
      if (i < b.length) {
        starts += i
        while (i < b.length && b(i) != ' ') i += 1
        ends += i
      }
    }
    val st = starts.result()
    val en = ends.result()
    val out = new Array[Any](math.max(st.length - n + 1, 0))
    var g = 0
    while (g < out.length) {
      val last = g + n - 1
      var len = n - 1 // the joining spaces
      var k = g
      while (k <= last) { len += en(k) - st(k); k += 1 }
      val gram = new Array[Byte](len)
      var at = 0
      k = g
      while (k <= last) {
        if (k > g) { gram(at) = ' '; at += 1 }
        System.arraycopy(b, st(k), gram, at, en(k) - st(k))
        at += en(k) - st(k)
        k += 1
      }
      out(g) = UTF8String.fromBytes(gram)
      g += 1
    }
    new GenericArrayData(out)
  }
}

/** Native word n-grams: `word_ngrams(text, n)` — see
  * [[WordNgramsKernel.compute]]. The built-ins formulation (a transform
  * over positions slicing a split array) re-evaluated the whole split
  * inside the lambda once per position; this is one pass per row. */
case class WordNgramsExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right) match {
    case (StringType, Literal(n: Int, IntegerType)) if n > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "word_ngrams expects (string, positive int literal n)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any =
    WordNgramsKernel.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.WordNgramsKernel.compute($a, $b);")

  override def prettyName: String = "word_ngrams"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgramsExpr =
    copy(left = newLeft, right = newRight)
}
