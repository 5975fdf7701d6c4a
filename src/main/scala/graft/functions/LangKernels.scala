package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stopword-based language scoring as native kernels (the declarative
  * filter/array_contains formulation tokenizes once per language per row).
  * Single source of truth for the stopword lists — [[graft.operators.TextOps]]
  * delegates here.
  */
object Stopwords {

  /** Tiny per-language stopword lists; deliberately small and hard-coded —
    * language ID here is a cheap distributed heuristic, not a model.
    */
  val lists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "that", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"))

  /** Language codes in the fixed order of the ratios array. */
  val langs: IndexedSeq[String] = lists.keys.toIndexedSeq.sorted

  private val sets: Array[java.util.HashSet[String]] = langs.map { l =>
    val s = new java.util.HashSet[String]()
    lists(l).foreach(s.add)
    s
  }.toArray

  /** Per-language stopword-hit ratios over lowercased whitespace tokens. */
  def ratios(text: UTF8String): Array[Double] = {
    val s = TextVectorKernels.lower(text)
    val hits = new Array[Int](langs.length)
    var nTokens = 0
    var i = 0
    val n = s.length
    val sb = new java.lang.StringBuilder(16)
    while (i <= n) {
      if (i == n || TextVectorKernels.isWs(s.charAt(i))) {
        if (sb.length() > 0) {
          nTokens += 1
          val tok = sb.toString
          var l = 0
          while (l < hits.length) {
            if (sets(l).contains(tok)) hits(l) += 1
            l += 1
          }
          sb.setLength(0)
        }
      } else sb.append(s.charAt(i))
      i += 1
    }
    val denom = math.max(nTokens, 1).toDouble
    hits.map(_ / denom)
  }

  def ratiosArrayData(text: UTF8String): GenericArrayData =
    new GenericArrayData(ratios(text))

  /** Language ID: CJK density ≥ threshold → zh; else the max-ratio language
    * (ties → lexicographically larger code); all-zero → und.
    */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    var cjk = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '一' && c <= '鿿') cjk += 1
      i += 1
    }
    if (s.nonEmpty && cjk.toDouble / s.length > 0.05) return UTF8String.fromString("zh")
    val r = ratios(text)
    var best = -1
    var bestV = 0.0
    var l = 0
    while (l < r.length) {
      if (r(l) >= bestV && r(l) > 0) { best = l; bestV = r(l) } // >= keeps later (larger) lang on tie
      l += 1
    }
    UTF8String.fromString(if (best < 0) "und" else Stopwords.langs(best))
  }
}

/** array<double> per-language stopword ratios (order: [[Stopwords.langs]]). */
case class StopwordRatios(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"stopword_ratios requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    Stopwords.ratiosArrayData(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Stopwords.ratiosArrayData($c)")
  override protected def withNewChildInternal(newChild: Expression): StopwordRatios =
    copy(child = newChild)
  override def prettyName: String = "stopword_ratios"
}

/** Heuristic language code of a text column. */
case class LangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_id requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    Stopwords.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Stopwords.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
  override def prettyName: String = "lang_id"
}

object LangExpressions {
  def stopword_ratios(c: Column): Column = Registry.call("stopword_ratios", c)
  def lang_id(c: Column): Column = Registry.call("lang_id", c)
}
