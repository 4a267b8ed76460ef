package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused stopword language-ID kernel — the exact algebra of
  * llm/TextAnalysis.langId's Column form in one pass:
  *
  *   - tokens = split(lower(text), "\\s+") (Java regex split, limit −1 —
  *     what the `split` builtin lowers to; empty tokens never match a
  *     stopword, so they are harmless either way);
  *   - per language, score = number of DISTINCT tokens present in its
  *     stopword list (array_intersect dedups — replicated with a
  *     seen-token set);
  *   - result = the language with the unique maximum score; a zero max
  *     or a tie at the max is "unknown" (array_max over struct(score,
  *     lang) + the nAtMax==1 guard collapse to exactly this);
  *   - null text is "unknown", never null, as in the Column form (its
  *     token array is null, so no language scores above zero).
  *
  * The Column form evaluates the whole chain as ONE interpreted
  * higher-order expression per row (let-bound transforms are
  * CodegenFallback), re-hashing every token against every language's
  * literal array; this kernel looks each token up once in a prebuilt
  * token → language-bitmask map. Equality with the Column form is
  * property-pinned in TextAnalysisSpec. `langs` must be pre-sorted by
  * language name (TextAnalysis passes its own sorted table). */
case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"lang_id expects string, got $other")
  }

  @transient private lazy val names: Array[String] = langs.map(_._1).toArray
  @transient private lazy val mask: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    langs.zipWithIndex.foreach { case ((_, words), i) =>
      words.foreach { w =>
        m.put(w, m.getOrDefault(w, 0) | (1 << i))
      }
    }
    m
  }
  @transient private lazy val unknown = UTF8String.fromString("unknown")

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text == null) unknown else nullSafeEval(text)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toLowerCase.toString
      .split("\\s+", -1)
    val counts = new Array[Int](names.length)
    // distinct semantics: each matching token counts once per language
    var seen: java.util.HashSet[String] = null
    var i = 0
    while (i < toks.length) {
      val tk = toks(i)
      val bm = mask.getOrDefault(tk, 0)
      if (bm != 0) {
        if (seen == null) seen = new java.util.HashSet[String]()
        if (seen.add(tk)) {
          var l = 0
          while (l < counts.length) {
            if ((bm & (1 << l)) != 0) counts(l) += 1
            l += 1
          }
        }
      }
      i += 1
    }
    var best = 0
    var bestIdx = -1
    var ties = 0
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) { best = counts(l); bestIdx = l; ties = 1 }
      else if (counts(l) == best && best > 0) ties += 1
      l += 1
    }
    if (best > 0 && ties == 1) UTF8String.fromString(names(bestIdx))
    else unknown
  }

  override def prettyName: String = "lang_id"

  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

object LangIdExpr {
  /** Column-API wrapper; `langs` must be sorted by language name. */
  def apply(text: Column, langs: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(text), langs))
}
