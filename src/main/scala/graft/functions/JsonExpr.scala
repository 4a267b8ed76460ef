package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused canonical-JSON renderer for the serving envelope's `jumps`
  * section (analytics/Envelope.canonicalJson): the Column form rendered
  * every doc through two nested interpreted `transform` lambdas (HOFs are
  * CodegenFallback) whose per-field escape was a regexp_replace chain
  * gated by two rlike scans — hundreds of interpreted regex evaluations
  * per rel, all inside ONE serial row (the envelope is a single
  * document). This kernel emits the identical bytes in one pass:
  *
  *  - per doc: `{"id":<str>,"name":<str>,"rels":[<rel>,…]}`; a null doc,
  *    or a doc whose `rels` is null, is left out;
  *  - per rel, keys in json.dumps sorted order:
  *    `{"dummy":…,"imdbMovieId":…,"location":…,"matchedCompanyName":…,
  *      "movieReleaseYear":…,"personMappedRole":…,"region":…,"seq":…}`;
  *  - docs joined by "," (the surrounding `[`/`]` stay in the caller);
  *  - string fields escaped with exactly json.dumps' default repertoire
  *    (backslash, quote, \b \f \n \r \t, \u00XX for remaining control
  *    chars < 0x20; non-ASCII passes through raw — the fixtures are
  *    built with ensure_ascii=False);
  *  - null fields render as JSON null; booleans as true/false; integral
  *    fields via Long.toString — each the exact value of the Column
  *    form's `coalesce(cast(c as string), 'null')`.
  *
  * Field ordinals are resolved BY NAME from the input struct type, so a
  * schema reorder cannot silently misrender. Byte-identity is pinned by
  * IoSpec's hostile-string fixture test and the e2e_jumps_envelope
  * character-for-character oracle.
  */
case class JumpsJson(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if Seq("id", "name").forall(f => st.find(_.name == f).exists(_.dataType == StringType)) &&
          st.fieldNames.contains("rels") =>
      st("rels").dataType match {
        case ArrayType(_: StructType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"jumps_json expects rels: array<struct>, got $other")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"jumps_json expects array<struct<id: string, name: string, rels>>, got $other")
  }

  @transient private lazy val docSt =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val idIdx = docSt.fieldIndex("id")
  @transient private lazy val nameIdx = docSt.fieldIndex("name")
  @transient private lazy val relsIdx = docSt.fieldIndex("rels")
  @transient private lazy val relSt =
    docSt("rels").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  // rel keys in the rendered (sorted) order, resolved to (ordinal, type)
  @transient private lazy val relFields: Array[(String, Int, DataType)] =
    Array("dummy", "imdbMovieId", "location", "matchedCompanyName",
      "movieReleaseYear", "personMappedRole", "region", "seq")
      .map(n => (n, relSt.fieldIndex(n), relSt(n).dataType))

  private def appendEscaped(sb: java.lang.StringBuilder, s: UTF8String): Unit = {
    sb.append('"')
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      c match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ =>
          if (c < 0x20) sb.append(f"\\u${c.toInt}%04x") else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  private def appendField(sb: java.lang.StringBuilder, row: InternalRow,
                          idx: Int, dt: DataType): Unit =
    if (row.isNullAt(idx)) sb.append("null")
    else dt match {
      case StringType => appendEscaped(sb, row.getUTF8String(idx))
      case BooleanType => sb.append(if (row.getBoolean(idx)) "true" else "false")
      case LongType => sb.append(row.getLong(idx))
      case IntegerType => sb.append(row.getInt(idx).toLong)
      case other => throw new IllegalStateException(
        s"jumps_json: unsupported rel field type $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val docs = input.asInstanceOf[ArrayData]
    val sb = new java.lang.StringBuilder(1 << 16)
    var d = 0
    var first = true
    while (d < docs.numElements()) {
      // a null doc or a doc with null rels renders as nothing, as the
      // reference's null docJson drops out of its array_join
      val doc = if (docs.isNullAt(d)) null else docs.getStruct(d, docSt.length)
      if (doc != null && !doc.isNullAt(relsIdx)) {
        if (!first) sb.append(',')
        first = false
        sb.append("{\"id\":")
        if (doc.isNullAt(idIdx)) sb.append("null")
        else appendEscaped(sb, doc.getUTF8String(idIdx))
        sb.append(",\"name\":")
        if (doc.isNullAt(nameIdx)) sb.append("null")
        else appendEscaped(sb, doc.getUTF8String(nameIdx))
        sb.append(",\"rels\":[")
        val rels = doc.getArray(relsIdx)
        var r = 0
        while (r < rels.numElements()) {
          if (r > 0) sb.append(',')
          // a null rel renders every field as null, as the reference does
          val rel = if (rels.isNullAt(r)) null else rels.getStruct(r, relSt.length)
          var f = 0
          while (f < relFields.length) {
            val (nm, idx, dt) = relFields(f)
            sb.append(if (f == 0) "{\"" else ",\"").append(nm).append("\":")
            if (rel == null) sb.append("null") else appendField(sb, rel, idx, dt)
            f += 1
          }
          sb.append('}')
          r += 1
        }
        sb.append("]}")
      }
      d += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // the envelope is ONE row — interpreted dispatch is per document
  // render, not per field; CodegenFallback is deliberate (KmlTrack's
  // rationale)
  override def prettyName: String = "jumps_json"

  override protected def withNewChildInternal(newChild: Expression): JumpsJson =
    copy(child = newChild)
}

object JumpsJson {
  /** Column-API wrapper. */
  def apply(docs: Column): Column =
    ColumnBridge.column(JumpsJson(ColumnBridge.expression(docs)))
}
