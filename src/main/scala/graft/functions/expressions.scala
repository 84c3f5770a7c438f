package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-friendly unary string expression calling a static helper in
  * [[RmlStrings]]. Keeps the hot path inside whole-stage codegen: generated
  * code calls `RmlStrings.<method>(input.toString())` directly instead of
  * falling back to interpreted eval.
  */
abstract class RmlStringExpression extends UnaryExpression {
  protected def method: String
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val out = call(v.asInstanceOf[UTF8String].toString)
    if (out == null) null else UTF8String.fromString(out)
  }
  protected def call(s: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.RmlStrings.$method($c.toString()))")
}

/** Python-quote-compatible percent encoding (SURVEY T1). */
case class RmlEncode(child: Expression) extends RmlStringExpression {
  override protected def method: String = "encode"
  override protected def call(s: String): String = RmlStrings.encode(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** N-Triples literal escaping (SURVEY T7). */
case class NtEscape(child: Expression) extends RmlStringExpression {
  override protected def method: String = "ntEscape"
  override protected def call(s: String): String = RmlStrings.ntEscape(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Blank-node label encoding (SURVEY T6). */
case class BlankNodeEncode(child: Expression) extends RmlStringExpression {
  override protected def method: String = "blankNodeEncode"
  override protected def call(s: String): String = RmlStrings.blankNodeEncode(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Slugify (FnO function, SURVEY §2.9). */
case class Slugify(child: Expression) extends RmlStringExpression {
  override protected def method: String = "slugify"
  override protected def call(s: String): String = RmlStrings.slugify(s)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** 64-bit FNV-1a hash of a string (fingerprints / simhash). */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    RmlStrings.fnv1a64(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RmlStrings.fnv1a64($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Column-level API for the engine's custom expressions and common RML
  * term-construction combinators (SURVEY §2.4).
  */
object rml {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  private def asStr(c: Column): Column = c.cast("string")

  /** The type a column RENDERS from (peeling to-string casts at the
    * column-node level — see [[org.apache.spark.sql.GraftSqlBridge.renderDataType]]),
    * when it is already resolved against a frame. Unresolved columns
    * (bare `col("a")`) report None and keep the general path.
    */
  private def renderType(c: Column): Option[org.apache.spark.sql.types.DataType] =
    org.apache.spark.sql.GraftSqlBridge.renderDataType(c)

  /** Types whose string rendering can never hit the textual null lattice
    * ("", "nan", "N/A", "NULL" — double NaN renders "NaN", which the
    * case-sensitive lattice keeps) nor contain an NT-escapable character:
    * for them the lattice is exactly `isNotNull` and ntEscape is the
    * identity. Measured on rml_wide_mapping: the full lattice ran a trim,
    * an IN-list and two extra string casts per referenced attribute per
    * row, on 11 numeric attributes.
    */
  private def nonTextualType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
          BooleanType => true
      case _ => false
    }
  }

  /** Subset of [[nonTextualType]] whose renders are also closed over the
    * percent-encoding safe set (alnum and `_.-~:@=+%`): numerics
    * ("1.5E-8"), dates ("2026-01-01"), booleans. Timestamps are NOT — the
    * space separator encodes to %20.
    */
  private def encodeSafeType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | DateType | BooleanType => true
      case _ => false
    }
  }

  def encodeIri(c: Column): Column =
    if (renderType(c).exists(encodeSafeType)) asStr(c)
    else column(RmlEncode(expression(asStr(c))))
  def ntEscape(c: Column): Column =
    if (renderType(c).exists(nonTextualType)) asStr(c)
    else column(NtEscape(expression(asStr(c))))
  def bnodeEncode(c: Column): Column = column(BlankNodeEncode(expression(asStr(c))))
  def slugify(c: Column): Column = column(Slugify(expression(asStr(c))))

  /** The reference's null lattice as a Column predicate: value is usable iff
    * non-null, non-blank and not one of nan/N/A/NULL (functions.py:1882-1918).
    */
  def notRmlNull(c: Column): Column =
    if (renderType(c).exists(nonTextualType)) c.isNotNull
    else {
      val s = asStr(c)
      s.isNotNull && trim(s) =!= "" && !s.isin("nan", "N/A", "NULL")
    }

  /** Wrap an absolute IRI: `<...>`. */
  def iri(c: Column): Column = concat(lit("<"), asStr(c), lit(">"))

  /** Blank node term: `_:label` with bnode encoding. */
  def bnode(c: Column): Column = concat(lit("_:"), bnodeEncode(c))

  /** Plain literal term: `"escaped"`. */
  def literal(c: Column): Column =
    concat(lit("\""), ntEscape(c), lit("\""))

  /** Typed literal: `"escaped"^^<datatype>` (SURVEY T8). */
  def typedLiteral(c: Column, datatype: Column): Column =
    concat(lit("\""), ntEscape(c), lit("\"^^<"), datatype, lit(">"))

  /** Language-tagged literal: `"escaped"@lang` (SURVEY T9). */
  def langLiteral(c: Column, lang: Column): Column =
    concat(lit("\""), ntEscape(c), lit("\"@"), lang)

  /** RDF-star quoted triple `<< s p o >>` (SURVEY J7). */
  def quoted(s: Column, p: Column, o: Column): Column =
    concat(lit("<< "), s, lit(" "), p, lit(" "), o, lit(" >>"))

  /** Expand an RML template "pre{a}mid{b}post" over row columns. IRI-valued
    * templates percent-encode each substituted value (SURVEY T1).
    */
  def template(tpl: String, encode: Boolean = true, colFn: String => Column = org.apache.spark.sql.functions.col): Column = {
    val parts = TemplateParser.parse(tpl)
    val cols = parts.map {
      case TemplateParser.Lit(s)  => lit(s)
      case TemplateParser.Ref(a)  =>
        val c = asStr(colFn(a))
        if (encode) encodeIri(c) else c
    }
    if (cols.isEmpty) lit("") else concat(cols: _*)
  }

  /** Null-lattice guard for all attrs referenced by a template. */
  def templateGuard(tpl: String, colFn: String => Column = org.apache.spark.sql.functions.col): Column =
    TemplateParser.refs(tpl).map(a => notRmlNull(colFn(a)))
      .reduceOption(_ && _).getOrElse(lit(true))
}

/** Parses RML templates: `{attr}` references with `\{`/`\}` escapes. */
object TemplateParser {
  sealed trait Part
  final case class Lit(s: String) extends Part
  final case class Ref(attr: String) extends Part

  def parse(tpl: String): List[Part] = {
    val out = scala.collection.mutable.ListBuffer.empty[Part]
    val cur = new StringBuilder
    var i = 0
    while (i < tpl.length) {
      tpl.charAt(i) match {
        case '\\' if i + 1 < tpl.length && (tpl.charAt(i + 1) == '{' || tpl.charAt(i + 1) == '}') =>
          cur.append(tpl.charAt(i + 1)); i += 1
        case '{' =>
          if (cur.nonEmpty) { out += Lit(cur.toString); cur.clear() }
          val end = tpl.indexOf('}', i)
          require(end > i, s"unclosed template ref in: $tpl")
          out += Ref(tpl.substring(i + 1, end))
          i = end
        case c => cur.append(c)
      }
      i += 1
    }
    if (cur.nonEmpty) out += Lit(cur.toString)
    out.toList
  }

  def refs(tpl: String): List[String] = parse(tpl).collect { case Ref(a) => a }
}
