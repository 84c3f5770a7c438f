package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's codegen expressions: register with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`) and every custom expression
  * is callable from `spark.sql` / views / the Thrift server — the same
  * Catalyst nodes the Scala API plans, so SQL users get whole-stage codegen,
  * not UDF wrappers:
  *
  *   SELECT graft_cosine(a.vec, b.vec)            -- fused one-pass cosine
  *   SELECT graft_encode_iri(name)                -- RML percent-encoding
  *   SELECT graft_nt_escape(text)                 -- N-Triples literal escape
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name,
          f.usage, "", "", "", "", "", "", "built-in"),
        f.checked))
    }
}

object GraftExtensions {
  /** One SQL function: its name, usage line, arity and expression builder. */
  final case class Fn(name: String, usage: String, arity: Int,
      build: Seq[Expression] => Expression) {
    /** The builder both routes register: arity-checked, then built. */
    def checked: Seq[Expression] => Expression = { args =>
      require(args.length == arity, s"$name expects $arity argument" +
        s"${if (arity == 1) "" else "s"}, got ${args.length}")
      build(args)
    }
  }

  /** The one function table behind both [[GraftExtensions.apply]] and
    * [[register]].
    */
  val functions: Seq[Fn] = Seq(
    Fn("graft_dot", "graft_dot(a, b) - dot product of two double arrays (codegen)",
      2, a => VecDot(a(0), a(1))),
    Fn("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two double arrays (codegen, one pass)",
      2, a => VecCosine(a(0), a(1))),
    Fn("graft_sqdist",
      "graft_sqdist(a, b, offset, len) - squared L2 over [offset, offset+len)",
      4, a => VecSqDist(a(0), a(1), a(2), a(3))),
    Fn("graft_encode_iri",
      "graft_encode_iri(s) - RML template percent-encoding (python-quote compatible)",
      1, a => RmlEncode(a.head)),
    Fn("graft_nt_escape", "graft_nt_escape(s) - N-Triples literal escaping",
      1, a => NtEscape(a.head)),
    Fn("graft_bnode_encode", "graft_bnode_encode(s) - blank-node label encoding",
      1, a => BlankNodeEncode(a.head)),
    Fn("graft_slugify", "graft_slugify(s) - FnO slugify", 1, a => Slugify(a.head)),
    Fn("graft_fnv64", "graft_fnv64(s) - 64-bit FNV-1a hash", 1, a => Fnv1a64(a.head)))

  /** Register the same functions into an ALREADY-RUNNING session (the
    * `spark.sql.extensions` config only applies at session build time).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach(f =>
      reg.createOrReplaceTempFunction(f.name, f.checked, "built-in"))
  }
}
