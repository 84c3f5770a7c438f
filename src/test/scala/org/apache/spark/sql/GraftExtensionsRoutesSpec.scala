package org.apache.spark.sql

import graft.GraftExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.scalatest.funsuite.AnyFunSuite

/** Both SQL routes — the `spark.sql.extensions` class applied at session
  * build time and `GraftExtensions.register` on a running session — come
  * from one function table. Lives in `org.apache.spark.sql` to reach
  * `SparkSessionExtensions.registerFunctions`, which a session builder
  * calls on a fresh registry.
  */
class GraftExtensionsRoutesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.SparkTestSession.spark

  private val names = Set("graft_dot", "graft_cosine", "graft_sqdist",
    "graft_encode_iri", "graft_nt_escape", "graft_bnode_encode",
    "graft_slugify", "graft_fnv64")

  test("extension and register expose the same eight functions with " +
      "working arity errors") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(new SimpleFunctionRegistry)
    GraftExtensions.register(spark)
    val session = spark.sessionState.functionRegistry
    assert(injected.listFunction().map(_.funcName).toSet == names)
    assert(session.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet == names)

    def args(n: Int): Seq[Expression] = Seq.fill(n)(Literal("x"))
    GraftExtensions.functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      Seq(injected.lookupFunctionBuilder(id).get,
          session.lookupFunctionBuilder(id).get).foreach { build =>
        assert(build(args(f.arity)).getClass == f.build(args(f.arity)).getClass)
        val e = intercept[IllegalArgumentException](build(args(f.arity + 1)))
        assert(e.getMessage.contains(s"${f.name} expects ${f.arity} argument"),
          e.getMessage)
      }
    }
  }
}
