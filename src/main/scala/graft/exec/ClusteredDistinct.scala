package graft.exec

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** `SELECT DISTINCT keys` planned as ONE hash aggregate — no partial +
  * final pair. Only worth it when the input already arrives clustered on a
  * subset of the keys (the quad dedup over subject-partitioned source rows,
  * see [[MappingCompiler.dedupQuads]]): the partial aggregate then buys no
  * shuffle reduction, and its second hash table over the same rows raised
  * peak managed memory by ~23% in a measured prototype.
  *
  * The aggregate still declares `ClusteredDistribution(keys)`, so Spark's
  * EnsureRequirements adds an exchange whenever the child is not clustered:
  * the node is correct on any input, the clustering only makes it cheap.
  *
  * `keys` are the node's expressions, so `ColumnPruning` sees them as
  * references and never prunes a key column below the distinct when a
  * consumer reads only some of them (Turtle's hub count reads only `s`).
  */
final case class ClusteredDistinct(keys: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = keys
  override protected def withNewChildInternal(newChild: LogicalPlan): ClusteredDistinct =
    copy(child = newChild)
}

object ClusteredDistinct {

  /** Plans [[ClusteredDistinct]] as a single complete-mode hash aggregate. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ClusteredDistinct(keys, child) =>
        HashAggregateExec(requiredChildDistributionExpressions = Some(keys),
          isStreaming = false, numShufflePartitions = None, groupingExpressions = keys,
          aggregateExpressions = Nil, aggregateAttributes = Nil,
          initialInputBufferOffset = 0, resultExpressions = keys,
          child = planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Moves a deterministic filter above the distinct below it, as Spark
    * does for its own Deduplicate: the filter reads only key columns, so
    * it drops the same rows either way, and filtering first shrinks the
    * hash table (e.g. a catalog row keeping one predicate's quads).
    */
  object PushFilterThrough extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case Filter(cond, d: ClusteredDistinct) if cond.deterministic =>
        d.copy(child = Filter(cond, d.child))
    }
  }

  /** Registers [[Strategy]] and [[PushFilterThrough]] with the session
    * once; safe under concurrent callers on one session.
    */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Strategy)) x.extraStrategies = Strategy +: x.extraStrategies
      if (!x.extraOptimizations.contains(PushFilterThrough))
        x.extraOptimizations = x.extraOptimizations :+ PushFilterThrough
    }
  }

  /** Does `df`'s physical plan already deliver rows clustered on `keys`
    * (a hash partitioning over a subset of them)? Plans `df` once on the
    * driver; no Spark job runs.
    */
  def clusteredOn(df: DataFrame, keys: Seq[String]): Boolean = !df.isStreaming && {
    val plan = df.queryExecution.sparkPlan
    val attrs = keys.flatMap(k => plan.output.find(_.name == k))
    attrs.size == keys.size &&
      plan.outputPartitioning.satisfies(ClusteredDistribution(attrs))
  }

  /** `df` deduplicated on `keys` (its output is exactly `keys`). */
  def apply(spark: SparkSession, df: DataFrame, keys: Seq[String]): DataFrame = {
    install(spark)
    val analyzed = df.queryExecution.analyzed
    val attrs = keys.map(k => analyzed.output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no column '$k' in ${analyzed.output.map(_.name)}")))
    GraftSqlBridge.ofRows(spark, ClusteredDistinct(attrs, analyzed))
  }
}
