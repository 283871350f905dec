package perfbench

import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Which call tier an executed plan ran: engine-native Catalyst
  * expressions, Scala UDF/UDAF calls, fused geometry programs, and the
  * engine's spatial join operators. */
final case class PlanCounts(native: Int, udf: Int, fused: Int, spatialJoins: Int) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(native + o.native, udf + o.udf, fused + o.fused, spatialJoins + o.spatialJoins)
}

object PlanCounts {
  val Zero = PlanCounts(0, 0, 0, 0)

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def isEngine(e: Expression) = e.getClass.getName.startsWith("graft.")
  private def isFused(e: Expression) = e.getClass.getSimpleName == "STGeoFused"
  private def isUdf(e: Expression) = e match {
    case _: ScalaUDF => true
    case other => Set("ScalaUDAF", "ScalaAggregator")(other.getClass.getSimpleName)
  }

  def of(p: SparkPlan): PlanCounts = {
    val ns = nodes(p)
    val exprs = ns.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    PlanCounts(
      native = exprs.count(e => isEngine(e) && !isFused(e)),
      udf = exprs.count(isUdf),
      fused = exprs.count(isFused),
      spatialJoins = ns.count(_.getClass.getSimpleName.contains("SpatialJoin")))
  }
}
