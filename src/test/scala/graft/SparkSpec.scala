package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("local[4]", 4)

  lazy val sfDir = "/root/testdata/sf0.001"

  /** Every node of an EXECUTED plan, descending through the AQE wrappers
    * (`AdaptiveSparkPlanExec`, `QueryStageExec`) that plain
    * `collect`/`collectLeaves` treat as leaves.
    */
  def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }
}
