package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.analytics.Registry

/** Catalog-wide plan lint over every [[Registry.all]] query: none may
  * plan a CartesianProductExec — the one join shape that can never
  * survive a 100× scale-up. Deliberate 1-row cross joins (q48's final
  * counts, q73's pivot values) plan as BroadcastNestedLoopJoin over
  * broadcast scalars and pass; an accidental unkeyed join would fail here
  * by name before it ever reaches a bench. Queries that run a stream
  * inside their builder run it here too; the frame they return is a
  * batch frame and plans like any other. Plus specific pins the sweep
  * motivated: q116's one-scan/one-data-Exchange funnel plan. */
class PlanLintSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children ++ other.subqueries
    }
    p +: kids.flatMap(allNodes)
  }

  test("no audited query plans a CartesianProduct") {
    val offenders = Registry.all.filter { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan
      allNodes(plan).exists(_.isInstanceOf[CartesianProductExec])
    }.map(_.name)
    assert(offenders.isEmpty,
      s"CartesianProduct planned by: ${offenders.mkString(", ")}")
  }

  test("q116 funnel plans one fact scan and one data Exchange") {
    val plan = Registry.queries("q116_funnel_conversion")(spark, dir)
      .queryExecution.executedPlan
    val nodes = allNodes(plan).map(_.nodeName)
    nodes.count(_.startsWith("Scan parquet")) shouldBe 1
    // one user_id hash Exchange for the collect aggregate; the final
    // 4-row manifest aggregate adds only a SinglePartition exchange
    val exchanges = allNodes(plan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning
    }
    exchanges.count {
      case _: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => true
      case _ => false
    } shouldBe 1
  }
}
