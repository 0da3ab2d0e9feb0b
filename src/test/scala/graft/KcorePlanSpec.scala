package graft

import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.analytics.Dedup
import graft.functions.GraftExtensions

/** d18/d19's internal plan shapes, pinned directly instead of "audited
  * by precedent" (the r12 verdict gap): both queries localCheckpoint
  * their iterative internals, so the registered query's Explain shows
  * only an ExistingRDD — these specs drive the factored-out round/
  * aggregate builders and assert the executed plans the loops actually
  * run. The sibling pin: `LshIndexPlanSpec` for d16's probe join. */
class KcorePlanSpec extends SparkSuite {
  import spark.implicits._

  test("d18 per-round step: two LeftSemi joins, two-phase degree count, one |V| shuffle") {
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
        (3L, 2L), (4L, 1L), (1L, 4L)).toDF("id1", "id2")
      val core = Seq(1L, 2L, 3L, 4L).toDF("node")
      val plan = Dedup.kcoreRound(edges, core).queryExecution.executedPlan

      // edges are restricted by SEMI joins — never duplicated the way an
      // inner join against the node list would duplicate high-degree rows
      val joins = plan.collect { case j: BaseJoinExec => j }
      joins.map(_.joinType.toString).sorted shouldBe Seq("LeftSemi", "LeftSemi")

      // the degree recount is a two-phase hash aggregate: map-side
      // partial_count folds |E| rows to |V| partials BEFORE the shuffle,
      // so the only aggregate Exchange carries node counts, not edges
      val aggs = plan.collect { case a: BaseAggregateExec => a }
      val partials = aggs.filter(
        _.aggregateExpressions.exists(_.toString.contains("partial_count")))
      withClue(s"no map-side partial degree count:\n$plan\n") {
        partials should not be empty
      }
      // partial aggregate sits BELOW every Exchange on its path (the
      // shuffle moves partials): find an Exchange whose subtree holds it
      val exBelow = plan.collect {
        case e: Exchange
            if e.collect { case a: HashAggregateExec
              if a.aggregateExpressions.exists(_.toString.contains("partial_count")) => a
            }.nonEmpty => e
      }
      withClue(s"partial count does not feed a shuffle:\n$plan\n") {
        exBelow should not be empty
      }
    }
  }

  test("d23 per-round step: frontier LeftSemi, min-merge with map-side partial") {
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("id1", "id2")
      val dist = Seq((1L, 0L)).toDF("node", "d")
      val frontier = dist
      val plan = Dedup.bfsRound(edges, dist, frontier, 1L)
        .queryExecution.executedPlan

      // edges expand from the FRONTIER only, via a semi join — settled
      // nodes never re-drive edge traffic (the delta-expansion contract)
      val joins = plan.collect { case j: BaseJoinExec => j }
      joins.map(_.joinType.toString) shouldBe Seq("LeftSemi")

      // the min-merge is two-phase: partial_min folds candidates before
      // the one |V|-sized shuffle
      val exBelow = plan.collect {
        case e: Exchange
            if e.collect { case a: HashAggregateExec
              if a.aggregateExpressions.exists(_.toString.contains("partial_min")) => a
            }.nonEmpty => e
      }
      withClue(s"partial min does not feed a shuffle:\n$plan\n") {
        exBelow should not be empty
      }
    }
  }

  test("s18 per-round update: a pure narrow map — zero Exchange") {
    GraftExtensions.register(spark)
    val st = Seq((0L, Seq(1L, 2L), 5L, 0L, 0L, 0L), (1L, Seq(3L, 4L), 25L, 9L, 0L, 0L))
      .toDF("vec_id", "qv", "norm2", "dmin", "cid", "crnd")
    val plan = graft.analytics.Similarity
      .kcenterUpdate(st, Seq(1L, 2L), 5L, 7L, 3L)
      .queryExecution.executedPlan
    val exchanges = plan.collect { case e: Exchange => e }
    withClue(s"k-center update must not shuffle the corpus:\n$plan\n") {
      exchanges shouldBe empty
    }
  }

  test("d19 signature aggregate: one Exchange, partial min folded map-side") {
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false") {
      val hs = Seq(("web", 11L), ("web", 23L), ("wiki", 5L), ("wiki", 99L))
        .toDF("source", "h")
      val plan = Dedup.minhashSignatures(hs).queryExecution.executedPlan

      // the monoid property buys exactly this: per-partition partial_min
      // signatures, ONE shuffle of |sources| × |perm| longs, final merge
      val exchanges = plan.collect { case e: Exchange => e }
      exchanges should have size 1
      val aggs = plan.collect { case a: BaseAggregateExec => a }
      aggs.count(_.aggregateExpressions.exists(
        _.toString.contains("partial_min"))) should be >= 1
      aggs.count(_.aggregateExpressions.exists(e =>
        e.toString.contains("min(") && !e.toString.contains("partial_"))) should be >= 1
    }
  }
}
