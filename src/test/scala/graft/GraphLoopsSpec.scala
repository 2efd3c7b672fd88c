package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL,
  ReusedExchangeExec, ShuffleExchangeExec}

/** The graph iteration kernel's loop invariants: the superstep probe is
  * what materializes each lazy checkpoint, a fixed-step loop adds at
  * most one job per step, and label propagation's unrolled supersteps
  * share one edge exchange. */
class GraphLoopsSpec extends SparkSpec {

  /** `body` under a static plan: AQE off and no broadcast joins, so a
    * Spark job is an action (a checkpoint, a probe, a collect), never a
    * query stage or a broadcast build. */
  private def staticPlan[T](body: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def jobs(body: => Unit): Int = jobsOf(body)._1

  /** lineitem-shaped frame: each order is a clique over its parts. */
  private def li(orders: (Long, Seq[Long])*): DataFrame = {
    import spark.implicits._
    orders.flatMap { case (o, ps) => ps.map(p => (o, p)) }
      .toDF("l_orderkey", "l_partkey")
  }

  /** Steps the distributed components loop takes on `edges`: its
    * neighbor-min + pointer-jump update replayed on the driver until the
    * label sum stops moving (the probe's fixpoint test). */
  private def componentSteps(edges: Seq[(Long, Long)]): Int = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var lbl = nbrs.keys.map(v => v -> v).toMap
    var steps = 0
    var moved = true
    while (moved) {
      val stepped = lbl.map { case (v, l) => v -> math.min(l, nbrs(v).map(lbl).min) }
      val next = stepped.map { case (v, l) => v -> lbl(l) }
      moved = next.values.sum != lbl.values.sum
      lbl = next
      steps += 1
    }
    steps
  }

  test("connectedComponents, distributed path: one job per superstep " +
    "plus one for the initial labels — the probe materializes each lazy " +
    "checkpoint") {
    import spark.implicits._
    // chains numbered from the far end, so the minimum label has the
    // whole diameter to travel
    def chain(n: Int) = (0 until n).map(i => ((n - i).toLong, (n - i - 1).toLong))
    staticPlan {
      for (n <- Seq(3, 40)) {
        val steps = componentSteps(chain(n))
        var labels: DataFrame = null
        val n1 = jobs {
          labels = Dedup.connectedComponents(chain(n).toDF("a", "b"),
            smallGraphEdgeCap = 0L)
        }
        assert(n1 == steps + 1, s"chain of $n: $n1 jobs for $steps steps")
        // the returned state was materialized by the last probe, not by
        // a job of its own or by a later action
        val rdds = labels.queryExecution.analyzed.collect {
          case r: LogicalRDD => r.rdd
        }
        assert(rdds.nonEmpty && rdds.forall(_.isCheckpointed))
        assert(labels.as[(Long, Long)].collect().toSet ==
          (0L to n.toLong).map(v => (v, 0L)).toSet)
      }
      assert(componentSteps(chain(40)) > componentSteps(chain(3)))
    }
  }

  test("connectedComponents: the max-steps guard fails loudly instead of " +
    "returning unconverged labels") {
    import spark.implicits._
    val chain = (0 until 40).map(i => ((40 - i).toLong, (39 - i).toLong))
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain.toDF("a", "b"), 1, smallGraphEdgeCap = 0L)
    }
    assert(e.getMessage.contains("did not converge in 1 steps"), e.getMessage)
  }

  test("kCore and katzWalks: one more round adds at most one job") {
    val core = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(3L, 4L), 3L -> Seq(4L, 5L))
    val strong = li(
      1L -> Seq(168L, 1L), 2L -> Seq(168L, 1L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L, 2L))
    staticPlan {
      for (r <- Seq(3, 6)) {
        val k0 = jobs(Graph.kCore(core, rounds = r).collect())
        val k1 = jobs(Graph.kCore(core, rounds = r + 1).collect())
        assert(k1 - k0 <= 1, s"kCore rounds $r -> ${r + 1}: $k0 -> $k1 jobs")
        val w0 = jobs(Graph.katzWalks(strong, rounds = r).collect())
        val w1 = jobs(Graph.katzWalks(strong, rounds = r + 1).collect())
        assert(w1 - w0 <= 1, s"katzWalks rounds $r -> ${r + 1}: $w0 -> $w1 jobs")
      }
    }
  }

  test("labelPropLabels: the edges shuffle once per build — superstep 1 " +
    "reads the repartition, later supersteps read it as ReusedExchange") {
    val fx = li(1L -> Seq(1L, 2L, 3L), 2L -> Seq(10L, 11L, 12L),
      3L -> Seq(3L, 10L))
    staticPlan {
      val plan = Graph.labelPropLabels(fx, Graph.coOrderEdges(fx), iters = 3)
        .queryExecution.executedPlan
      def bySrc(e: ShuffleExchangeExec) = e.shuffleOrigin == REPARTITION_BY_COL &&
        (e.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), _) => a.name == "src"
          case _ => false
        })
      val edgeShuffles = plan.collect { case e: ShuffleExchangeExec if bySrc(e) => e }
      val reused = plan.collect {
        case r: ReusedExchangeExec => r.child
      }.collect { case e: ShuffleExchangeExec if bySrc(e) => e }
      assert(edgeShuffles.size == 1, plan.toString)
      assert(reused.size == 2, plan.toString)
    }
  }
}
