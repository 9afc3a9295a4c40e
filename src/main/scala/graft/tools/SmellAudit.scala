package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Partial}
import org.apache.spark.sql.execution.{FormattedMode, LeafExecNode, ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Whole-gate-suite plan-smell sweep: flags, for every gate in
 * [[graft.Queries.all]], physical-plan shapes that cost real money at
 * 100 TB —
 *
 *  - interpreted Filter/Project (tree line without the `*` codegen
 *    marker): the exact regression class the round-10 plan audit
 *    caught (HOF-lambda TAG filters outside whole-stage codegen, 2×
 *    slower; STATUS.md "Round 10 — post-close: TagsOf expression
 *    restores whole-stage codegen on every TAG path");
 *  - `lambdafunction` inside a condition (interpreted HOF on the hot
 *    path);
 *  - CartesianProduct / BroadcastNestedLoopJoin (quadratic joins);
 *  - repeated kernel: a `graft.functions` native expression computed
 *    more than once per row ([[repeatedKernels]]) — in the gate's plan
 *    AND in every plan the gate executes while it is built (eager
 *    checkpoints, collected stats), which a listener captures.
 *
 * Informational, not a gate: some interpreted nodes are benign
 * (LocalTableScan-backed replies, post-collect frames, checkpointed
 * ANN results). Run per-round and diff against the previous run.
 */
object SmellAudit {

  /** Every operator of a physical plan, each once: subqueries, AQE's
    * current plan and the fill plans of cached relations included. */
  private def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
        case _ => out += p
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    out.toSeq
  }

  /**
   * The "repeated kernel" smell: a `graft.functions` native expression
   * (per-row JVM work — hashing, tokenizing, counting) evaluated more
   * than once per row. Two shapes:
   *  - the same expression over the same input attributes (semantic
   *    equality) in more than one operator — typically a filter on a
   *    derived column pushed below the projection that computes it;
   *  - the same expression more than once inside one operator that is
   *    not a Project (ProjectExec eliminates common subexpressions;
   *    FilterExec and the others do not).
   * [[graft.functions.EvalOnce]], the barrier, does not count itself.
   */
  def repeatedKernels(plan: SparkPlan): Seq[String] = {
    def native(e: Expression) =
      e.getClass.getName.startsWith("graft.functions.") && !e.isInstanceOf[graft.functions.EvalOnce]
    // the expressions an operator evaluates per input row: a scan's
    // filters only prune files/row groups, and a final-mode aggregate
    // merges buffers without re-reading its functions' inputs
    def perRow(op: SparkPlan): Seq[Expression] = op match {
      case _: LeafExecNode => Nil
      case a: BaseAggregateExec => a.groupingExpressions ++
        a.aggregateExpressions.filter(e => e.mode == Partial || e.mode == Complete)
      case _ => op.expressions
    }
    val uses = operators(plan).flatMap { op =>
      perRow(op).flatMap(_.collect { case e if native(e) => e })
        .groupBy(_.canonicalized).map { case (c, es) => (c, es.head.prettyName, op, es.size) }
    }
    uses.groupBy(_._1).values.toSeq.flatMap { us =>
      val name = us.head._2
      val inOne = us.collect {
        case (_, _, op, n) if n > 1 && !op.isInstanceOf[ProjectExec] => s"$name x$n in ${op.nodeName}"
      }
      val across =
        if (us.size > 1) Seq(s"$name in ${us.map(_._3.nodeName).mkString("+")}") else Nil
      inOne ++ across
    }.distinct.sorted
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      // shape audit only: with AQE on, a pre-execution plan shows NO
      // codegen markers at all (decided per stage at runtime), so
      // every operator would read as interpreted
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq else graft.Queries.all.keys.toSeq.sorted
    var flagged = 0
    names.foreach { name =>
      try {
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
        executed.clear()
        val df = graft.Queries.all(name)(spark, dir)
        val p = df.queryExecution.explainString(FormattedMode)
        org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
        val repeated = (df.queryExecution.executedPlan +: executed.asScala.toSeq)
          .flatMap(repeatedKernels).distinct
        val tree = p.linesIterator.takeWhile(_.trim.nonEmpty).toSeq
        def indent(l: String) = l.takeWhile(c => !c.isLetter && c != '*').length
        // a node sits in a CACHE-FILL subtree (paid once per resident
        // registration, not per query) when a preceding
        // InMemoryRelation line has strictly smaller indentation
        def inCacheFill(i: Int): Boolean = {
          val ind = indent(tree(i))
          (i - 1 to 0 by -1).exists { j =>
            tree(j).contains("InMemoryRelation") && indent(tree(j)) < ind
          }
        }
        val interp = tree.zipWithIndex.filter { case (l, _) =>
          val t = l.dropWhile(c => !c.isLetter && c != '*')
          t.startsWith("Filter (") && !l.contains("* ")
        }
        val (fill, hot) = interp.partition { case (_, i) => inCacheFill(i) }
        val smells = Seq(
          if (hot.nonEmpty)
            Some(s"interpreted-filter=${hot.map(_._1.trim).mkString(" | ")}")
          else None,
          if (fill.nonEmpty) Some(s"cachefill-filter=${fill.size}") else None,
          if (repeated.nonEmpty)
            Some(s"repeated-kernel=${repeated.mkString(" | ")}")
          else None,
          if (p.contains("CartesianProduct")) Some("CartesianProduct") else None,
          if (p.contains("BroadcastNestedLoopJoin"))
            Some("BroadcastNestedLoopJoin")
          else None).flatten
        if (smells.nonEmpty) {
          flagged += 1
          println(s"SMELL $name: ${smells.mkString("; ")}")
        }
      } catch {
        case e: Throwable =>
          println(s"SKIP $name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    println(s"SMELL_AUDIT done: $flagged/${names.size} gates flagged")
    spark.stop()
  }
}
