package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code starts: a listener keeps
  * the jobs tagged with this call's local property (inherited by the
  * threads a query runs its sub-jobs on), and the listener bus is
  * drained before the count is read.
  */
object SparkJobs {
  private val Key = "graft.test.jobProbe"

  def count[A](sc: SparkContext)(body: => A): (A, Int) = {
    val token = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == token) n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, token)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}

/** The executed plans of the queries a block of driver code completes: a
  * session listener keeps every execution that ends while the block
  * runs, read after the listener bus is drained. [[nodes]] walks one.
  */
object SparkExecutions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.util.QueryExecutionListener

  def capture[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val a = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (a, seen.toArray(Array.empty[QueryExecution]).toSeq.map(_.executedPlan))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node reachable from `root` — final adaptive stages, reused
    * exchanges, cache-build plans and subqueries — each once, deduped by
    * identity so shared stages don't blow up the walk.
    */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def descend(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case other => other.children
    }
    def go(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil else p +: (descend(p) ++ p.subqueries).flatMap(go)
    go(root)
  }
}
