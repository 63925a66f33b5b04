package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture: one GraftSession for the whole JVM (the same
  * AQE-enabled config Verify/Bench use — tests must not drift from the
  * shipped session), sf0.001 data for speed.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The COMPLETE physical plan text of an executed frame, for
    * plan-shape assertions: AQE's final-plan rendering elides
    * materialized query-stage and cached subtrees behind one-line
    * nodes (`ShuffleQueryStage n`, `InMemoryTableScan`), so a bare
    * `executedPlan.toString` no longer shows the exchanges that staged
    * (persisted) subtrees actually run (r19 broke two suites this
    * way). This walks into adaptive plans, query-stage bodies, and
    * cached-plan bodies and concatenates every level — subtrees can
    * appear more than once, so use it for presence/absence assertions,
    * not exact node counts.
    */
  def deepPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sb = new StringBuilder
    def walk(p: SparkPlan): Unit = {
      sb.append(p.toString).append('\n')
      p.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case _ => ()
      }
    }
    walk(df.queryExecution.executedPlan)
    sb.toString
  }

  /** Spark jobs started while `f` runs; the listener bus is drained on
    * both sides, since its events arrive asynchronously.
    */
  def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.GraftBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { f; GraftBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
