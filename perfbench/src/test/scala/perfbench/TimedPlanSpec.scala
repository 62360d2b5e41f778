package perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times `collect()` of each step's DataFrame. Unlike
  * `count()`, which lets the optimizer drop a query's final sort and prune
  * its projection, that action must run the plan as built: every row,
  * every column, the final sort included. */
class TimedPlanSpec extends AnyFunSuite {
  test("q_string_funcs' timed plan keeps its Sort and all 7 output columns") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val plans = new LinkedBlockingQueue[QueryExecution]()
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.put(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      val step = Workloads("overhead_sweep").steps.find(_.name == "q_string_funcs").get
      val df = step.build(spark, "data/sf0.01")
      val rows = df.collect() // the runner's timed action
      val qe = Iterator.continually(plans.poll(30, TimeUnit.SECONDS))
        .find(q => q == null || (q eq df.queryExecution)).flatMap(Option(_))
        .getOrElse(fail("no query execution reported for the timed collect()"))

      val nodes = Trace.planNodes(qe.executedPlan)
      assert(nodes.exists(_.isInstanceOf[SortExec]), qe.executedPlan.treeString)
      assert(qe.executedPlan.output.size == 7)
      assert(df.columns.length == 7 && rows.forall(_.length == 7))
    } finally spark.stop()
  }
}
