package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Plan-shape audit for the delete-aware read: the scale contract is
  * that a delete costs ONE broadcast anti-join per delete COMMIT (never
  * a shuffle of the data side), and that the common trailing-delete
  * layout keeps the whole read a single scan + single anti-join.
  */
class PlanAuditDeleteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // full physical tree including what AQE hides behind adaptive roots,
  // materialized query stages, and reused exchanges
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Nil
    }
    p +: (p.children ++ extra).flatMap(allNodes)
  }

  test("trailing deletes: one scan, broadcast anti-joins, no data shuffle") {
    val s = spark; import s.implicits._
    val wh = new Warehouse(spark,
      Files.createTempDirectory("graft_delplan").toString)
    val r = Relation("db", "sch", "t_plan")
    wh.writeAtomic((1L to 10000L).map(i => (i, i % 7)).toDF("id", "g"), r)
    wh.deleteKeys(r, Seq(5L, 6L).toDF("id"))
    val df = wh.read(r)
    df.collect()
    val plan = allNodes(df.queryExecution.executedPlan).distinct
    val scans = plan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
    // data scan + delete-key scan — exactly two, no N-way union
    assert(scans.size == 2, s"expected 2 scans, got ${scans.size}")
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(bhj.size == 1 && bhj.head.joinType.sql == "LEFT ANTI",
      s"delete must be one broadcast LEFT ANTI join, got ${bhj.map(_.joinType)}")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"delete application must not shuffle the data side, found ${exchanges.size}")
  }
}
