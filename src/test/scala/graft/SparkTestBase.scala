package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt with fork=true). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Generated-code compilations (Janino) this JVM runs while `f` runs. In a
    * local session the executors share the JVM, so task-side codegen counts
    * too; a compile served from Spark's code cache does not. */
  def compilesDuring(f: => Any): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    f
    compiles.getCount - before
  }

  /** The lake-table scans (relations partitioned by `_bucket`) of an
    * executed plan, through adaptive stages, reused exchanges and
    * subqueries. */
  def lakeScans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
    case s: FileSourceScanExec
        if s.relation.partitionSchema.fieldNames.contains(graft.lake.LakeTable.BucketCol) => Seq(s)
    case a: AdaptiveSparkPlanExec => lakeScans(a.executedPlan)
    case q: QueryStageExec => lakeScans(q.plan)
    case r: ReusedExchangeExec => lakeScans(r.child)
    case o => o.children.flatMap(lakeScans)
  }) ++ p.subqueries.flatMap(lakeScans)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sfDir: String = SparkTestBase.sfDir
}
