package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: one JVM-wide session built by
  * `GraftSession.builder`, so every spec sees the shipped session shape —
  * the optimizer rules (ConsolidateJsonGets, GenerateStatsGuard), the scan
  * splits, and the codegen cache size, which is static and fixed by the
  * JVM's first session. A plan or compile assertion that passes on a
  * hand-copied conf list tests a session no user runs.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs the session's context submitted while `body` ran. */
  def jobsOf(body: => Unit): Long = {
    val tally = new Bench.CpuTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val before = tally.settled()
      body
      (tally.settled() - before).jobs
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  /** `body` with the session confs `kv` set, each restored after. */
  def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Classes Janino compiled in this JVM while `body` ran. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
