package graft

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
