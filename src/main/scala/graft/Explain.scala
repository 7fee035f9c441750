package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection tool: dumps `.explain("formatted")` for one query (or all)
  * so plan regressions (lost pushdown, unexpected shuffles, missed broadcast)
  * are visible. Usage: runMain graft.Explain <sfDir> [queryName]; redirect
  * stdout to keep a plan (`plans/rNN/<query>_<suffix>.txt`). It only plans:
  * timing belongs to [[Bench]] (SPARK_GRAFT_QUERIES narrows its sweep).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_ == n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
