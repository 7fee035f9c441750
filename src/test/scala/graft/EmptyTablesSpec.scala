package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query must DEGRADE, not crash, on empty tables — the
  * defect class behind the r12-ADVICE q88 finding (driver-side `.head`
  * unpacking nulls from an aggregate over zero rows). An empty partition,
  * an empty date slice, or a fresh store is a normal production state;
  * a query that NPEs there is a defect even when every gated SF passes.
  *
  * The spec materializes schema-identical EMPTY parquet copies of all ten
  * TESTDATA tables once, then runs every `SparkEntry.queries` entry
  * against them. The assertion is "no exception" (plus a schema: the
  * result must still HAVE its columns); row counts are free to be zero —
  * and usually are, but e.g. q88-style short-circuits may emit constants.
  */
class EmptyTablesSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.session

  private lazy val emptyDir: String = {
    val dir = graft.store.LocalFs.scratchDir("graft-empty").toString
    val src = "/root/testdata/sf0.001"
    for (t <- Tables.all) {
      val schema = spark.read.parquet(s"$src/$t.parquet").schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name degrades to empty (not a crash) on empty tables") {
      Tables.invalidate(emptyDir)
      val df = fn(spark, emptyDir)
      assert(df.columns.nonEmpty, "result must keep its schema")
      df.collect() // the assertion is: no exception
    }
  }
}
