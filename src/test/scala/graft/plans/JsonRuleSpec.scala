package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ConsolidateJsonGets: the rewrite must change the PLAN (one json_tuple
  * generate instead of N get_json_object parses) and must not change a
  * single result cell, including null / corrupt / non-object / missing
  * field shapes.
  */
class JsonRuleSpec extends SparkSpec {

  import spark.implicits._

  private def withRule[A](body: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ ConsolidateJsonGets
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == ConsolidateJsonGets)
  }

  // parquet-backed, not a local Seq: ConvertToLocalRelation would eval a
  // LocalRelation projection eagerly and the optimized plan would show
  // neither form
  private lazy val fixturePath: String = {
    val dir = graft.store.LocalFs.scratchDir("graft-jsonrule").toString
    Seq(
      (1L, """{"a": 1, "b": "two", "c": {"d": 3}}"""),
      (2L, """{"a": null, "b": "x"}"""),          // explicit null field
      (3L, """{"b": "only"}"""),                  // missing a
      (4L, null.asInstanceOf[String]),            // null document
      (5L, """not json at all"""),                // corrupt
      (6L, """[1, 2, 3]"""),                      // non-object root
      (7L, """{"a": [1, {"x": 2}], "b": 7.5}""")) // nested values as text
      .toDF("id", "props")
      .write.mode("overwrite").parquet(s"$dir/j.parquet")
    s"$dir/j.parquet"
  }

  private def fixture: DataFrame = spark.read.parquet(fixturePath)

  private def pierce(df: DataFrame): DataFrame =
    df.select(col("id"),
      get_json_object(col("props"), "$.a").as("a"),
      get_json_object(col("props"), "$.b").as("b"),
      get_json_object(col("props"), "$.c").as("c"))

  test("rewrites >=2 same-column gets to one json_tuple; results identical") {
    val baseline = pierce(fixture).orderBy("id").collect().toSeq
    withRule {
      val q = pierce(fixture)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("json_tuple"), s"expected generate:\n$opt")
      assert(!opt.contains("get_json_object"),
        s"all three gets should consolidate:\n$opt")
      assert(q.orderBy("id").collect().toSeq === baseline)
    }
  }

  test("single get and non-simple paths are left alone") {
    withRule {
      val single = fixture.select(get_json_object(col("props"), "$.a").as("a"))
      assert(!single.queryExecution.optimizedPlan.toString.contains("json_tuple"))
      // nested path + one simple path: only ONE simple field -> no rewrite
      val nested = fixture.select(
        get_json_object(col("props"), "$.c.d").as("cd"),
        get_json_object(col("props"), "$.a").as("a"))
      val opt = nested.queryExecution.optimizedPlan.toString
      assert(!opt.contains("json_tuple"), s"nested paths must survive:\n$opt")
      assert(opt.contains("get_json_object"))
    }
  }

  test("row counts preserved for null/corrupt docs (json_tuple emits null row)") {
    withRule {
      assert(pierce(fixture).count() === 7L)
    }
  }

  test("mixed: rewritten fields coexist with a kept nested-path get") {
    val q = (df: DataFrame) => df.select(col("id"),
      get_json_object(col("props"), "$.a").as("a"),
      get_json_object(col("props"), "$.b").as("b"),
      get_json_object(col("props"), "$.c.d").as("cd"))
    val baseline = q(fixture).orderBy("id").collect().toSeq
    withRule {
      val opt = q(fixture).queryExecution.optimizedPlan.toString
      assert(opt.contains("json_tuple") && opt.contains("get_json_object"),
        s"a+b consolidate, c.d stays:\n$opt")
      assert(q(fixture).orderBy("id").collect().toSeq === baseline)
    }
  }
}
