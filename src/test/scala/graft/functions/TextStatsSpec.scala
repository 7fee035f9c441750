package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins `text_stats` to the compositional Spark forms it replaced (q32/q33
  * r14 → r15): for every field, the native one-pass scan must agree with
  * size(split/array_distinct/filter/regexp_extract_all) on the same input —
  * including the empty string, runs of spaces, >4-char alnum runs, exact
  * multiples of 4, punctuation, and multi-byte UTF-8 codepoints.
  */
class TextStatsSpec extends SparkSpec {

  import spark.implicits._

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is")

  private val cases = Seq(
    "",
    " ",
    "   ",
    "the cat sat of the mat",
    "a",
    "abcd",
    "abcde",
    "abcdefgh",
    "abcdefghi",
    "hello, world! the answer is 42.",
    "x".*(255) + " " + "y".*(256),
    "dup dup dup unique the the",
    "tab\tand:newline\nchars!",
    "café naïve 世界",   // multi-byte UTF-8 codepoints
    "emoji 😀 pair",             // supplementary (4-byte UTF-8)
    "trailing space ",
    " leading",
    "double  space",
    "a1b2c3d4e5 12345 !!??")

  test("every field agrees with the compositional definition") {
    val df = cases.toDF("text")
    val toks = split(col("text"), " ")
    val expected = df.select(
      col("text"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_unique_tokens"),
      size(filter(toks, t => t.isin(stop: _*))).as("n_stopword_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9 ]"), lit(0))).as("n_subword_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[^A-Za-z0-9 ]"), lit(0))).as("n_punct_chars"),
      length(col("text")).as("n_chars")).collect()
    val got = df.select(col("text"),
      TextStats.text_stats("text", stop).as("st"))
      .select(col("text"), col("st.*")).collect()
    for ((e, g) <- expected.zip(got)) {
      assert(g.getString(0) === e.getString(0))
      for (i <- 1 to 6)
        assert(g.getInt(i) === e.getInt(i),
          s"field $i mismatch on ${e.getString(0).take(40)}")
    }
  }

  test("null text yields null struct; SQL registration works") {
    val r = spark.sql(
      "SELECT text_stats(t, 'the') AS st FROM VALUES ('the x'), (NULL) v(t)")
      .select(col("st.n_tokens"), col("st.n_stopword_tokens")).collect()
    assert(r(0).getInt(0) === 2 && r(0).getInt(1) === 1)
    assert(r(1).isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // range-backed input: a local Seq constant-folds to LocalTableScan
    val df = spark.range(1)
      .select(concat(lit("a b "), col("id").cast("string")).as("text"))
      .select(TextStats.text_stats("text").as("st"))
      .select(col("st.n_tokens"))
    val wsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(wsc, df.queryExecution.executedPlan.toString)
    assert(df.collect().head.getInt(0) === 3)
  }
}
