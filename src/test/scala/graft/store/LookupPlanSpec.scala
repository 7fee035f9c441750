package graft.store

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.{Lag, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The plans of the store lookups `perfbench`'s `store_rw` draws, over the
  * canonical mini-dataset (FIXTURES.md §1, 3 games). Each bounded lookup
  * orders its rows after one exchange; a global `orderBy` would add a
  * range-partition sampling job and its exchange. The job counts pin that,
  * the compile counts pin that a new literal reuses the shape's classes,
  * and the order cases pin that no rewrite changed a row or its position.
  */
class LookupPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  // game-003 renamed game-006: with 4 shuffle partitions game-001 and
  // game-003 hash to the same one, game-006 to its own
  private val games = Seq("game-001", "game-002", "game-006")
  private lazy val storePath: String = {
    val dir = graft.store.LocalFs.scratchDir("graft-lookups").toString
    val envs = Fixture.envelopes(spark).withColumn("game_id",
      when(col("game_id") === "game-003", "game-006").otherwise(col("game_id")))
    EventStore.write(envs, dir, SaveMode.Overwrite)
    dir
  }
  private lazy val env: DataFrame = EventStore.read(spark, storePath)

  /** `body` with AQE's partition coalescing off, so each game's window
    * partition stays its own (the fixture's KB coalesce to one otherwise).
    */
  private def uncoalesced[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, prev)
  }

  test("EventStore.read submits 1 job (the schema merge)") {
    val path = storePath
    assert(jobsOf(EventStore.read(spark, path)) === 1)
  }

  private val lookups: Seq[(String, Long, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("gameEpisode", 2L,
      EventQueriesApi.gameEpisode(_, "game-001"), EventQueriesApi.gameEpisode(_, "game-002")),
    ("tickFeatures of one game", 2L,
      EventQueriesApi.tickFeatures(_, Some("game-001")),
      EventQueriesApi.tickFeatures(_, Some("game-006"))),
    ("listGamesPaged", 2L,
      EventQueriesApi.listGamesPaged(_, "ts", 0, 2),
      EventQueriesApi.listGamesPaged(_, "ts", 1, 2)),
    ("recentEvents", 1L,
      EventQueriesApi.recentEvents(_, 3), EventQueriesApi.recentEvents(_, 5)),
    ("docTypeStats", 3L, EventQueriesApi.docTypeStats, EventQueriesApi.docTypeStats))

  for ((name, jobs, first, _) <- lookups) {
    test(s"$name submits $jobs jobs") {
      env.schema // the read's schema-merge job runs before the count
      assert(jobsOf(first(env).collect()) === jobs)
    }
  }

  for ((name, _, first, again) <- lookups) {
    test(s"$name run again with a different literal compiles no class") {
      val cold = compiles(first(env).collect())
      val warm = compiles(again(env).collect())
      assert(warm === 0, s"second $name recompiled $warm classes; first run $cold")
    }
  }

  test("the fixture's games hash to different shuffle partitions") {
    val parts = env.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("game_id"))
      .filter(col("game_id").isNotNull)
      .select(col("game_id"), spark_partition_id().as("p")).distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(parts.keySet === games.toSet)
    assert(parts.values.toSet.size === games.size, s"$parts")
  }

  for (coalesced <- Seq(true, false)) {
    val mode = if (coalesced) "coalesced" else "uncoalesced"
    test(s"one game's episode and features equal a global orderBy ($mode partitions)") {
      def run[T](body: => T): T = if (coalesced) body else uncoalesced(body)
      games.foreach { g =>
        run {
          val ep = EventQueriesApi.gameEpisode(env, g)
          assert(ep.collect().toSeq === ep.orderBy("seq").collect().toSeq, g)
          val tf = EventQueriesApi.tickFeatures(env, Some(g))
          val rows = tf.collect().toSeq
          assert(rows.nonEmpty)
          assert(rows === tf.orderBy("game_id", "seq").collect().toSeq, g)
        }
      }
    }
  }

  test("tickFeatures of every game stays ordered across games and partitions") {
    uncoalesced {
      def keys(df: DataFrame) =
        df.collect().toSeq.map(r => (r.getAs[String]("game_id"), r.getAs[Long]("seq")))
      val ordered = keys(EventQueriesApi.tickFeatures(env))
      assert(ordered.map(_._1).distinct === games)
      assert(ordered === ordered.sorted)
      // the same features ordered only within their game_id hash
      // partitions come back in partition order, which for these ids is
      // not game_id order: the check above can fail
      val local = keys(EventQueriesApi.tickFeatures(env)
        .repartition(col("game_id")).sortWithinPartitions("game_id", "seq"))
      assert(local.sorted === ordered)
      assert(local !== ordered)
    }
  }

  test("tickFeatures computes its lag and its running max once") {
    val tf = EventQueriesApi.tickFeatures(env, Some("game-001"))
    tf.collect()
    val fns = collect(tf.queryExecution.executedPlan) { case w: WindowExec =>
      w.windowExpression.flatMap(_.collect { case WindowExpression(f, _) => f })
    }.flatten
    assert(fns.count(_.isInstanceOf[Lag]) === 1, fns)
    assert(fns.count {
      case AggregateExpression(_: Max, _, _, _, _) => true
      case _ => false
    } === 1, fns)
  }
}
