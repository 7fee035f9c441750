package graft

import graft.streaming.{Ingest, StreamingSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** A generated class compiles once per JVM, not once per session. The
  * codegen cache is keyed on the task thread's context class loader, and
  * with Spark's artifact isolation every session, and every clone a
  * streaming query start makes, runs its tasks under a loader of its own:
  * each new session recompiled what the JVM had already compiled.
  * `GraftSession.builder` turns isolation off; these pin that a new session,
  * a restarted ingest and a second dedup compile nothing already compiled.
  */
class SessionCodegenSpec extends SparkSpec {

  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("a query run again on a new session compiles no class") {
    def q(s: SparkSession) = s.range(0, 100000, 1, 4)
      .selectExpr("id % 97 AS k", "id * 3 AS v").groupBy("k").sum("v")
    val first = compiles(Bench.materialize(q(spark)))
    val again = compiles(Bench.materialize(q(spark.newSession())))
    assert(again === 0, s"new session recompiled $again classes; first run $first")
  }

  test("an ingest, stop and restart run again compiles no class") {
    def run() = compiles(StreamingSpec.ingestStopRestart(spark,
      StreamingSpec.tmp("graft-codegen-out"), StreamingSpec.tmp("graft-codegen-ckpt")))
    val first = run()
    val again = run()
    assert(again === 0, s"second ingest recompiled $again classes; first run $first")
  }

  test("a dedup run again compiles no class") {
    val games = (0 until 2000).map(i => (s"g${i / 10}", StreamingSpec.ts(1700000000000L + i * 5L)))
    def run(name: String) = compiles {
      val in = MemoryStream[(String, java.sql.Timestamp)]
      in.addData(games: _*)
      Ingest.dedupGameHistory(in.toDF().toDF("game_id", "ts"))
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    val first = run("codegen_dedup_1")
    val again = run("codegen_dedup_2")
    assert(spark.table("codegen_dedup_2").count() === 200)
    assert(again === 0, s"second dedup recompiled $again classes; first run $first")
  }
}
