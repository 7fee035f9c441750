package graft.store

import graft.SparkSpec
import org.scalatest.BeforeAndAfterAll

class JdbcSinkSpec extends SparkSpec with BeforeAndAfterAll {

  import spark.implicits._

  private lazy val root = graft.store.LocalFs.scratchDir("graft-derby")

  // Embedded Derby writes derby.log into the working directory (the
  // checkout) unless this is set before it boots; it boots on this spec's
  // first connection and reads the property once.
  private val derbyLog = "derby.stream.error.file"
  private var prevDerbyLog: Option[String] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    prevDerbyLog = sys.props.get(derbyLog)
    sys.props(derbyLog) = root.resolve("derby.log").toString
  }

  override def afterAll(): Unit =
    try prevDerbyLog match {
      case Some(v) => sys.props(derbyLog) = v
      case None => sys.props -= derbyLog
    } finally super.afterAll()

  private def freshUrl(): String = {
    val dir = java.nio.file.Files.createTempDirectory(root, "db").toString
    s"jdbc:derby:$dir/gamesdb;create=true"
  }

  private def game(id: String, ts: Long, peak: Double) = (id, ts, peak, true)

  test("migration is idempotent: re-running the same batch inserts nothing") {
    val url = freshUrl()
    val batch = Seq(game("g1", 1000L, 2.5), game("g2", 2000L, 1.1),
      game("g3", 3000L, 9.9))
      .toDF("game_id", "timestamp_ms", "peak_multiplier", "rugged")
    assert(JdbcSink.appendIdempotent(batch, url, "game_history", "game_id") === 3L)
    assert(JdbcSink.appendIdempotent(batch, url, "game_history", "game_id") === 0L)
    val back = spark.read.jdbc(url, "game_history", new java.util.Properties)
    assert(back.count() === 3)
    assert(back.select("game_id").distinct().count() === 3)
  }

  test("overlapping batch inserts only novel keys; in-batch dups collapse") {
    val url = freshUrl()
    val first = Seq(game("g1", 1000L, 2.5), game("g2", 2000L, 1.1))
      .toDF("game_id", "timestamp_ms", "peak_multiplier", "rugged")
    assert(JdbcSink.appendIdempotent(first, url, "game_history", "game_id") === 2L)
    // g1/g2 already present; g4 appears twice in the batch -> one insert,
    // and keepMinOf makes the kept row the EARLIEST by timestamp
    // (deterministic keep-first regardless of partitioning)
    val overlap = Seq(game("g1", 1000L, 2.5), game("g2", 2000L, 1.1),
      game("g4", 4001L, 3.4), game("g4", 4000L, 3.3))
      .toDF("game_id", "timestamp_ms", "peak_multiplier", "rugged")
    assert(JdbcSink.appendIdempotent(overlap, url, "game_history", "game_id",
      keepMinOf = Seq("timestamp_ms")) === 1L)
    val back = spark.read.jdbc(url, "game_history", new java.util.Properties)
    assert(back.count() === 3)
    assert(back.select("game_id").as[String].collect().sorted === Array("g1", "g2", "g4"))
    assert(back.filter($"game_id" === "g4").select("peak_multiplier")
      .head().getDouble(0) === 3.3)
  }

  test("keepMinOf ties break on remaining columns, not shuffle order") {
    val url = freshUrl()
    // same key, SAME timestamp: the tiebreak must pick the min remaining
    // columns (peak 3.3) deterministically, repartitioned or not
    val batch = Seq(game("g1", 1000L, 3.4), game("g1", 1000L, 3.3))
      .toDF("game_id", "timestamp_ms", "peak_multiplier", "rugged")
      .repartition(8)
    JdbcSink.appendIdempotent(batch, url, "game_history", "game_id",
      keepMinOf = Seq("timestamp_ms"))
    val kept = spark.read.jdbc(url, "game_history", new java.util.Properties)
      .select("peak_multiplier").head().getDouble(0)
    assert(kept === 3.3)
  }

  test("primary key backstops a racing writer: raw duplicate append fails") {
    val url = freshUrl()
    val batch = Seq(game("g1", 1000L, 2.5))
      .toDF("game_id", "timestamp_ms", "peak_multiplier", "rugged")
    JdbcSink.appendIdempotent(batch, url, "game_history", "game_id")
    // bypassing the anti-join (as a concurrent writer effectively would
    // after both read existing keys) hits the PK constraint, not silence
    intercept[Exception] {
      batch.write.mode("append")
        .jdbc(url, "game_history", new java.util.Properties)
    }
  }
}
