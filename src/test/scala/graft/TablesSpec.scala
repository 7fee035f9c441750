package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.TimestampType

/** Scan-memo semantics: reuse within a session, explicit refresh for
  * long-lived sessions (the memo pins the file listing at first read).
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  test("memoized scan pins the listing; invalidate makes new files visible") {
    val dir = graft.store.LocalFs.scratchDir("graft-tables").toString
    Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() === 3)
    // same memoized plan comes back: the post-first-read arrival is invisible
    Seq(4, 5).toDF("x").write.mode("append").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() === 3)
    Tables.invalidate(dir)
    assert(Tables.load(spark, dir, "t").count() === 5)
    // other directories' memos survive an unrelated invalidate
    val other = Tables.load(spark, dir, "t")
    Tables.invalidate("/nonexistent")
    assert(Tables.load(spark, dir, "t") eq other)
  }

  test("events reads TIMESTAMP(NANOS) and leaves the session conf as it found it") {
    val dir = graft.store.LocalFs.scratchDir("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); required int64 id; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    Seq(1700000000123456000L, 1700000001000000000L).zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("ts", ns).append("id", i.toLong))
    }
    w.close()
    val before = spark.conf.getAll
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.orderBy("id").select(unix_micros(col("ts"))).as[Long].collect().toSeq ===
      Seq(1700000000123456L, 1700000001000000L))
    assert(spark.conf.getAll === before)
  }
}
