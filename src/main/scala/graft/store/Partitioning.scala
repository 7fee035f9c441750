package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for 100 TB operation (SURVEY §4 + the builder
  * mandate): bucketing for shuffle-free co-located joins and per-entity
  * windows. Skewed aggregations and joins rely on AQE (`GraftSession`).
  *
  * The reference gets away with glob-scan-everything because its corpus is
  * small; at cluster scale the event store's heavy hitters are (a) the
  * events⋈events / events⋈games joins on the entity key and (b) per-entity
  * window sorts. Bucketing both sides by that key makes the join and the
  * window sort partition-local — the shuffle happens once at write time,
  * amortized over every subsequent query.
  */
object Partitioning {

  /** Write a table bucketed (and sorted) by the join/window key. Spark's
    * bucketed scan then satisfies HashClusteredDistribution without an
    * Exchange, and sorted buckets satisfy the window sort without a Sort.
    *
    * The pre-write `repartition(buckets, key)` matters: Spark's writer
    * emits one file per (task, bucket) pair, and the scan only REPORTS the
    * bucket-sort as its output ordering when every bucket is a single file
    * (two sorted files per bucket would interleave). Repartitioning on the
    * key uses the same Murmur3 `pmod` as the bucket spec, so each task
    * holds exactly one bucket's rows → one file per bucket → downstream
    * window/episode sorts are elided, which is the point of the layout.
    * This is the write-side shuffle that every subsequent query amortizes.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.repartition(buckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }
}
