import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object graft {
  /** A registered query: (session, scale-factor dir) => result DataFrame.
    * Matches the driver contract in SparkEntry.queries.
    */
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic [0,1) bucket from a key (D9/F10,
    * `backtest_service.py:262-265`): md5 first 8 hex chars / (2^32 - 1) —
    * bit-exact reproducible across engines and runs. The ONE definition
    * shared by the q18 oracle query and Backtest.withSplit so the split
    * semantics cannot drift apart.
    */
  def hashBucket01(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967295.0

  /** Run `body` with adaptive query execution disabled on `s`, restoring
    * the previous setting after. For SIZE-BOUNDED internal actions only —
    * the collects of `similarity.Lloyd.fit`, its one caller, whose
    * shuffles carry <= K·d slim partial rows (KB-scale at ANY corpus size
    * by construction, so AQE's coalescing/skew/join rewrites have nothing
    * to improve) while each AQE stage materialization costs one extra
    * sequential driver barrier per exchange per round (~40-150 ms locally;
    * a scheduling round-trip on a cluster). Never wrap a data-scale query
    * in this: the returned DataFrames of query paths execute OUTSIDE the
    * scope, under AQE.
    *
    * The settings are session-global, not scoped to `body`: while a fit is
    * inside this scope, the session must run no other query (from another
    * thread or otherwise), or that query plans with AQE off and
    * `reducePartitions` shuffle partitions.
    */
  def withAqeOff[T](s: SparkSession, reducePartitions: Int)(body: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    // without AQE the fit exchanges would run at the session's static
    // partition count — dozens of near-empty reduce tasks for KB of
    // partials. The caller passes a count derived from the PROBLEM size
    // (e.g. ceil(K/1024) for a K-centroid update), so the setting scales
    // with the model, not with the local core count.
    s.conf.set(keys.head, "false")
    s.conf.set(keys(1), math.max(1, reducePartitions).toString)
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
