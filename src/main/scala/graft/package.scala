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
}
