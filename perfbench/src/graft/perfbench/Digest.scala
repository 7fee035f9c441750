package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: its row count and the sum of one
  * 64-bit hash per row, computed in Spark so it scales with the result.
  *
  * Each cell is first written in a canonical form: columns in name order,
  * floating-point values as 10 significant digits (the last bits of a
  * parallel sum may differ between core counts; the oracle check compares
  * the values themselves), binary values by SHA-256, maps by sorted
  * entries, everything else as its string cast.
  */
object Digest {
  final case class Value(rows: Long, hash: String) {
    def json: String = s"""{"rows":$rows,"hash":${Json.str(hash)}}"""
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      format_string("%.9e", when(d === 0.0, lit(0.0)).otherwise(d))
    case BinaryType => sha2(c, 256)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.sortBy(_.name)
    val cells = fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = df.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Value(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Goldens file: `{"<op>": {"rows": n, "hash": "..."}, ...}`. */
  def load(path: String): Map[String, Value] = {
    val f = new java.io.File(path)
    if (!f.exists) return Map.empty
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val entry = "\"([^\"]+)\"\\s*:\\s*\\{([^}]*)\\}".r
    val rows = "\"rows\"\\s*:\\s*(\\d+)".r
    val hash = "\"hash\"\\s*:\\s*\"(-?\\d+)\"".r
    entry.findAllMatchIn(s).map { m =>
      val body = m.group(2)
      m.group(1) -> Value(rows.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L),
        hash.findFirstMatchIn(body).map(_.group(1)).getOrElse(""))
    }.toMap
  }
}
