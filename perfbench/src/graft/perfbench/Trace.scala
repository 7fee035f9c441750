package graft.perfbench

import scala.collection.mutable

/** One timed interval. Spans of one op share `op`; `parent` is the index of
  * the enclosing span in the same [[Trace]], or -1 for an op's root span.
  */
final case class Span(op: String, name: String, parent: Int, startNs: Long, endNs: Long) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory while the benchmark runs and written out at exit.
  * When disabled, [[span]] only runs its body.
  */
final class Trace(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(op, name, parent, System.nanoTime(), 0L)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** A span measured elsewhere, in wall-clock ms, placed under the latest
    * span of op `op` that overlaps it and clamped to that parent (the ms
    * clock is coarser than the spans' nanoseconds).
    */
  def addWallMs(op: String, name: String, startMs: Long, endMs: Long,
      wallToNano: Long => Long): Unit = if (enabled) {
    val s = wallToNano(startMs)
    val e = math.max(s, wallToNano(endMs + 1))
    spans.indices.reverseIterator.find { i =>
      val p = spans(i)
      p.op == op && p.startNs <= e && p.endNs >= s
    }.foreach { i =>
      val p = spans(i)
      spans += Span(op, name, i, math.max(s, p.startNs), math.min(e, p.endNs))
    }
  }

  /** Self time of each span: its duration minus the union of its children. */
  def selfTimes: IndexedSeq[Double] = {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val kids = children.getOrElse(i, Nil).map(spans).sortBy(_.startNs)
      var covered = 0L
      var upTo = spans(i).startNs
      kids.foreach { k =>
        val s = math.max(k.startNs, upTo)
        val e = math.min(k.endNs, spans(i).endNs)
        if (e > s) { covered += e - s; upTo = e }
      }
      (spans(i).endNs - spans(i).startNs - covered) / 1e9
    }
  }

  /** Per span name: count, total seconds and self seconds. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val self = selfTimes
    spans.indices.groupBy { i =>
      val s = spans(i)
      if (s.parent < 0) "op" else s.name
    }.toSeq.sortBy(_._1).map { case (n, is) =>
      (n, is.size, is.map(spans(_).sec).sum, is.map(self).sum)
    }
  }

  def writeJson(path: String, extra: String): Unit = {
    val self = selfTimes
    val sb = new StringBuilder("{\"spans\":[")
    spans.indices.foreach { i =>
      val s = spans(i)
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":$i,"op":${Json.str(s.op)},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${self(i)}}""")
    }
    sb.append("],\"summary\":[")
    sb.append(summary.map { case (n, c, t, sf) =>
      s"""{"name":${Json.str(n)},"count":$c,"total_s":$t,"self_s":$sf}"""
    }.mkString(","))
    sb.append("],").append(extra).append('}')
    Json.write(path, sb.toString)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def write(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
}
