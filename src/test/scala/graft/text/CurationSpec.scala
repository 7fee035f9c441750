package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the curation operators (q57/q58/q59) beyond the oracle's
  * cell-exact check — properties that must hold on ANY corpus.
  */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  private def corpus(dir: String, rows: (Long, String)*): Unit =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q57 packing: token conservation, contiguous doc ranges, ordered packs") {
    val dir = graft.store.LocalFs.scratchDir("graft-pack").toString
    val rnd = new scala.util.Random(7L)
    corpus(dir, (1L to 200L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(200))("w").mkString(" ")): _*)
    val packs = TextQueries.q57SequencePacking(spark, dir).collect()
    val totalTokens = spark.read.parquet(s"$dir/documents.parquet")
      .select(sum(size(split(col("text"), " ")))).head().getLong(0)
    // every token lands in exactly one pack
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum === totalTokens)
    assert(packs.map(_.getAs[Long]("n_docs")).sum === 200L)
    // a pack never spans shards
    assert(packs.forall { r =>
      val sh = r.getAs[Long]("shard")
      r.getAs[Long]("first_doc") / TextQueries.PackShardDocs == sh &&
        r.getAs[Long]("last_doc") / TextQueries.PackShardDocs == sh
    })
    // packs partition the doc-id line into contiguous, ordered ranges:
    // shard = doc_id div K is monotone in doc_id, so (shard, pack_id)
    // order IS global doc order, and a pack never spans shards
    val ranges = packs
      .sortBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id")))
      .map(r => (r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
    assert(ranges.forall { case (a, b) => a <= b })
    ranges.sliding(2).foreach {
      case Array((_, lastA), (firstB, _)) => assert(lastA < firstB)
      case _ =>
    }
  }

  test("q78: duplicated spans have exact boundaries; unique and short docs emit none") {
    // Planted geometry (W=8): a 12-token run shared verbatim between docs
    // 1 and 2 at different offsets, a doc-3 with all-unique tokens, a
    // doc-4 repeating a 9-token run WITHIN itself, and a 5-token doc that
    // cannot hold a window. Only windows fully inside a duplicated run
    // are flagged (straddling windows mix unique tokens), so each span
    // must be exactly the shared run: starts s..s+run-W, end s+run.
    val dir = graft.store.LocalFs.scratchDir("graft-dspan").toString
    val shared = (1 to 12).map(i => s"s$i")
    val rep = (1 to 9).map(i => s"p$i")
    corpus(dir,
      1L -> ((1 to 20).map(i => s"u$i") ++ shared ++ (21 to 30).map(i => s"u$i")).mkString(" "),
      2L -> ((1 to 15).map(i => s"v$i") ++ shared ++ (16 to 20).map(i => s"v$i")).mkString(" "),
      3L -> (1 to 40).map(i => s"c$i").mkString(" "),
      4L -> ((1 to 5).map(i => s"x$i") ++ rep ++ (1 to 3).map(i => s"y$i") ++
        rep ++ (1 to 2).map(i => s"z$i")).mkString(" "),
      5L -> (1 to 5).map(i => s"t$i").mkString(" "))
    val out = TextQueries.q78DupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: shared at 1-based 21..32 -> starts 21..25, span [21, 33)
    // doc 2: shared at 16..27 -> starts 16..20, span [16, 28)
    // doc 4: rep at 6..14 and 18..26 -> spans [6, 15) and [18, 27),
    //        11 > W apart so they must NOT merge
    assert(out === Seq(
      (1L, 21L, 33L, 5L),
      (2L, 16L, 28L, 5L),
      (4L, 6L, 15L, 2L),
      (4L, 18L, 27L, 2L)))
  }

  test("q79: target-like raw docs outscore disjoint ones; target docs are excluded") {
    // Target domain = min(source) = "a". Its docs use vocabulary q1..q20;
    // raw doc 10 is written in that vocabulary, raw doc 11 in a disjoint
    // one — DSIR must rank 10 above 11, and no target doc may appear in
    // the scored output (selection is over the raw pool only).
    val dir = graft.store.LocalFs.scratchDir("graft-dsir").toString
    val tgtText = (i: Int) => (1 to 30).map(j => s"q${(i * 7 + j) % 20 + 1}").mkString(" ")
    val rows = Seq(
      (1L, tgtText(1), "a"), (2L, tgtText(2), "a"), (3L, tgtText(3), "a"),
      (10L, tgtText(4), "b"),                       // target-like raw doc
      (11L, (1 to 30).map(j => s"zz$j").mkString(" "), "b")) // disjoint raw doc
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.q79DsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet === Set(10L, 11L), "only raw docs are scored")
    assert(out(10L) > out(11L),
      s"target-like doc must outscore disjoint doc: ${out(10L)} vs ${out(11L)}")
  }

  test("q80: disjoint raw doc hits the ln(V) OOV ceiling; target-like text scores lower") {
    // Target domain = min(source) = "a". A document whose every bigram is
    // unseen scores exactly avg_nll = ln(V) (each Laplace term is
    // ln(1/(0+V))) with oov_rate 1.0 — a closed form the query must hit.
    // A raw doc written in the target's own transition structure must
    // score strictly lower, and bucket labels must be consistent with the
    // score order (every head score <= every middle <= every tail).
    val dir = graft.store.LocalFs.scratchDir("graft-ppl").toString
    val tgtText = (i: Int) => (1 to 40).map(j => s"q${(i + j) % 10 + 1}").mkString(" ")
    val rows = Seq(
      (1L, tgtText(0), "a"), (2L, tgtText(3), "a"), (3L, tgtText(6), "a"),
      (10L, tgtText(1), "b"),                        // target-like raw doc
      (11L, (1 to 40).map(j => s"zz$j").mkString(" "), "b")) // fully OOV doc
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.q80LmPerplexity(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 10L, 11L),
      "CCNet scores every document, target domain included")
    val byId = out.map(r => r.getLong(0) ->
      (r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
    val v = rows.filter(_._3 == "a").flatMap(_._2.split(" ")).distinct.size
    val expected = BigDecimal(math.log(v))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byId(11L)._1 === expected,
      s"fully-OOV doc must score ln(V)=ln($v): got ${byId(11L)._1}")
    assert(byId(11L)._2 === 1.0)
    assert(byId(10L)._1 < byId(11L)._1,
      "target-like raw doc must out-score (lower nll) the disjoint doc")
    assert(byId(10L)._2 < 1.0)
    val byBucket = out.groupBy(_.getString(4))
      .view.mapValues(_.map(_.getDouble(2))).toMap
    for {
      h <- byBucket.getOrElse("head", Array.empty[Double])
      m <- byBucket.getOrElse("middle", Array.empty[Double])
    } assert(h <= m, s"head score $h above middle score $m")
    for {
      m <- byBucket.getOrElse("middle", Array.empty[Double])
      t <- byBucket.getOrElse("tail", Array.empty[Double])
    } assert(m <= t, s"middle score $m above tail score $t")
  }

  // reference winnowing (Schleimer et al. 2003, robust rule: rightmost
  // minimal hash per window), brute-forced over the same portable hash
  private def md5h32(s: String): Long =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))

  private def winnowRef(tokens: Seq[String]): Set[Long] = {
    val k = TextQueries.WinnowK
    val w = TextQueries.WinnowW
    val hs = tokens.sliding(k).map(_.mkString(" ")).map(md5h32).toVector
    (0 to hs.length - w).map { j =>
      val win = hs.slice(j, j + w)
      val mh = win.min
      hs((j until j + w).filter(hs(_) == mh).max)
    }.toSet
  }

  test("q81: overlap counts equal brute-force winnowing; boilerplate cap kills mass dups") {
    // Docs 1 and 2 share a 20-token run (>= w+k-1 guarantees shared
    // fingerprints); doc 3 is unique. n_shared must equal the size of the
    // brute-force fingerprint intersection.
    val dir = graft.store.LocalFs.scratchDir("graft-winnow").toString
    val shared = (1 to 20).map(i => s"s$i")
    val d1 = (1 to 10).map(i => s"u$i") ++ shared ++ (11 to 18).map(i => s"u$i")
    val d2 = (1 to 6).map(i => s"v$i") ++ shared ++ (7 to 15).map(i => s"v$i")
    val d3 = (1 to 40).map(i => s"c$i")
    corpus(dir, 1L -> d1.mkString(" "), 2L -> d2.mkString(" "),
      3L -> d3.mkString(" "))
    val out = TextQueries.q81WinnowOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = (winnowRef(d1) intersect winnowRef(d2)).size.toLong
    assert(expect >= 1, "planted run must guarantee a shared fingerprint")
    assert(out.keySet === Set((1L, 2L)), s"only docs 1,2 overlap: $out")
    assert(out((1L, 2L)) === expect,
      s"n_shared must equal brute-force winnowing intersection ($expect)")
    // 60 identical docs: every shared fingerprint has df=60 > WinnowDocCap
    // => all dropped, no pairs — the boilerplate guard, not an explosion
    val dir2 = graft.store.LocalFs.scratchDir("graft-winnow2").toString
    val same = (1 to 30).map(i => s"b$i").mkString(" ")
    corpus(dir2, (1L to 60L).map(_ -> same): _*)
    assert(TextQueries.q81WinnowOverlap(spark, dir2).collect().isEmpty,
      "fingerprints in > WinnowDocCap docs are boilerplate and must drop")
  }

  test("q82: Gumbel-top-k sample equals brute force, only raw docs, deterministic") {
    // Same corpus shape as the q79 spec but with enough raw docs that the
    // k=50 cap bites nothing (selection order is still fully exercised).
    // Brute force replicates key = round(log_weight - ln(-ln(u)), 6) from
    // q79's published scores — same JVM Math.log, so exact equality.
    val dir = graft.store.LocalFs.scratchDir("graft-gumbel").toString
    val tgtText = (i: Int) => (1 to 30).map(j => s"q${(i * 7 + j) % 20 + 1}").mkString(" ")
    val rows = Seq((1L, tgtText(1), "a"), (2L, tgtText(2), "a")) ++
      (10L to 29L).map(i => (i, tgtText(i.toInt), "b"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val weights = TextQueries.q79DsirWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def u(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      (h + 0.5) / 4294967296.0
    }
    val brute = weights.map { case (id, src, lw) =>
      val key = BigDecimal(lw - math.log(-math.log(u(id))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, src, lw, key)
    }.sortBy(t => (-t._4, t._1)).take(TextQueries.DsirSampleK)
    val got = TextQueries.q82DsirSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq === brute.toSeq)
    assert(got.forall(_._2 == "b"), "only raw docs are sampled (q79 scores only raw)")
    val again = TextQueries.q82DsirSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(again.toSeq === got.map(r => (r._1, r._4)).toSeq, "sampling is deterministic")
  }

  test("q58: a verbatim eval copy of a train doc is flagged; disjoint text is not") {
    val dir = graft.store.LocalFs.scratchDir("graft-decon").toString
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    // hashBucket01(1)=train? pick ids empirically: find a train id and an
    // eval id under the 0.8 split
    val ids = (1L to 40L)
    val bucket = ids.map(i => i -> {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      h.toDouble / 4294967295.0
    }).toMap
    val trainId = ids.find(bucket(_) < 0.8).get
    val evalIds = ids.filter(bucket(_) >= 0.8).take(2)
    val Seq(evalCopy, evalClean) = evalIds.toSeq
    corpus(dir,
      trainId -> shared,
      evalCopy -> shared, // verbatim copy => must be flagged
      evalClean -> (1 to 12).map(i => s"other$i").mkString(" "))
    val out = TextQueries.q58Decontamination(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(evalCopy) === true)
    assert(out(evalClean) === false)
    // short eval doc still appears, unflagged (8-gram check cannot see
    // it); fresh dir — Tables.load memoizes the file listing per dir
    val dir2 = graft.store.LocalFs.scratchDir("graft-decon2").toString
    corpus(dir2,
      trainId -> shared,
      evalCopy -> "tok1 tok2 tok3")
    val short = TextQueries.q58Decontamination(spark, dir2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(short(evalCopy) === false)
  }
}
