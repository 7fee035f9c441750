package graft.similarity

import graft.SparkSpec
import graft.store.EventStore
import org.apache.spark.sql.functions._

class VectorIndexSpec extends SparkSpec {

  import spark.implicits._

  private def mkStore(dir: String, rows: Seq[(String, Long, String, String)]): Unit =
    EventStore.write(rows.toDF("session_id", "seq", "ts", "raw_json")
      .withColumn("doc_type", lit("ws_event")), dir)

  test("embed: deterministic, L2-normalized, input-sensitive") {
    val e = VectorIndex.embed(Seq(
      ("a", "the quick brown fox"), ("b", "the quick brown fox"),
      ("c", "completely different payload tokens")).toDF("id", "chunk_text"))
      .select("id", "embedding").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(e("a") === e("b"))
    assert(e("a") !== e("c"))
    val norm = math.sqrt(e("a").map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    assert(e("a").length === VectorIndex.Dim)
  }

  test("bucketIdf downweights ubiquitous tokens; embed uses the weights") {
    // model-based: buckets come from the same hash expression the code uses
    def bucketOf(tok: String): Int = Seq(tok).toDF("t")
      .select(pmod(xxhash64(col("t")), lit(VectorIndex.Dim)).cast("int"))
      .head().getInt(0)
    val (common, rare) = ("omnipresent", "unicorn")
    assume(bucketOf(common) != bucketOf(rare)) // no hash collision for this pair
    val corpus = Seq(
      ("d1", s"$common $rare"), ("d2", s"$common filler"),
      ("d3", s"$common other"), ("d4", s"$common more"))
      .toDF("id", "chunk_text")
    val idf = VectorIndex.bucketIdf(corpus)
    // common token: df=4 of N=4 -> ln(5/5)+1 = 1; rare: ln(5/2)+1
    assert(math.abs(idf(bucketOf(common)) - 1.0) < 1e-12)
    assert(math.abs(idf(bucketOf(rare)) - (math.log(5.0 / 2) + 1)) < 1e-12)
    // in the weighted embedding of d1 the rare component dominates;
    // unweighted they tie
    val emb = VectorIndex.embed(corpus.filter($"id" === "d1"), idf = Some(idf))
      .select("embedding").head().getSeq[Double](0)
    val unw = VectorIndex.embed(corpus.filter($"id" === "d1"))
      .select("embedding").head().getSeq[Double](0)
    assert(math.abs(emb(bucketOf(rare))) > math.abs(emb(bucketOf(common))))
    assert(math.abs(math.abs(unw(bucketOf(rare))) -
      math.abs(unw(bucketOf(common)))) < 1e-12)
  }

  test("build + incremental build + cell-partitioned search round trip") {
    val store = graft.store.LocalFs.scratchDir("graft-vstore").toString
    val index = graft.store.LocalFs.scratchDir("graft-vindex").toString + "/idx"
    mkStore(store, Seq(
      ("s1", 0L, "2024-01-01T00:00:00", "alpha bravo charlie delta"),
      ("s1", 1L, "2024-01-01T00:00:01", "alpha bravo charlie echo"),
      ("s2", 0L, "2024-01-01T00:00:02", "zulu yankee xray whiskey")))
    val ckpt1 = VectorIndex.build(spark, store, index, sinceTs = "", chunkSize = 1)
    assert(ckpt1 === "2024-01-01T00:00:02")
    // physical layout: cell= partitions (the fan-out reducer)
    val parts = new java.io.File(index).listFiles().map(_.getName)
    assert(parts.exists(_.startsWith("cell=")))
    // search finds the matching chunk first
    val hit = VectorIndex.search(spark, index, "alpha bravo charlie delta").head()
    assert(hit.getAs[String]("chunk_text").contains("alpha bravo charlie delta"))
    assert(hit.getAs[Double]("cosine") > 0.9)
    // idf weights were frozen by the first build
    val idf1 = VectorIndex.loadIdf(spark, index)
    assert(idf1.exists(_.length === VectorIndex.Dim))
    // incremental: a later event extends the index without rebuilding
    mkStore(store, Seq(("s3", 0L, "2024-01-01T00:00:05", "golf hotel india juliet")))
    val ckpt2 = VectorIndex.build(spark, store, index, sinceTs = ckpt1, chunkSize = 1)
    assert(ckpt2 === "2024-01-01T00:00:05")
    val hit2 = VectorIndex.search(spark, index, "golf hotel india juliet").head()
    assert(hit2.getAs[String]("chunk_text").contains("golf hotel"))
    // old content still indexed exactly once
    assert(spark.read.parquet(index).count() === 4)
    // the increment did NOT re-derive idf (geometry stays consistent)
    assert(VectorIndex.loadIdf(spark, index) === idf1)
    // an exact re-query of first-batch content still scores 1.0: query and
    // index vectors share the frozen weight space
    val hit3 = VectorIndex.search(spark, index, "alpha bravo charlie delta").head()
    assert(hit3.getAs[Double]("cosine") === 1.0)
  }

  test("legacy index without idf sidecar: increments stay in the unweighted space") {
    val store = graft.store.LocalFs.scratchDir("graft-vstore2").toString
    val index = graft.store.LocalFs.scratchDir("graft-vindex2").toString + "/idx"
    mkStore(store, Seq(
      ("s1", 0L, "2024-01-01T00:00:00", "alpha bravo charlie delta")))
    // replicate what a pre-sidecar build wrote: unweighted vectors, no _idf.csv
    VectorIndex.embed(
        graft.store.Indexer.incrementalChunks(spark, store, "", chunkSize = 1))
      .withColumn("cell", graft.functions.RandomHyperplaneSignature
        .rh_signature("embedding", VectorIndex.CellBits))
      .write.mode("append").partitionBy("cell").parquet(index)
    assert(VectorIndex.loadIdf(spark, index).isEmpty)
    // an increment must NOT derive idf from just its own batch — that would
    // embed new vectors in a different geometry than every existing one
    mkStore(store, Seq(("s2", 0L, "2024-01-01T00:00:05", "echo foxtrot golf hotel")))
    VectorIndex.build(spark, store, index,
      sinceTs = "2024-01-01T00:00:00", chunkSize = 1)
    assert(VectorIndex.loadIdf(spark, index).isEmpty,
      "no sidecar may appear on a pre-sidecar index")
    // both generations score exact self-queries at 1.0 => one shared space
    assert(VectorIndex.search(spark, index, "alpha bravo charlie delta")
      .head().getAs[Double]("cosine") === 1.0)
    assert(VectorIndex.search(spark, index, "echo foxtrot golf hotel")
      .head().getAs[Double]("cosine") === 1.0)
  }

  test("model-backed index: synonym query outranks token-overlap decoy; recall@10 vs exact") {
    import org.apache.spark.sql.functions.{broadcast, desc, size => fsize}
    val store = graft.store.LocalFs.scratchDir("graft-vstore4").toString
    val index = graft.store.LocalFs.scratchDir("graft-vindex4").toString + "/idx"
    // training corpus: cat/dog share contexts but never co-occur; the
    // market family is disjoint (the EmbeddingsSpec fixture)
    val corpus = (
      (1 to 30).map(i => s"the cat runs fast chasing toy$i") ++
        (1 to 30).map(i => s"the dog runs fast chasing toy$i") ++
        (1 to 30).map(i => s"market coin price rises trading day$i") ++
        (1 to 30).map(i => s"the cat sleeps warm blanket net$i") ++
        (1 to 30).map(i => s"the dog sleeps warm blanket net$i"))
      .toDF("text")
    val cfg = Embeddings.Config(
      dim = 8, window = 2, vocabSize = 256, minCount = 2, iters = 10, seed = 7)
    // indexed chunks: the synonym chunk shares ZERO tokens with the query;
    // the decoy shares "cat" — token hashing MUST rank the decoy first,
    // the trained space must rank the synonym first
    mkStore(store, Seq(
      ("syn", 0L, "2024-01-01T00:00:00", "dog chasing"),
      ("decoy", 0L, "2024-01-01T00:00:01", "cat market coin price trading"),
      ("filler1", 0L, "2024-01-01T00:00:02", "market price rises"),
      ("filler2", 0L, "2024-01-01T00:00:03", "warm blanket sleeps"),
      ("filler3", 0L, "2024-01-01T00:00:04", "coin trading day1")))
    // ...plus the corpus itself, so the recall measurement below has a
    // populated neighborhood (an IVF probe over 5 rows in 256 cells is
    // vacuous — the q49 lesson at test scale)
    mkStore(store, corpus.collect().zipWithIndex.map { case (r, i) =>
      (f"c$i%03d", 0L, f"2024-01-02T${i / 3600}%02d:${i / 60 % 60}%02d:${i % 60}%02d",
        r.getString(0))
    }.toSeq)
    val ckpt = VectorIndex.build(spark, store, index, sinceTs = "",
      chunkSize = 1, trainCorpus = Some(corpus), modelCfg = cfg)
    assert(VectorIndex.loadModel(spark, index).isDefined, "sidecar must freeze")
    // exhaustive probe: this assertion is about the RANKING the trained
    // space produces, not cell selection
    val hits = VectorIndex.search(spark, index, "cat runs", k = 160,
      probeHamming = VectorIndex.CellBits).collect()
    val rankOf = hits.map(r =>
      r.getAs[String]("session_id") -> r.getAs[Int]("rank")).toMap
    info(s"syn rank=${rankOf.get("syn")} decoy rank=${rankOf.get("decoy")}")
    assert(rankOf("syn") < rankOf("decoy"),
      "distributional match must beat token overlap")
    // frozen space: an increment embeds with the SAME model (no retrain)
    mkStore(store, Seq(("late", 0L, "2024-01-03T00:00:09", "dog runs fast")))
    VectorIndex.build(spark, store, index, sinceTs = ckpt, chunkSize = 1,
      trainCorpus = Some(corpus.limit(10)), modelCfg = cfg) // corpus IGNORED
    assert(VectorIndex.search(spark, index, "dog runs fast").head()
      .getAs[Double]("cosine") === 1.0, "increment must share the frozen space")
    // recall@10 of the DEFAULT (Hamming-1) probe vs exact brute force over
    // the whole index, same embeddings
    val all = spark.read.parquet(index)
    val q = Embeddings.embedWith(VectorIndex.loadModel(spark, index).get,
      Seq((1, "the cat runs fast chasing toy3")).toDF("k", "chunk_text"),
      "chunk_text", Seq("k"))
      .select("embedding").head().getSeq[Double](0)
    val exact = all
      .withColumn("qvec", org.apache.spark.sql.functions.typedLit(q))
      .withColumn("cos", graft.functions.CosineSimilarity
        .cosine_similarity("qvec", "embedding"))
      .orderBy(desc("cos"), org.apache.spark.sql.functions.col("session_id"))
      .limit(10).collect().map(_.getAs[String]("session_id")).toSet
    val probed = VectorIndex.search(spark, index,
      "the cat runs fast chasing toy3", k = 10)
      .collect().map(_.getAs[String]("session_id")).toSet
    val recall = (exact & probed).size.toDouble / exact.size
    info(f"recall@10 vs exact (Hamming-1 probe): $recall%.2f " +
      s"(${(exact & probed).size}/${exact.size})")
    assert(recall >= 0.7, s"cell-probed recall@10 too low: $recall")
  }

  test("compactCells: incremental appends collapse to few files; search unchanged") {
    val store = graft.store.LocalFs.scratchDir("graft-vstore3").toString
    val index = graft.store.LocalFs.scratchDir("graft-vindex3").toString + "/idx"
    // 5 incremental builds of the SAME text (distinct sessions/ts): every
    // build appends its own file(s) into that text's one cell — the
    // small-file accumulation search latency pays for
    var ckpt = ""
    for (i <- 1 to 5) {
      mkStore(store, Seq((s"s$i", 0L, s"2024-01-01T00:00:0$i",
        "alpha bravo charlie delta")))
      ckpt = VectorIndex.build(spark, store, index, sinceTs = ckpt, chunkSize = 1)
    }
    def dataFiles(cellDir: java.io.File): Seq[String] =
      cellDir.listFiles().toSeq.map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))
    val cellDirs = new java.io.File(index).listFiles().toSeq
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.map(dataFiles(_).size).max >= 5, "fixture must accumulate files")
    val before = VectorIndex.search(spark, index, "alpha bravo charlie delta")
      .collect().toSeq
    val compacted = VectorIndex.compactCells(spark, index, maxFilesPerCell = 2)
    assert(compacted.nonEmpty)
    assert(cellDirs.forall(dataFiles(_).size <= 2),
      "every cell must end at or under the file cap")
    // results are identical after the swap — same rows, same order
    val after = VectorIndex.search(spark, index, "alpha bravo charlie delta")
      .collect().toSeq
    assert(after === before)
    // idempotent: a second pass finds nothing to do
    assert(VectorIndex.compactCells(spark, index, maxFilesPerCell = 2).isEmpty)
  }
}
