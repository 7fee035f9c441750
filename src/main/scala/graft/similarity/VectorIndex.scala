package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's rebuildable vector index as a Spark-native batch pipeline
  * (`src/services/vector_indexer/indexer.py:94-208` + `chunker.py`):
  * incremental chunk consumption (ts > checkpoint) → embedding → an
  * LSH-cell-partitioned index table → cell-local cosine search.
  *
  * The EMBEDDING step has two modes: a CORPUS-TRAINED distributional space
  * ([[Embeddings]] — PPMI + power-iteration SVD, trained as a Spark job and
  * frozen as a `_model` sidecar at first build) and a deterministic
  * hashing-vectorizer fallback (bucket-level smooth-IDF weights, also
  * frozen at first build) for indexes built before any corpus statistics
  * exist. A served pretrained model (mapInPandas/ONNX) would slot into the
  * same dispatch; every other stage — chunking, cell assignment,
  * partitioned layout, search plan — is the real 100 TB shape:
  *   - the index is WRITTEN partitioned by LSH cell, so a query reads ONE
  *     cell's files (partition pruning does the fan-out reduction);
  *   - cell assignment is the native one-pass `rh_signature` expression
  *     inside the scan — rebuilds are scan-speed;
  *   - search broadcasts nothing but the query vector literal.
  */
object VectorIndex {

  val Dim = 64
  val CellBits = 8 // 256 cells

  /** Deterministic stub embedding: hash each token into one of `Dim` signed
    * buckets (the hashing-vectorizer trick), weight it by the bucket's
    * smooth IDF when a weight vector is given (TF-IDF at hashed-feature
    * granularity), L2-normalize. Pure column expressions (aggregate over
    * the token array), so it runs inside codegen like the real model stage
    * would run inside its batch UDF; the idf weights enter as a Dim-sized
    * array LITERAL — no join, no broadcast, no shuffle.
    *
    * `idf = None` means uniform weights (raw hashing vectorizer) — used
    * before any corpus statistics exist and by indexes built before the
    * sidecar was introduced.
    */
  def embed(chunks: DataFrame, textCol: String = "chunk_text",
      idf: Option[Seq[Double]] = None): DataFrame = {
    val toks = col("__toks")
    val zero = array_repeat(lit(0.0), Dim)
    val weights = idf.map(w => typedLit(w))
    val accum = aggregate(toks, zero, (acc, t) => {
      val h = xxhash64(t)
      val bucket = pmod(h, lit(Dim)).cast("int")
      val sign = when(pmod(shiftright(h, 8), lit(2)) === 0, 1.0).otherwise(-1.0)
      val contrib = weights match {
        case Some(w) => sign * element_at(w, bucket + 1)
        case None => sign
      }
      transform(acc, (v, i) => when(i === bucket, v + contrib).otherwise(v))
    })
    chunks
      .withColumn("__toks", split(col(textCol), "\\s+"))
      .withColumn("__raw", accum)
      .withColumn("__norm",
        sqrt(aggregate(col("__raw"), lit(0.0), (a, v) => a + v * v)))
      .withColumn("embedding",
        when(col("__norm") > 0, transform(col("__raw"), v => v / col("__norm")))
          .otherwise(col("__raw")))
      .drop("__toks", "__raw", "__norm")
  }

  /** Smooth IDF per hashed bucket: `ln((N+1)/(df_b+1)) + 1` where df_b
    * counts chunks containing at least one token hashing to bucket b
    * (sklearn's smooth_idf, applied at the hashed-feature level — the
    * vocabulary never materializes, so the statistic is a Dim-row
    * aggregate at any corpus size: per-chunk distinct buckets explode to
    * ≤ Dim rows each, one groupBy, Dim output rows).
    */
  def bucketIdf(chunks: DataFrame, textCol: String = "chunk_text"): Seq[Double] = {
    val n = chunks.count()
    val df = chunks
      .select(explode(array_distinct(transform(split(col(textCol), "\\s+"),
        t => pmod(xxhash64(t), lit(Dim)).cast("int")))).as("bucket"))
      .groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until Dim).map(b => math.log((n + 1.0) / (df.getOrElse(b, 0L) + 1.0)) + 1.0)
  }

  // --- model sidecar: CORPUS-TRAINED word vectors (Embeddings.train —
  // PPMI + power-iteration SVD), frozen at first build exactly like the idf
  // weights below: every increment and every query embeds in the space the
  // first build trained. Underscore prefix keeps the dir invisible to
  // partition discovery. When present it takes precedence over the
  // hashing-vectorizer path — retrieval then ranks by distributional
  // meaning, not token overlap.

  private def modelPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/_model")

  private def saveModel(spark: SparkSession, indexPath: String, model: DataFrame): Unit =
    model.write.parquet(modelPath(indexPath).toString)

  private[similarity] def loadModel(spark: SparkSession, indexPath: String): Option[DataFrame] = {
    val p = modelPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  // --- idf sidecar: weights are FROZEN at first build so every later
  // increment and every query embeds in the same space (re-deriving idf per
  // batch would silently shift all previously indexed vectors' geometry).
  // Underscore prefix keeps it invisible to partition discovery.

  private def idfPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/_idf.csv")

  private def saveIdf(spark: SparkSession, indexPath: String, w: Seq[Double]): Unit = {
    val p = idfPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(w.mkString(",").getBytes("UTF-8"))
    finally out.close()
  }

  private[similarity] def loadIdf(spark: SparkSession, indexPath: String): Option[Seq[Double]] = {
    val p = idfPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").split(",").toSeq.map(_.toDouble))
      finally in.close()
    }
  }

  /** Build (or incrementally extend) the index: chunk the store past the
    * checkpoint, embed, assign an LSH cell, append partitioned by cell.
    * Returns the new checkpoint (max ts consumed), like `indexer.py:94-116`.
    *
    * Embedding dispatch, in precedence order:
    *   1. a `_model` sidecar exists → corpus-trained word vectors
    *      ([[Embeddings.embedWith]]);
    *   2. `trainCorpus` given on a FIRST build → train PPMI+SVD vectors
    *      from it, freeze them as the sidecar, embed with them (an index
    *      that already has vectors never retrains — that would shift the
    *      geometry under every existing vector, same rule as idf);
    *   3. otherwise → the hashing vectorizer with frozen idf weights.
    */
  def build(spark: SparkSession, storePath: String, indexPath: String,
      sinceTs: String, chunkSize: Int = 8,
      trainCorpus: Option[DataFrame] = None,
      modelCfg: Embeddings.Config = Embeddings.Config()): String = {
    // Materialize the increment ONCE: the checkpoint must be the max ts of
    // the batch that was actually WRITTEN — re-reading the live store after
    // the write would advance the checkpoint past events a concurrent
    // ingest appended in between (silently never indexed), and would run
    // the embed pipeline a second time.
    val chunks = graft.store.Indexer.incrementalChunks(
      spark, storePath, sinceTs, chunkSize).persist()
    try {
      if (chunks.isEmpty) sinceTs
      else {
        // first build freezes the idf weights; increments + queries reuse.
        // No sidecar but vectors already present = a legacy unweighted
        // index: deriving idf from just this increment would embed new
        // vectors in a different space than every existing one (an exact
        // re-query of old content would no longer score 1.0) — stay
        // unweighted, matching what search()'s loadIdf=None does.
        val p = new org.apache.hadoop.fs.Path(indexPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val hasVectors = fs.exists(p) &&
          fs.listStatus(p).exists(_.getPath.getName.startsWith("cell="))
        val model: Option[DataFrame] = loadModel(spark, indexPath).orElse {
          trainCorpus.filter(_ => !hasVectors).map { corpus =>
            val m = Embeddings.train(corpus, "text", modelCfg)
            saveModel(spark, indexPath, m)
            loadModel(spark, indexPath).get // read back: frozen bytes, one scan
          }
        }
        val embedded = model match {
          case Some(m) =>
            Embeddings.embedWith(m, chunks, "chunk_text", Seq("session_id", "chunk_id"))
          case None =>
            val idf: Option[Seq[Double]] = loadIdf(spark, indexPath).orElse {
              if (hasVectors) None
              else {
                val w = bucketIdf(chunks)
                saveIdf(spark, indexPath, w)
                Some(w)
              }
            }
            embed(chunks, idf = idf)
        }
        embedded
          .withColumn("cell",
            graft.functions.RandomHyperplaneSignature
              .rh_signature("embedding", CellBits))
          .write.mode("append").partitionBy("cell").parquet(indexPath)
        chunks.agg(max("max_ts")).head().getString(0)
      }
    } finally chunks.unpersist()
  }

  /** Compact the index's cell partitions. Every incremental [[build]]
    * appends at least one file per touched cell — the same small-file
    * accumulation as the 5 s streaming sink, and worse for the index
    * because SEARCH latency is per-cell file count (a probe opens every
    * file in its ≤9 probed cells). Reuses the store's listing-stats /
    * atomic-swap machinery ([[graft.store.Compaction]]): stats from the
    * `_metadata` hidden columns (listing only, no file opens), recovery
    * sweep first, then each oversized cell is rewritten and swapped in
    * behind dot-prefixed work dirs, so a concurrent search sees the old or
    * the new cell, never both. Returns (cell, files_before, files_after).
    */
  def compactCells(spark: SparkSession, indexPath: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerCell: Int = 8): Seq[(Long, Long, Int)] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(indexPath)
    if (!root.getFileSystem(hadoopConf).exists(root)) return Seq.empty
    graft.store.Compaction.recover(Seq(root), hadoopConf)
    val cells = spark.read.parquet(indexPath)
      // partition discovery narrows cell= values to int when they fit
      .select(col("cell").cast("long").as("cell"),
        col("_metadata.file_path").as("fp"),
        col("_metadata.file_size").as("fs"))
      .groupBy("cell", "fp").agg(first(col("fs")).as("fs"))
      .groupBy("cell").agg(count(lit(1)).as("n_files"), sum("fs").as("bytes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    cells.toSeq
      .filter { case (_, n, bytes) =>
        graft.store.Compaction.needsWork(n, bytes, targetFileBytes, maxFilesPerCell)
      }
      .map { case (cell, n, bytes) =>
        val dir = new org.apache.hadoop.fs.Path(s"$indexPath/cell=$cell")
        (cell, n,
          graft.store.Compaction.swapRewrite(spark, dir, bytes, targetFileBytes))
      }
  }

  /** Cell-local cosine top-k: embed the query text the same way, read ONLY
    * the cell partitions within Hamming distance `probeHamming` of the
    * query's cell, rank by exact cosine. `probeHamming` is the recall/cost
    * dial (the q49 nprobe lesson): 0 = one cell, 1 = 1+CellBits cells
    * (default), CellBits = exhaustive. Each probed cell is a pruned
    * partition read — cost scales with cells probed, never with index size.
    */
  def search(spark: SparkSession, indexPath: String, queryText: String,
      k: Int = 5, probeHamming: Int = 1): DataFrame = {
    import spark.implicits._
    val qDf = Seq(queryText).toDF("chunk_text")
    val qEmbedded = loadModel(spark, indexPath) match {
      case Some(m) =>
        Embeddings.embedWith(m, qDf.withColumn("__k", lit(1)),
          "chunk_text", Seq("__k"))
      case None => embed(qDf, idf = loadIdf(spark, indexPath))
    }
    val qRow = qEmbedded
      .withColumn("cell",
        graft.functions.RandomHyperplaneSignature
          .rh_signature("embedding", CellBits))
      .select("embedding", "cell").head()
    val qVec = qRow.getSeq[Double](0)
    val qCell = qRow.getLong(1)
    val cells: Seq[Long] = (0L until (1L << CellBits))
      .filter(c => java.lang.Long.bitCount(c ^ qCell) <= probeHamming)
    spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells: _*)) // partition-pruned cell read
      .withColumn("qvec", typedLit(qVec))
      .withColumn("cosine", round(
        graft.functions.CosineSimilarity.cosine_similarity("qvec", "embedding"), 6))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cosine"), asc("session_id"), asc("chunk_id"))))
      .filter(col("rank") <= k)
      .select("rank", "session_id", "chunk_id", "cosine", "chunk_text")
      .orderBy("rank")
  }
}
