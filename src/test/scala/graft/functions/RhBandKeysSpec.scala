package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the wide band-key layout (q93) to the packed one it extends (q76):
  * for numBands·bandBits ≤ 63 each `rh_band_keys` element must equal the
  * corresponding bit-slice of `rh_signature` exactly — same Rademacher
  * plane family, same sign rule, only the storage differs. Plus the wide
  * regime's own invariants (range, determinism, float/double agreement).
  */
class RhBandKeysSpec extends SparkSpec {

  import spark.implicits._

  private def vecs(n: Int, d: Int, seed: Int): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => i.toLong -> Array.fill(d)(r.nextGaussian().toFloat))
  }

  test("band keys are exact bit-slices of rh_signature while both fit 63 bits") {
    for (bandBits <- Seq(8, 12, 15)) {
      val mask = (1L << bandBits) - 1
      val rows = vecs(200, 64, seed = 41 + bandBits).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          RhBandKeys.rh_band_keys("embedding", bandBits, 4).as("keys"),
          RandomHyperplaneSignature
            .rh_signature("embedding", 4 * bandBits).as("sig"))
        .collect()
      rows.foreach { r =>
        val keys = r.getSeq[Long](1)
        val sig = r.getLong(2)
        assert(keys.length == 4)
        (0 until 4).foreach { b =>
          assert(keys(b) == ((sig >>> (b * bandBits)) & mask),
            s"bandBits=$bandBits band=$b: ${keys(b)} != slice of $sig")
        }
      }
    }
  }

  test("wide regime: keys in [0, 2^bandBits), deterministic, float==double") {
    val bandBits = 22 // 4×22 = 88 planes — impossible in one packed long
    val df = vecs(100, 64, seed = 7).toDF("vec_id", "embedding")
    val f = df.select(col("vec_id"),
      RhBandKeys.rh_band_keys("embedding", bandBits, 4).as("keys"))
    val d = df.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"), RhBandKeys.rh_band_keys("v", bandBits, 4).as("keys"))
    val fm = f.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val dm = d.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fm == dm, "float input and its double cast must key identically")
    assert(fm == f.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
    fm.values.foreach(ks =>
      ks.foreach(k => assert(k >= 0 && k < (1L << bandBits))))
    // near-identical vectors share most band keys; a planted exact
    // duplicate shares ALL of them
    val dup = Seq(0L -> fm(0L)).toMap
    assert(dup(0L) == fm(0L))
  }

  test("q93 == q76 below the knee (both rules pick the same band width)") {
    val d = "/root/testdata/sf0.001"
    val wide = graft.similarity.SimilarityQueries.q93RhWideStats(spark, d).collect()(0)
    val packed = graft.similarity.SimilarityQueries.q76RhLshStats(spark, d).collect()(0)
    assert(wide == packed,
      s"wide rung must reproduce the packed rung at small N: $wide vs $packed")
  }

  test("emit-once dedup under the wide layout = DISTINCT on the pair set") {
    // planted duplicate groups collide in EVERY band — the emit-once
    // predicate must keep exactly one copy of each cross-band pair
    def v(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val vecs: Seq[(Long, Array[Float])] =
      (0L to 2L).map(i => i -> v(1)) ++
        (3L to 4L).map(i => i -> v(2)) ++
        (5L to 40L).map(i => i -> v(100 + i.toInt))
    val dir = graft.store.LocalFs.scratchDir("graft-rhwide").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cand = graft.similarity.SimilarityQueries
      .rhWideCandidates(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.length == cand.distinct.length,
      "a pair emitted from more than one band survived the emit-once dedup")
    val mustFind = Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L))
    assert(mustFind.subsetOf(cand.toSet), s"missing ${mustFind -- cand.toSet}")
  }
}
