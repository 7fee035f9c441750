package graft.functions

import graft.SparkSpec
import org.scalatest.prop.TableDrivenPropertyChecks._
import org.apache.spark.unsafe.types.UTF8String

/** Hash64 is the base hash of the whole dedup family (q42/q43/q44/q48) —
  * every MinHash slot, SimHash vote, and winnowing fingerprint is a
  * function of it, and the DuckDB oracle recomputes it in pure SQL
  * (SimilarityQueries.hashStages). These tests pin the function itself:
  * known vectors computed with an INDEPENDENT implementation (a Python
  * big-int model of the published poly+fmix64 spec — not this Scala code),
  * equality of the CharSequence and UTF8String byte-walking forms, the
  * codegen path, and the collision class the golden-ratio multiplier
  * removed.
  */
class Hash64Spec extends SparkSpec {

  import spark.implicits._

  // Independently computed (python3 big-int model): seed-42 polynomial
  // acc = acc*0x9E3779B97F4A7C15 + codepoint mod 2^64, then fmix64.
  private val knownVectors = Table(
    ("input", "hash"),
    ("", -9148929187392628276L), // fmix64(42)
    ("a", -7225654325767709330L),
    ("abc", -4313467400406672080L),
    ("Aa", -1764625550343145940L),
    ("BB", 8963384996031365754L),
    ("hello world foo", 89946912677795735L),
    ("𝄞", 1667882274351297805L), // U+1D11E, astral plane
    ("café über", 84237508449285766L)) // 2-byte UTF-8 sequences

  test("known vectors: direct CharSequence form") {
    forAll(knownVectors) { (s, h) => assert(Hash64.hash(s) === h, s"'$s'") }
  }

  test("known vectors: UTF8String byte-walking form agrees") {
    forAll(knownVectors) { (s, h) =>
      assert(Hash64.hash(UTF8String.fromString(s)) === h, s"'$s'")
    }
  }

  test("known vectors through the registered SQL function (codegen path)") {
    val inputs = knownVectors.map(_._1).toSeq
    val got = inputs.toDF("s").selectExpr("s", "hash64(s) AS h")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    forAll(knownVectors) { (s, h) => assert(got(s) === h, s"'$s'") }
  }

  test("eval and codegen paths agree (CODEGEN_ONLY vs NO_CODEGEN)") {
    val key = "spark.sql.codegen.factoryMode"
    val inputs = knownVectors.map(_._1).toSeq
    def run(): Seq[Long] =
      inputs.toDF("s").selectExpr("hash64(s)").collect().map(_.getLong(0)).toSeq
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "CODEGEN_ONLY")
      val gen = run()
      spark.conf.set(key, "NO_CODEGEN")
      val interp = run()
      assert(gen === interp)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("surrogate pair folds to one code point") {
    // U+1D11E = 0x1D11E: poly over the single code point, not the two
    // UTF-16 chars — matches DuckDB's per-code-point string indexing.
    val expected = Hash64.fmix64(42L * Hash64.PolyMult + 0x1D11E)
    assert(Hash64.hash("𝄞") === expected)
  }

  test("null propagates; poly-31's constructible collisions are gone") {
    val r = Seq((1, Option("x")), (2, Option.empty[String])).toDF("id", "s")
      .selectExpr("id", "hash64(s) AS h").orderBy("id").collect()
    assert(!r(0).isNullAt(1) && r(1).isNullAt(1))
    // with multiplier 31 these collided (31·ΔA + Δa = 0); golden-ratio
    // multiplier has no small-delta solutions
    assert(Hash64.hash("Aa") !== Hash64.hash("BB"))
    assert(Hash64.hash("ab c") !== Hash64.hash("a bc"))
  }

  test("property: byte-walking form equals CharSequence form on random unicode") {
    val rng = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val len = rng.nextInt(24)
      val s = new StringBuilder
      (0 until len).foreach { _ =>
        val cp = rng.nextInt(4) match {
          case 0 => rng.nextInt(0x80) // ASCII
          case 1 => 0x80 + rng.nextInt(0x800 - 0x80) // 2-byte
          case 2 => { // 3-byte, skip the surrogate block
            val v = 0x800 + rng.nextInt(0x10000 - 0x800)
            if (v >= 0xD800 && v <= 0xDFFF) v - 0x800 else v
          }
          case _ => 0x10000 + rng.nextInt(0x10FFFF - 0x10000) // astral
        }
        s.appendAll(Character.toChars(cp))
      }
      val str = s.toString
      assert(Hash64.hash(str) === Hash64.hash(UTF8String.fromString(str)),
        s"mismatch for code points ${str.codePoints().toArray.mkString(",")}")
    }
  }
}
