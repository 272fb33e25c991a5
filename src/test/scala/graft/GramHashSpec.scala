package graft

import graft.plans.GramHash
import org.apache.spark.sql.functions._

/** Native FNV gram/shingle/minhash expressions (round 16): the hash
  * LAYOUT must be bit-identical to the Scala-UDF char loops they
  * replaced — every downstream hash join, minhash signature, and
  * oracle replay depends on it. The reference below IS the old UDF
  * body; the fixture stresses the ASCII byte fast path's edges
  * (leading/trailing/consecutive spaces = empty tokens) and the
  * non-ASCII fallback (multi-byte UTF-8, fullwidth, supplementary
  * chars hashed as TWO UTF-16 units).
  */
class GramHashSpec extends SparkTestBase {

  import spark.implicits._

  private def refHashes(text: String, n: Int, distinctSorted: Boolean): Array[Long] = {
    if (text == null) return Array.empty[Long]
    val toks = text.split(" ", -1)
    if (toks.length < n) return Array.empty[Long]
    val m = toks.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val t = toks(i + j)
        var k = 0
        while (k < t.length) { h ^= t.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
        j += 1
      }
      out(i) = h
      i += 1
    }
    if (distinctSorted) { java.util.Arrays.sort(out); out.distinct } else out
  }

  private val fixtures = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a a a a a", // duplicate shingles — distinct variant must dedup
    " leading and  double  spaces ", // empty tokens, trailing space
    "", // one empty token
    "one", // fewer tokens than n
    "naïve café über řeka", // 2-byte UTF-8 — fallback path
    "ｆｕｌｌｗｉｄｔｈ ｔｏｋｅｎｓ here", // 3-byte UTF-8
    "emoji 😀 pair 😁 end", // supplementary: 2 UTF-16 units
    "mixed ascii ünd ascii again",
    null
  )

  test("shingle_hashes / gram_hashes == the UDF char loop on ASCII " +
    "fast path AND non-ASCII fallback, null → empty") {
    for (n <- Seq(1, 2, 3); ds <- Seq(true, false)) {
      val got = fixtures.toDF("text")
        .select(
          (if (ds) GramHash.shingle_hashes(col("text"), n)
           else GramHash.gram_hashes(col("text"), n)).as("h"))
        .collect()
        .map(_.getSeq[Long](0).toArray)
      fixtures.zip(got).foreach { case (text, actual) =>
        val expected = refHashes(text, n, ds)
        assert(actual.sameElements(expected),
          s"n=$n distinct=$ds text=${Option(text).map(_.take(30))}: " +
            s"${actual.toSeq} != ${expected.toSeq}")
      }
    }
  }

  test("fnv64 == the UDF char loop; hashing a gram string equals the " +
    "corpus-side positional gram hash (the LM join contract)") {
    def refFnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < s.length) { h ^= s.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
      h
    }
    val grams = Seq("the quick", "naïve café", "a ｂ", "x 😀")
    val got = grams.toDF("g").select(GramHash.fnv64(col("g")).as("h"))
      .collect().map(_.getLong(0))
    grams.zip(got).foreach { case (g, h) => assert(h == refFnv(g), g) }
    // cross-representation: fnv64 of the bigram STRING == gram_hashes(2)
    // of the two-token text (the lmQuality model/corpus join key pair)
    val h2 = Seq("the quick").toDF("t")
      .select(GramHash.gram_hashes(col("t"), 2).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(h2 == Seq(refFnv("the quick")))
  }

  test("minhash_sig == the UDF modular loop; empty set → MaxValue slots") {
    val coeffs = (0 until 8).map(i => (104729L * i + 12345L, 15485863L * (i + 1)))
    val p = 2147483647L
    def refSig(xs: Seq[Long]): Seq[Long] = coeffs.map { case (a, b) =>
      if (xs.isEmpty) Long.MaxValue
      else xs.map { x =>
        val m = x % p; val xm = if (m < 0) m + p else m
        (xm * a + b) % p
      }.min
    }
    val sets = Seq(Seq(3L, -17L, 982451653L, Long.MinValue + 5, Long.MaxValue - 3), Seq.empty[Long])
    val got = sets.toDF("xs")
      .select(GramHash.minhash_sig(col("xs"),
        coeffs.map(_._1).toArray, coeffs.map(_._2).toArray, p).as("s"))
      .collect().map(_.getSeq[Long](0))
    sets.zip(got).foreach { case (xs, s) => assert(s == refSig(xs), xs) }
  }

  test("minhash_sig: two equal constructions are semanticEquals") {
    // separate arrays with equal contents, as two call sites build them
    def sig() = GramHash.minhash_sig(col("xs"), Array(3L, 5L), Array(7L, 11L), 2147483647L)
    val df = Seq(Seq(1L, 2L)).toDF("xs")
    val Seq(a, b) = df.select(sig(), sig()).queryExecution.analyzed.expressions
      .map(_.children.head)
    assert(a.semanticEquals(b))
    val other = df.select(GramHash.minhash_sig(col("xs"), Array(3L, 5L), Array(7L, 13L),
      2147483647L)).queryExecution.analyzed.expressions.head.children.head
    assert(!a.semanticEquals(other))
  }
}
