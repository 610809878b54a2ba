package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.StringSim

/**
 * Golden values cross-checked against DuckDB v1.0
 * `jaro_winkler_similarity` / `levenshtein` (the oracle), see
 * SURVEY.md §7.7 on oracle drift.
 */
class StringSimSpec extends AnyFunSuite {

  test("jaro-winkler golden values match the DuckDB oracle bit-for-bit") {
    assert(StringSim.jaroWinkler("martha", "marhta") == 0.9611111111111111)
    assert(StringSim.jaroWinkler("dwayne", "duane") == 0.8400000000000001)
    assert(StringSim.jaroWinkler("dixon", "dicksonx") == 0.8133333333333332)
    assert(StringSim.jaroWinkler("jellyfish", "smellyfish") == 0.8962962962962964)
    assert(StringSim.jaroWinkler("crate", "trace") == 0.7333333333333334)
    assert(StringSim.jaroWinkler("abcdxy", "abcdyx") == 0.9666666666666667)
    assert(StringSim.jaroWinkler("ab", "abcdefgh") == 0.8)
    // boost threshold: no Winkler prefix bonus when jaro <= 0.7
    assert(StringSim.jaroWinkler("abxxxxxxxx", "abyyyyyyyy") == 0.4666666666666666)
  }

  test("jaro-winkler edge cases (DuckDB semantics)") {
    assert(StringSim.jaroWinkler("", "") == 0.0)
    assert(StringSim.jaroWinkler("a", "") == 0.0)
    assert(StringSim.jaroWinkler("", "abc") == 0.0)
    assert(StringSim.jaroWinkler("a", "a") == 1.0)
    assert(StringSim.jaroWinkler("ab", "ba") == 0.0) // window 0, no matches
    assert(StringSim.jaroWinkler("x", "y") == 0.0)
  }

  /** Textbook windowed-scan jaro (the pre-round-6 implementation),
    * kept here as the reference the O(n) per-char-queue matcher must
    * equal bit-for-bit. */
  private def jaroRef(s1: String, s2: String): Double = {
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 || len2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val window = math.max(math.max(len1, len2) / 2 - 1, 0)
    val m1 = new Array[Boolean](len1)
    val m2 = new Array[Boolean](len2)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - window)
      val hi = math.min(len2 - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val half = t / 2
    (m / len1 + m / len2 + (m - half) / m) / 3.0
  }

  test("queue-based jaro matcher == textbook windowed scan on 60k fuzzed pairs") {
    val rnd = new scala.util.Random(11)
    // ascii alphabets exercise the O(n) queue path; the last alphabet
    // forces the non-ascii fallback; near-dup pairs (1-2 edits) are the
    // hot production shape
    val alphabets = Seq("ab", "abcdef XY_09", "abcdefghijklmnopqrstuvwxyz 0123456789", "日本語のテキスト abc")
    var i = 0
    while (i < 60000) {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      def mk(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val a = mk(rnd.nextInt(260))
      val b = rnd.nextInt(3) match {
        case 0 => mk(rnd.nextInt(260))
        case 1 => // substitution near-dup
          val cs = a.toCharArray
          if (cs.nonEmpty) cs(rnd.nextInt(cs.length)) = alpha(rnd.nextInt(alpha.length))
          new String(cs)
        case _ => // shift near-dup (exercises window lower-bound skipping)
          a.drop(rnd.nextInt(4)) + mk(rnd.nextInt(4))
      }
      val got = StringSim.jaro(a, b)
      val want = jaroRef(a, b)
      assert(got == want,
        s"jaro=$got ref=$want for ${a.take(40)}.. vs ${b.take(40)}..")
      i += 1
    }
  }

  test("bit-parallel levenshtein == reference DP on 50k fuzzed pairs") {
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("ab", "abcdef XY_09", "日本語のテキスト abc")
    var i = 0
    while (i < 50000) {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      def mk(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val a = mk(rnd.nextInt(200))
      val b = if (rnd.nextBoolean()) {
        val cs = a.toCharArray
        if (cs.nonEmpty) cs(rnd.nextInt(cs.length)) = alpha(rnd.nextInt(alpha.length))
        new String(cs)
      } else mk(rnd.nextInt(200))
      val got = StringSim.levenshtein(a, b)
      val want = StringSim.levenshteinDP(a, b)
      assert(got == want, s"myers=$got dp=$want for ${a.take(40)}.. vs ${b.take(40)}..")
      i += 1
    }
  }

  test("levenshtein matches classic edit distance") {
    assert(StringSim.levenshtein("kitten", "sitting") == 3)
    assert(StringSim.levenshtein("", "abc") == 3)
    assert(StringSim.levenshtein("abc", "abc") == 0)
    assert(StringSim.levenshtein("flaw", "lawn") == 2)
    assert(StringSim.levSim("abcd", "abcd") == 1.0)
    assert(StringSim.levSim("", "") == 1.0)
    assert(StringSim.levSim("ab", "abcd") == 0.5)
  }

  test("graft_levenshtein Catalyst expression equals Spark's built-in levenshtein") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    val rnd = new scala.util.Random(23)
    val alpha = "abcdef XY_09"
    def mk(len: Int) = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (0 until 2000).map { _ =>
      val a = mk(rnd.nextInt(120))
      val b = if (rnd.nextBoolean()) {
        val cs = a.toCharArray
        if (cs.nonEmpty) cs(rnd.nextInt(cs.length)) = alpha(rnd.nextInt(alpha.length))
        new String(cs)
      } else mk(rnd.nextInt(120))
      (a, b)
    } :+ (("", "")) :+ (("", "abc")) :+ (("kitten", "sitting"))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      graft.functions.GraftFunctions.graft_levenshtein(col("a"), col("b")).as("got"),
      levenshtein(col("a"), col("b")).as("want")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("graft_levenshtein counts UTF-16 code units on astral input; Spark's built-in counts code points") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    // astral (non-BMP) letters are surrogate pairs: two code units each
    val alpha = Seq("a", "b", " ", "é", "日", "\uD83D\uDE00", "\uD83D\uDE01",
      "\uD835\uDC9C", "\uD840\uDC0B")
    val rnd = new scala.util.Random(31)
    def mk(len: Int) = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    val pairs = (0 until 3000).map { _ =>
      val a = mk(rnd.nextInt(60))
      val b = if (rnd.nextBoolean()) {
        val cps = a.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
        if (cps.nonEmpty) cps(rnd.nextInt(cps.length)) = alpha(rnd.nextInt(alpha.length))
        cps.mkString
      } else mk(rnd.nextInt(60))
      (a, b)
    } :+ (("\uD83D\uDE00", "a")) :+ (("\uD83D\uDE00", "\uD83D\uDE01")) :+ (("", "\uD835\uDC9C"))
    // one BMP stand-in per code point turns the UTF-16 DP into a code-point DP
    def perCodePoint(s: String) =
      s.codePoints().toArray.map(cp => (0xE000 + alpha.indexOf(new String(Character.toChars(cp)))).toChar).mkString
    val rows = pairs.toDF("a", "b").select(col("a"), col("b"),
      graft.functions.GraftFunctions.graft_levenshtein(col("a"), col("b")),
      levenshtein(col("a"), col("b"))).as[(String, String, Int, Int)].collect()
    rows.foreach { case (a, b, got, builtin) =>
      assert(got == StringSim.levenshtein(a, b) && got == StringSim.levenshteinDP(a, b),
        s"graft_levenshtein=$got is not the UTF-16 distance of $a vs $b")
      assert(builtin == StringSim.levenshteinDP(perCodePoint(a), perCodePoint(b)),
        s"built-in levenshtein=$builtin is not the code-point distance of $a vs $b")
    }
    // the intended divergence: an astral letter against a BMP letter is
    // a substitution plus a deletion in code units, one edit in code points
    val pinned = rows.takeRight(3).map(r => (r._3, r._4)).toSeq
    assert(pinned == Seq((2, 1), (1, 1), (2, 1)), pinned)
  }

  test("jaro_winkler Catalyst expression equals the Scala kernel and works in SQL") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(("martha", "marhta"), ("fn c1 open", "fn c1 fin"), ("", ""))
      .toDF("a", "b")
    val got = df.select(
      graft.functions.GraftFunctions.jaro_winkler(col("a"), col("b"))).as[Double].collect()
    val want = Seq("martha" -> "marhta", "fn c1 open" -> "fn c1 fin", "" -> "")
      .map { case (a, b) => StringSim.jaroWinkler(a, b) }
    assert(got.toSeq == want)
    // SQL registration via GraftExtensions
    df.createOrReplaceTempView("jwtest")
    val sqlGot = spark.sql("SELECT jaro_winkler(a, b) FROM jwtest").as[Double].collect()
    assert(sqlGot.toSeq == want)
  }
}
