package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Unaccent expression: NFD-decompose + drop combining marks, with a
  * zero-copy ASCII fast path. The text_normalize oracle proves parity
  * with DuckDB's strip_accents at the query level; these tests pin the
  * expression's own semantics on inputs the corpus never produces.
  */
class StringExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def un(s: String): String =
    StringExpressions.stripAccentsJava(UTF8String.fromString(s)).toString

  test("latin accents strip to their base letters") {
    assert(un("áéîöü àêíñç") == "aeiou aeinc")
    assert(un("crème brûlée") == "creme brulee")
  }

  test("pure ASCII returns the identical UTF8String (fast path, no copy)") {
    val in = UTF8String.fromString("plain ascii text 123")
    assert(StringExpressions.stripAccentsJava(in) eq in)
  }

  test("already-decomposed combining marks are dropped too") {
    assert(un("éclair") == "eclair") // e + COMBINING ACUTE
  }

  test("non-decomposable characters pass through unchanged") {
    assert(un("straße ħello 中文 øre") == "straße ħello 中文 øre")
  }

  test("empty string and lone combining mark") {
    assert(un("") == "")
    assert(un("́") == "")
  }

  test("column API handles NULL and matches the static helper") {
    import spark.implicits._
    val out = Seq(Some("café"), None, Some("ascii"))
      .toDF("t")
      .select(StringExpressions.unaccent(col("t")).as("u"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("cafe", null, "ascii"))
  }

  private def jw(a: String, b: String): Double =
    StringExpressions.jaroWinklerJava(
      UTF8String.fromString(a), UTF8String.fromString(b))
  private def jaro(a: String, b: String): Double =
    StringExpressions.jaroJava(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro/jaro-winkler match DuckDB's values on the pinned cases") {
    // every expected value below was read off DuckDB 1.x
    // jaro_similarity / jaro_winkler_similarity directly
    assert(jaro("MARTHA", "MARHTA") === 0.9444444444444445)
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jaro("DIXON", "DICKSONX") === 0.7666666666666666)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") === 0.8962962962962964)
    assert(jw("DWAYNE", "DUANE") === 0.8400000000000001)
    assert(jw("CRATE", "TRACE") === 0.7333333333333334)
    assert(jw("abcdef", "fedcba") === 0.38888888888888884)
  }

  test("jaro-winkler edge semantics: empty, equal, window-0, prefix cap, boost threshold, floor transpositions") {
    assert(jw("", "") === 0.0)          // DuckDB: empty → 0, not 1
    assert(jw("a", "") === 0.0)
    assert(jw("abc", "abc") === 1.0)
    assert(jw("ab", "ba") === 0.0)      // window 0 ⇒ no matches
    assert(jw("prefix", "prefixxxxx") === 0.92) // prefix bonus capped at 4
    // boost threshold: jaro 0.5 with 2-char shared prefix gets NO bonus
    assert(jw("abcdefgh", "abzzzzzz") === 0.5)
    assert(jw("aaaa", "aazz") === 0.6666666666666666) // jaro ≤ 0.7, ℓ=2, no bonus
    // 3-cycle: t_raw=3 floors to t=1 (fractional t would give 0.91667)
    assert(jaro("abcdef", "bcadef") === 0.9444444444444445)
    assert(jaro("abcdefgh", "bcadefgh") === 0.9583333333333334)
  }

  test("jaro_winkler column API: NULL propagates, codegen path over rows") {
    StringExpressions.register(spark)
    import spark.implicits._
    val rows = Seq.tabulate(256) { i =>
      (i, if (i % 7 == 0) null else "MARTHA", "MARHTA")
    }.toDF("id", "a", "b")
    val got = rows.selectExpr("jaro_winkler(a, b) AS s")
      .collect().map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0))
    assert(got.count(_ == -1.0) == 37)
    assert(got.filter(_ >= 0).forall(_ == 0.9611111111111111))
  }

  test("SQL-registered and codegen'd: unaccent works from spark.sql over rows") {
    StringExpressions.register(spark)
    import spark.implicits._
    // enough rows that the projection really goes through the codegen
    // path; values cover fast path, accents, and decomposed marks
    val variants = Seq("ascii only", "café", "éclair", "ñoño")
    Seq.tabulate(256)(i => i -> variants(i % variants.size))
      .toDF("id", "t").createOrReplaceTempView("unaccent_in")
    val got = spark.sql(
      "SELECT count(distinct unaccent(t)) AS n FROM unaccent_in")
      .head().getLong(0)
    // "cafe", "eclair", "nono", "ascii only"
    assert(got == 4)
  }

  private def fc(s: String): Int =
    StringExpressions.fieldCountJava(UTF8String.fromString(s))
  private def fa(s: String, i: Int): String =
    Option(StringExpressions.fieldAtJava(UTF8String.fromString(s), i))
      .map(_.toString).orNull

  test("field_count and field_at follow Python str.split(',')") {
    assert(fc("") == 1 && fa("", 0) == "")
    assert(fc("abc") == 1 && fa("abc", 0) == "abc")
    assert(fc(",") == 2 && fa(",", 0) == "" && fa(",", 1) == "")
    assert(fc(",a,,b,") == 5)
    assert((0 until 5).map(fa(",a,,b,", _)) == Seq("", "a", "", "b", ""))
    assert(fa("ü,中文,𝄞", 1) == "中文" && fa("ü,中文,𝄞", 2) == "𝄞")
    // out of range and negative: null, like an array index past the end
    assert(fa("a,b", 2) == null && fa("a,b", -1) == null && fa("", 1) == null)
  }

  test("field_at returns a copy that outlives the line's buffer") {
    val bytes = "ab,cd".getBytes("UTF-8")
    val f = StringExpressions.fieldAtJava(UTF8String.fromBytes(bytes), 1)
    bytes(3) = 'x'.toByte
    assert(f.toString == "cd")
  }

  test("invalid UTF-8: same field count as split, raw bytes where split has U+FFFD") {
    // a lone lead byte, a stray continuation byte and 0xFF, around commas
    val line = Array[Byte]('0', 'x', 'a', 0xC3.toByte, ',', 0x80.toByte, 'b',
      ',', 0xFF.toByte, ',', '7')
    val d = java.nio.file.Files.createTempDirectory("fieldscan")
    val f = d.resolve("bad.txt")
    java.nio.file.Files.write(f, line)
    def hexes(fields: Int => Column): Column =
      array((0 until 4).map(i => hex(fields(i).cast("binary"))): _*)
    val r = spark.read.text(f.toString).select(
      StringExpressions.fieldCount(col("value")),
      size(split(col("value"), ",", -1)),
      hexes(StringExpressions.fieldAt(col("value"), _)),
      hexes(split(col("value"), ",", -1).getItem(_))).head()
    assert(r.getInt(0) == 4 && r.getInt(1) == 4)
    // field_at: the line's bytes as they are
    assert(r.getSeq[String](2) == Seq("307861C3", "8062", "FF", "37"))
    // split: each malformed sequence decoded to U+FFFD (EF BF BD)
    assert(r.getSeq[String](3) == Seq("307861EFBFBD", "EFBFBD62", "EFBFBD", "37"))
    java.nio.file.Files.delete(f); java.nio.file.Files.delete(d)
  }
}
