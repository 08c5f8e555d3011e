package graft.functions

import java.text.Normalizer
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native string-canonicalization expression (SURVEY.md §2.8 extension
  * surface, same escalation rung as [[VectorExpressions]]): Unicode
  * accent stripping — NFD-decompose, drop combining marks — the way
  * text pipelines canonicalize before dedup/fingerprinting. Spark has
  * no built-in for it and a Scala UDF would box every row and block
  * whole-stage codegen; this stays inside the codegen'd stage and
  * calls one static helper per row.
  *
  * The helper's ASCII fast path matters at corpus scale: web text is
  * overwhelmingly ASCII, and `numBytes == numChars` (every UTF-8 char
  * is one byte ⇒ pure ASCII) returns the input UTF8String untouched —
  * no JVM String materialization, no Normalizer pass — so the common
  * row costs one integer compare. Parity with DuckDB's strip_accents
  * on the Latin range is what the text_normalize oracle checks.
  */
object StringExpressions {
  private val CombiningMarks = Pattern.compile("\\p{M}")

  /** Called from generated code (static forwarder on the companion
    * class), so the signature stays UTF8String → UTF8String. */
  def stripAccentsJava(s: UTF8String): UTF8String = {
    // pure-ASCII fast path: 1 byte per char ⇔ no code point above 0x7F
    if (s.numBytes == s.numChars) s
    else UTF8String.fromString(
      CombiningMarks.matcher(
        Normalizer.normalize(s.toString, Normalizer.Form.NFD))
        .replaceAll(""))
  }

  /** unaccent(string): á→a, ñ→n, ç→c, … (anything NFD splits into a
    * base char + combining marks); non-decomposable chars pass through. */
  case class Unaccent(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "unaccent"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case _: StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${t.sql}")
      }

    override def nullSafeEval(v: Any): Any =
      stripAccentsJava(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.StringExpressions.stripAccentsJava($c);")

    override protected def withNewChildInternal(newChild: Expression): Unaccent =
      copy(child = newChild)
  }

  /** Jaro similarity core, called per row from generated code. Exact
    * contract pinned empirically against DuckDB's `jaro_similarity`
    * (itself the textbook Jaro): match window floor(max(|a|,|b|)/2)-1
    * clamped at 0; greedy left-to-right matching; transpositions =
    * mismatched match-sequence positions / 2 with INTEGER floor (the
    * 3-cycle 'abcdef'/'bcadef' case distinguishes floor from the
    * fractional variant — DuckDB floors); either side empty → 0.0.
    * Chars are UTF-16 code units via toString — fine for parity (both
    * engines compare code units on the BMP) and the names/text columns
    * are ASCII anyway. O(|a|·window) time, two boolean scratch arrays. */
  def jaroJava(ua: UTF8String, ub: UTF8String): Double =
    jaroChars(ua.toString, ub.toString)

  private def jaroChars(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max((math.max(la, lb) / 2) - 1, 0)
    val aM = new Array[Boolean](la)
    val bM = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bM(j) && b.charAt(j) == a.charAt(i)) {
          aM(i) = true; bM(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var traw = 0; var k = 0; i = 0
    while (i < la) {
      if (aM(i)) {
        while (!bM(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) traw += 1
        k += 1
      }
      i += 1
    }
    val t = traw / 2 // integer floor — DuckDB parity
    (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
  }

  /** Winkler refinement: prefix bonus ℓ·p·(1−jaro) with ℓ = shared
    * prefix capped at 4 and p = 0.1, applied ONLY when jaro > 0.7
    * (DuckDB-verified: 'abcdefgh'/'abzzzzzz' jaro 0.5 gets NO bonus). */
  def jaroWinklerJava(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString; val b = ub.toString
    val j = jaroChars(a, b)
    if (j <= 0.7) return j
    val n = math.min(4, math.min(a.length, b.length))
    var l = 0
    while (l < n && a.charAt(l) == b.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  /** jaro_winkler(a, b): record-linkage similarity in [0,1], as a
    * codegen'd native Expression — the per-pair kernel inside the
    * blocked fuzzy joins, where a Scala UDF would box two strings and
    * break the whole-stage pipeline around the join. */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "jaro_winkler"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string arguments, got (${l.sql}, ${r.sql})")
      }

    override def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerJava(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.StringExpressions.jaroWinklerJava($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaroWinkler =
      copy(left = newLeft, right = newRight)
  }

  private val GramSep = UTF8String.fromString(" ")

  /** Word n-gram kernel over a token ArrayData: one UTF8String concat
    * per gram, no per-element lambda dispatch. Shared by interpreted
    * eval and the generated code (the expression emits one static call
    * per row). Matches the SQL formulation gram-for-gram:
    * size < n → empty array; grams are n consecutive tokens joined by
    * a single space. */
  def wordNgramsJava(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](len - n + 1)
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i <= len - n) {
        var j = 0
        while (j < n) { parts(j) = tokens.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(GramSep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Word n-grams as a native expression [word_ngrams(tokens, n)] —
    * the HOF formulation (transform ∘ sequence ∘ slice ∘ array_join)
    * evaluates per gram through boxed interpreted lambdas outside
    * whole-stage codegen and was the dominant CPU line of the
    * decontamination and repetition-signal queries; this emits one
    * static-kernel call per row inside the codegen'd stage. */
  case class WordNgrams(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_ngrams"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), IntegerType) =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, int) arguments, got " +
            s"(${left.dataType.sql}, ${right.dataType.sql})")
      }

    override def nullSafeEval(tokens: Any, n: Any): Any =
      wordNgramsJava(tokens.asInstanceOf[ArrayData], n.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (t, n) =>
        s"${ev.value} = graft.functions.StringExpressions.wordNgramsJava($t, $n);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): WordNgrams =
      copy(left = newLeft, right = newRight)
  }

  private final val Comma: Byte = ','

  /** Number of comma-separated fields in `s`: its ',' bytes plus one,
    * as `len(line.split(','))` in Python. Called per row from generated
    * code. A byte scan is exact on any UTF-8 input, because 0x2C never
    * occurs inside a multi-byte sequence. */
  def fieldCountJava(s: UTF8String): Int = {
    val base = s.getBaseObject
    var p = s.getBaseOffset
    val end = p + s.numBytes
    var n = 1
    while (p < end) {
      if (Platform.getByte(base, p) == Comma) n += 1
      p += 1
    }
    n
  }

  /** Field `i` (0-based) of `s` split at ',' with Python `str.split(',')`
    * semantics: no quoting, empty and trailing fields count. Scans the
    * bytes up to the field's end and copies only the field, so no array
    * and no Java String is built. Null when `i` is negative or past the
    * last field.
    *
    * The field is a copy of the line's bytes, taken as they are: on
    * invalid UTF-8 it keeps the invalid bytes, where `split(line, ",")`
    * (which decodes to a Java String and re-encodes) turns each
    * malformed sequence into U+FFFD. The field count and the valid
    * bytes of every field agree with `split`. */
  def fieldAtJava(s: UTF8String, i: Int): UTF8String = {
    if (i < 0) return null
    val base = s.getBaseObject
    var start = s.getBaseOffset
    val end = start + s.numBytes
    var k = 0
    while (k < i) {
      while (start < end && Platform.getByte(base, start) != Comma) start += 1
      if (start == end) return null
      start += 1
      k += 1
    }
    var stop = start
    while (stop < end && Platform.getByte(base, stop) != Comma) stop += 1
    val bytes = new Array[Byte]((stop - start).toInt)
    Platform.copyMemory(base, start, bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    UTF8String.fromBytes(bytes)
  }

  /** field_count(line): see [[fieldCountJava]]. With [[FieldAt]] it
    * replaces `size(split(line, ",", -1))` plus `[i]` on text lines. */
  case class FieldCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "field_count"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case _: StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${t.sql}")
      }

    override def nullSafeEval(v: Any): Any =
      fieldCountJava(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.StringExpressions.fieldCountJava($c);")

    override protected def withNewChildInternal(newChild: Expression): FieldCount =
      copy(child = newChild)
  }

  /** field_at(line, i): see [[fieldAtJava]]. */
  case class FieldAt(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "field_at"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (_: StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, int) arguments, got (${l.sql}, ${r.sql})")
      }

    override def nullSafeEval(s: Any, i: Any): Any =
      fieldAtJava(s.asInstanceOf[UTF8String], i.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (s, i) =>
        s"""${ev.value} = graft.functions.StringExpressions.fieldAtJava($s, $i);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin)

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FieldAt =
      copy(left = newLeft, right = newRight)
  }

  /** Column-API entry point for [[FieldCount]]. */
  def fieldCount(line: Column): Column = {
    register(SparkSession.active)
    call_function("field_count", line)
  }

  /** Column-API entry point for [[FieldAt]]. */
  def fieldAt(line: Column, i: Int): Column = {
    register(SparkSession.active)
    call_function("field_at", line, org.apache.spark.sql.functions.lit(i))
  }

  /** Column-API entry point for [[WordNgrams]]. */
  def wordNgrams(tokens: Column, n: Int): Column = {
    register(SparkSession.active)
    call_function("word_ngrams", tokens,
      org.apache.spark.sql.functions.lit(n))
  }

  /** Column-API entry point; registration is idempotent and
    * session-scoped (same route as [[VectorExpressions.vecDot]]). */
  def unaccent(c: Column): Column = {
    register(SparkSession.active)
    call_function("unaccent", c)
  }

  /** Column-API entry point for [[JaroWinkler]]. */
  def jaroWinkler(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function("jaro_winkler", a, b)
  }

  /** The module's SQL functions as (name, builder) — the one list both
    * [[graft.GraftExtensions]] and [[register]] install. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("unaccent", exprs => Unaccent(exprs.head)),
    ("jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1))),
    ("word_ngrams", exprs => WordNgrams(exprs(0), exprs(1))),
    ("field_count", exprs => FieldCount(exprs.head)),
    ("field_at", exprs => FieldAt(exprs(0), exprs(1))))

  /** SQL registration on a session built without [[graft.GraftExtensions]]:
    * makes [[sqlFunctions]] usable from spark.sql too. */
  def register(s: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
