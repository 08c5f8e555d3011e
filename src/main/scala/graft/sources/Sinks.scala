package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Result sinks. The reference dumps every result as a JSON array of
  * [key, value] pairs via driver-side json.dumps + boto3 put
  * (e.g. etherTransactionsAnalysis.py:56-66); [[goldenJson]] reproduces
  * that exact byte shape from collected rows. All reference outputs are
  * post-aggregation small (top-k or per-month), so the collect is a
  * bounded driver merge, not a scalability hazard — anything large goes
  * through [[csv]]/parquet writers instead.
  */
object Sinks {
  private def jsonScalar(v: Any): String = v match {
    case null               => "null"
    case s: String          => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: java.lang.Double => pythonRepr(d.doubleValue)
    case f: java.lang.Float  => pythonRepr(f.doubleValue)
    case x                  => x.toString
  }

  /** Render a double the way Python's json.dumps/repr does. Java's
    * Double.toString already emits the same (unique) shortest-
    * round-trip digit sequence; only the layout differs — Java goes
    * scientific outside [1e-3, 1e7), Python outside [1e-4, 1e16) and
    * writes exponents as e±NN. Reformat Java's mantissa/exponent into
    * Python's layout so golden files are byte-identical. */
  private[sources] def pythonRepr(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinity) return if (d > 0) "Infinity" else "-Infinity"
    val s = java.lang.Double.toString(d)
    val ei = s.indexOf('E')
    if (ei < 0) return s // plain in Java ⇒ plain in Python too
    val exp = s.substring(ei + 1).toInt
    val mant = s.substring(0, ei)
    if (exp >= 16 || exp <= -5) {
      // scientific in Python as well: strip ".0" mantissa, e±NN
      val m = if (mant.endsWith(".0")) mant.dropRight(2) else mant
      f"${m}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
    } else {
      // Python writes this range plain: shift the decimal point
      val neg = mant.startsWith("-")
      val body = if (neg) mant.tail else mant
      val digits = body.replace(".", "")
      val point = body.indexOf('.') + exp // digits before the new point
      val out =
        if (point <= 0) "0." + ("0" * -point) + digits
        else if (point >= digits.length) digits + ("0" * (point - digits.length)) + ".0"
        else digits.take(point) + "." + digits.drop(point)
      val trimmed = // drop shift-created trailing zeros: 1.230→1.23
        if (out.contains('.') && out.endsWith("0") && !out.endsWith(".0"))
          out.reverse.dropWhile(_ == '0').reverse match {
            case t if t.endsWith(".") => t + "0"
            case t => t
          }
        else out
      (if (neg) "-" else "") + trimmed
    }
  }

  /** Rows of cells → `[[k, v], ...]` (or n-element inner arrays for
    * wider rows), the reference's golden output shape. */
  def goldenJson(rows: Seq[Seq[Any]]): String =
    rows.map(_.map(jsonScalar).mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Writes rows already on the driver: a job that splits one query's
    * collected result into several golden files calls this once per
    * file. */
  def writeGolden(rows: Seq[Seq[Any]], path: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, goldenJson(rows).getBytes(StandardCharsets.UTF_8))
  }

  def writeGoldenJson(df: DataFrame, path: String): Unit =
    writeGolden(df.collect().toSeq.map(_.toSeq), path)

  /** Header CSV sink (graphs.ipynb cell 16 / S5). */
  def csv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
