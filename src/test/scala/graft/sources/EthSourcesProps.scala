package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkTestSession
import graft.functions.StringExpressions

/** `field_count`/`field_at` against `split(value, ",", -1)` on generated
  * lines, and every EthSources reader against the split-based reader it
  * replaced, for every flag combination the six jobs use. Lines carry
  * empty fields, leading and trailing commas, no comma at all, the empty
  * line, arities just below and above 6, 15 and 19, non-ASCII UTF-8 and
  * numeric text `try_cast` rejects. Fixed seed, no shrinking (a failing
  * case prints its lines); the two properties run in a few seconds. */
object EthSourcesProps extends Properties("EthSources") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withInitialSeed(Seed(13L)).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  private val fieldGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("", "0x", "0xabc", "abc", "0xü", "中文", "𝄞x", "ñ"),
    6 -> Gen.oneOf("100.0", "7", "-0", "1e3", "NaN", "Infinity", "21000",
      "1438905600"),
    // text try_cast turns into null
    3 -> Gen.oneOf("abc1", "1.2.3", "0x10", "--5", "1e", "١٢", "5€"),
    2 -> Gen.alphaNumStr.map(_.take(8)))

  private val lineGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.oneOf(",", ",,", "no comma at all"),
    12 -> (for {
      n <- Gen.oneOf(1, 2, 5, 6, 7, 14, 15, 16, 18, 19, 20)
      fs <- Gen.listOfN(n, fieldGen)
    } yield fs.mkString(",")))

  private val linesGen: Gen[List[String]] =
    Gen.choose(20, 120).flatMap(Gen.listOfN(_, lineGen))

  /** One line per element, each ending in '\n', so a final empty line
    * is read back as a row. */
  private def write(lines: Seq[String]): Path = {
    val d = Files.createTempDirectory("ethprops")
    val f = d.resolve("lines.txt")
    Files.write(f, lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
    f
  }

  private def dropFile(f: Path): Unit = {
    Files.deleteIfExists(f); Files.deleteIfExists(f.getParent)
  }

  property("field_count and field_at equal split(value, \",\", -1) and its size") =
    Prop.forAllNoShrink(linesGen) { lines =>
      val f = write(lines)
      try {
        StringExpressions.register(spark)
        import spark.implicits._
        val v = col("value")
        // the text scan runs the generated code; the local relation is
        // folded on the driver through the interpreted eval
        Prop.all(Seq(spark.read.text(f.toString), lines.toDF("value")).map { t =>
          def fieldAt(i: Column) = call_function("field_at", v, i)
          val r = t.select(v, StringExpressions.fieldCount(v).as("n"),
              split(v, ",", -1).as("f"))
            .select(v, col("n"), col("f"), posexplode(col("f")))
            .agg(
              count(when(col("pos") === 0, 1)).as("lines"),
              count(when(col("n") =!= size(col("f")) ||
                !fieldAt(col("pos")).eqNullSafe(col("col")), 1)).as("mismatched"),
              // field n, one past the last, is null on every line
              count(when(col("pos") === 0 && fieldAt(col("n")).isNotNull, 1))
                .as("past_end"))
            .head()
          val (n, mismatched, pastEnd) = (r.getLong(0), r.getLong(1), r.getLong(2))
          (mismatched == 0 && n == lines.size && pastEnd == 0) :|
            s"mismatched=$mismatched rows=$n/${lines.size} pastEnd=$pastEnd"
        }: _*)
      } finally dropFile(f)
    }

  /** The split-based readers EthSources had before it parsed lines with
    * field_count/field_at, kept as the parity reference. */
  private object SplitReaders {
    private def fieldsOf(path: String, arity: Int): DataFrame =
      spark.read.text(path)
        .select(split(col("value"), ",", -1).as("f"))
        .filter(size(col("f")) === arity)
    private def fd(i: Int): Column = col("f").getItem(i)

    def transactions(path: String, needValue: Boolean, needTimestamp: Boolean,
        needGasPrice: Boolean, needToPrefix: Boolean): DataFrame = {
      var df = fieldsOf(path, 15).select(
        fd(6).as("to_address"),
        fd(7).try_cast(DoubleType).as("value"),
        fd(8).try_cast(DoubleType).as("gas"),
        fd(9).try_cast(DoubleType).as("gas_price"),
        fd(11).try_cast(DoubleType).as("block_timestamp"))
      if (needValue)     df = df.filter(col("value").isNotNull)
      if (needTimestamp) df = df.filter(col("block_timestamp").isNotNull)
      if (needGasPrice)  df = df.filter(col("gas_price").isNotNull)
      if (needToPrefix)  df = df.filter(col("to_address").startsWith("0x"))
      df
    }

    def contracts(path: String, needAddrPrefix: Boolean): DataFrame = {
      val df = fieldsOf(path, 6).select(fd(0).as("address"))
      if (needAddrPrefix) df.filter(col("address").startsWith("0x")) else df
    }

    def blocks(path: String, needNumber: Boolean, needMiner: Boolean): DataFrame = {
      var df = fieldsOf(path, 19).select(
        fd(0).try_cast(LongType).as("number"),
        fd(4).as("sha3_uncles"), fd(5).as("logs_bloom"),
        fd(6).as("transactions_root"), fd(7).as("state_root"),
        fd(8).as("receipts_root"),
        fd(9).as("miner"),
        fd(12).try_cast(DoubleType).as("size"))
        .filter(col("size").isNotNull)
      if (needNumber) df = df.filter(col("number").isNotNull)
      if (needMiner)  df = df.filter(col("miner") =!= "")
      df
    }

    def contractsTop10(path: String): DataFrame =
      spark.read.text(path)
        .select(split(col("value"), ",", -1).as("f"))
        .filter(size(col("f")) >= 2)
        .select(fd(1).as("address"))
  }

  /** (reader, EthSources frame, split-based frame) for every flag
    * combination EthParity.jobs passes. */
  private def readerPairs(p: String): Seq[(String, DataFrame, DataFrame)] = {
    val s = spark
    Seq(
      ("transactions(value, timestamp)",
        EthSources.transactions(s, p, needValue = true, needTimestamp = true),
        SplitReaders.transactions(p, true, true, false, false)),
      ("transactions(value, toPrefix)",
        EthSources.transactions(s, p, needValue = true, needToPrefix = true),
        SplitReaders.transactions(p, true, false, false, true)),
      ("transactions(gasPrice, timestamp)",
        EthSources.transactions(s, p, needGasPrice = true, needTimestamp = true),
        SplitReaders.transactions(p, false, true, true, false)),
      ("contracts()", EthSources.contracts(s, p),
        SplitReaders.contracts(p, false)),
      ("contracts(addrPrefix)", EthSources.contracts(s, p, needAddrPrefix = true),
        SplitReaders.contracts(p, true)),
      ("blocks()", EthSources.blocks(s, p), SplitReaders.blocks(p, false, false)),
      ("blocks(number, miner)",
        EthSources.blocks(s, p, needNumber = true, needMiner = true),
        SplitReaders.blocks(p, true, true)),
      ("contractsTop10", EthSources.contractsTop10(s, p),
        SplitReaders.contractsTop10(p)))
  }

  property("every EthSources reader returns the split-based reader's rows") =
    Prop.forAllNoShrink(linesGen) { lines =>
      val f = write(lines)
      try {
        val pairs = readerPairs(f.toString)
        // every reader's rows as (reader, JSON row) in one frame per side,
        // so a case costs two jobs
        def rows(side: Seq[DataFrame]): Map[String, Seq[String]] =
          pairs.map(_._1).zip(side).map { case (name, df) =>
            df.select(lit(name).as("reader"), to_json(struct(col("*"))).as("row"))
          }.reduce(_ unionAll _).collect().toSeq
            .groupMap(_.getString(0))(_.getString(1)).view.mapValues(_.sorted).toMap
        val (ours, ref) = (rows(pairs.map(_._2)), rows(pairs.map(_._3)))
        Prop.all(pairs.map { case (name, o, r) =>
          val (a, b) = (ours.getOrElse(name, Nil), ref.getOrElse(name, Nil))
          (o.schema == r.schema && a == b) :|
            s"$name: ${a.size} rows vs ${b.size} split-based"
        }: _*)
      } finally dropFile(f)
    }
}
