package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkTestSession
import graft.sources.{EthSources, Sinks}

/** The three multi-output jobs' runners against the per-output plans
  * they replaced, on generated inputs: numbers agree within 1e-9
  * relative, everything else exactly. Every case holds an address all
  * scams list, an address one scam lists twice, duplicate contract
  * rows, a header and duplicates in the top-10 list, null `gas`, a
  * month whose contract transactions all have null `gas` and a month
  * with no top-10 transaction; a third of the cases list the same
  * addresses in every scam, which ties both top-1 outputs. Values are
  * multiples of 0.25, so sums are exact in any order and a tie is a
  * tie on both sides. Fixed seed, no shrinking; a few seconds a case. */
object EthParityProps extends Properties("EthParity") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withInitialSeed(Seed(15L)).withWorkers(1)

  private lazy val spark = SparkTestSession.spark

  /** The per-output plans of the runners before each job became one
    * action, verbatim. */
  private object PerOutput {
    private def monthOf(c: Column, fmt: String): Column =
      date_format(timestamp_seconds(c.cast(LongType)), fmt)

    def monthlyTxStats(tx: DataFrame): DataFrame =
      tx.groupBy(monthOf(col("block_timestamp"), "MM-yyyy").as("month"))
        .agg(count(lit(1)).as("n_tx"),
          (sum(col("value")) / count(lit(1))).as("avg_value"))

    def scamJoined(tx: DataFrame, scamAddrs: DataFrame): DataFrame =
      tx.join(broadcast(scamAddrs), tx("to_address") === scamAddrs("address"))
        .select(col("id"), col("category"), col("value"), col("block_timestamp"))

    def lucrativeScamId(joined: DataFrame): DataFrame =
      joined.groupBy(col("id")).agg(sum(col("value")).as("total_value"))
        .orderBy(col("total_value").desc, col("id").asc).limit(1)

    def lucrativeScamCategory(joined: DataFrame): DataFrame =
      joined.groupBy(col("category")).agg(sum(col("value")).as("total_value"))
        .orderBy(col("total_value").desc, col("category").asc).limit(1)

    def scamValueByMonth(joined: DataFrame): DataFrame =
      joined.groupBy(monthOf(col("block_timestamp"), "MM-yyyy").as("month"),
        col("category"))
        .agg(sum(col("value")).as("total_value"))

    def avgGasPrice(tx: DataFrame): DataFrame =
      tx.groupBy(monthOf(col("block_timestamp"), "MM/yyyy").as("month"))
        .agg(avg(col("gas_price")).cast(StringType).as("avg_gas_price"))

    def contractTx(tx: DataFrame, contracts: DataFrame): DataFrame =
      tx.join(contracts, tx("to_address") === contracts("address"))

    def avgGasUsed(contractTx: DataFrame): DataFrame =
      contractTx
        .groupBy(monthOf(col("block_timestamp"), "MM/yyyy").as("month"))
        .agg(avg(col("gas")).cast(StringType).as("avg_gas_used"))
        .orderBy(col("month").asc)

    def top10ContractGas(contractTx: DataFrame, top10: DataFrame): DataFrame =
      contractTx
        .join(broadcast(top10), contractTx("to_address") === top10("address"), "left_semi")
        .groupBy(monthOf(col("block_timestamp"), "MM/yyyy").as("month"))
        .agg(avg(col("gas")).as("avg_gas_used"))

    /** file → frame, for the three jobs' eight files. */
    def outputs(in: String): Seq[(String, DataFrame)] = {
      val s = spark
      val txA = EthSources.transactions(s, s"$in/transactions.csv",
        needValue = true, needTimestamp = true)
      val stats = monthlyTxStats(txA)
      val joined = scamJoined(txA, EthSources.scamAddresses(s, s"$in/scams.json"))
      val txE = EthSources.transactions(s, s"$in/transactions.csv",
        needGasPrice = true, needTimestamp = true)
      val ctx = contractTx(txE, EthSources.contracts(s, s"$in/contracts.csv"))
      val top10 = EthSources.contractsTop10(s, s"$in/contractsTop10.csv")
      Seq(
        "count_.txt" -> stats.select("month", "n_tx"),
        "avg_.txt" -> stats.select("month", "avg_value"),
        "lucrativeID.txt" -> lucrativeScamId(joined),
        "lucrativeCategory.txt" -> lucrativeScamCategory(joined),
        "changeWithTime.txt" -> scamValueByMonth(joined),
        "avg_gasprice.txt" -> avgGasPrice(txE).limit(100),
        "avg_gasused.txt" -> avgGasUsed(ctx).limit(100),
        "contractWithGas.txt" -> top10ContractGas(ctx, top10))
    }
  }

  /** Files whose row order the job defines; the rest compare sorted by
    * their key cells. */
  private val ordered = Set("lucrativeID.txt", "lucrativeCategory.txt", "avg_gasused.txt")

  private def epoch(y: Int, m: Int): Long =
    LocalDate.of(y, m, 1).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  private val months = Seq((2015, 8), (2015, 9), (2015, 12), (2016, 1), (2016, 2))
  private val pool = (0 until 8).map(i => s"0xa$i")

  /** 15-field transactions.csv line; fields 6-9 and 11 are read. */
  private def txLine(to: String, value: String, gas: String, gasPrice: String,
      ts: String): String =
    Seq("h", "0", "bh", "1", "0", "0xfrom", to, value, gas, gasPrice,
      "0xin", ts, "", "", "0").mkString(",")

  private def bad(good: Gen[String], badText: String, oneIn: Int): Gen[String] =
    Gen.frequency(oneIn - 1 -> good, 1 -> Gen.const(badText))

  private val txGen: Gen[String] = for {
    to <- Gen.frequency(30 -> Gen.oneOf(pool), 1 -> Gen.const("Addresses"))
    value <- bad(Gen.choose(0, 400).map(k => (k * 0.25).toString), "abc", 15)
    gas <- bad(Gen.choose(1, 1000).map(_.toString), "x", 5)
    gasPrice <- bad(Gen.choose(1, 100).map(_.toString), "bad", 15)
    ts <- bad(for {
      (y, m) <- Gen.oneOf(months)
      off <- Gen.choose(0L, 27L * 86400)
    } yield (epoch(y, m) + off).toString, "xyz", 20)
    line <- Gen.frequency(25 -> Gen.const(txLine(to, value, gas, gasPrice, ts)),
      1 -> Gen.const("only,five,fields,in,line"))
  } yield line

  /** Lines every case holds: 0xa1 (a contract listed twice) is the only
    * contract paid in 03/2017, every time with unparseable gas; 0xa3 (a
    * contract never in the top-10 list) is the only one paid in
    * 04/2017. */
  private val fixedTx = Seq(
    txLine("0xa1", "2.5", "x", "7", (epoch(2017, 3) + 5).toString),
    txLine("0xa1", "1.0", "x", "9", (epoch(2017, 3) + 99).toString),
    txLine("0xa3", "4.0", "30", "3", (epoch(2017, 4) + 7).toString),
    txLine("0xb0", "0.5", "12", "2", (epoch(2017, 4) + 8).toString))

  private case class Scam(id: Long, category: String, addresses: Seq[String])

  private val categories = Seq("Phishing", "Scamming", "Fake ICO")

  /** Every scam lists 0xa0; 0xa1 is listed twice by the first scam, or
    * by every scam in twin mode, where all scams list the same
    * addresses and the categories alternate, so the totals tie. */
  private val scamsGen: Gen[Seq[Scam]] = for {
    twins <- Gen.frequency(2 -> false, 1 -> true)
    n <- if (twins) Gen.oneOf(2, 4) else Gen.choose(1, 6)
    ids <- Gen.pick(n, 1L to 999L).map(_.toSeq)
    extras <- Gen.listOfN(n, Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf(pool))))
    cats <- Gen.listOfN(n, Gen.oneOf(categories))
  } yield ids.indices.map { i =>
    if (twins) Scam(ids(i), categories(i % 2), Seq("0xa0", "0xa1", "0xa1") ++ extras.head)
    else Scam(ids(i), cats(i),
      Seq("0xa0") ++ (if (i == 0) Seq("0xa1", "0xa1") else Nil) ++ extras(i))
  }

  private def scamsJson(scams: Seq[Scam]): String =
    scams.map { sc =>
      s""""${sc.id}": {"id": ${sc.id}, "addresses": [${sc.addresses.map("\"" + _ + "\"").mkString(", ")}], """ +
        s""""status": "Active", "category": "${sc.category}"}"""
    }.mkString("""{"result": {""", ", ", """}, "success": true}""")

  /** Contract rows: 0xa1 twice and 0xa3 once, plus up to two rows each
    * for the other addresses, and a short line. */
  private val contractsGen: Gen[Seq[String]] =
    Gen.sequence[Seq[Seq[String]], Seq[String]](pool.filterNot(Set("0xa1", "0xa3"))
      .map(a => Gen.choose(0, 2).map(Seq.fill(_)(a))))
      .map(rows => (Seq("0xa1", "0xa1", "0xa3") ++ rows.flatten)
        .map(a => Seq(a, "0xcode", "sig", "false", "false", "1").mkString(",")) :+ "a,b,c,d,e")

  /** The header line, 0xa1 twice, and a few others (never 0xa3). */
  private val top10Gen: Gen[Seq[String]] =
    Gen.listOf(Gen.oneOf(pool.filterNot(_ == "0xa3"))).map(_.take(6)).map { as =>
      ",Addresses,Value" +: (Seq("0xa1", "0xa1") ++ as).zipWithIndex
        .map { case (a, i) => s"$i,$a,1.0" }
    }

  private case class Inputs(tx: Seq[String], contracts: Seq[String],
      top10: Seq[String], scams: Seq[Scam])

  private val inputsGen: Gen[Inputs] = for {
    n <- Gen.choose(30, 120)
    tx <- Gen.listOfN(n, txGen)
    c <- contractsGen
    t <- top10Gen
    sc <- scamsGen
  } yield Inputs(tx ++ fixedTx, c, t, sc)

  private def write(in: Inputs): Path = {
    val d = Files.createTempDirectory("ethparityprops")
    def put(f: String, text: String) =
      Files.write(d.resolve(f), text.getBytes(StandardCharsets.UTF_8))
    put("transactions.csv", in.tx.mkString("\n"))
    put("contracts.csv", in.contracts.mkString("\n"))
    put("contractsTop10.csv", in.top10.mkString("\n"))
    put("scams.json", scamsJson(in.scams))
    d
  }

  private val json = new ObjectMapper()

  private def parse(text: String): Seq[Seq[Any]] =
    json.readValue(text, classOf[java.util.List[java.util.List[Any]]])
      .asScala.toSeq.map(_.asScala.toSeq)

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Numbers, and strings that both hold a number (the `avg_*`
    * strings), within 1e-9 relative; everything else equal. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => close(x.doubleValue, y.doubleValue)
    case (x: String, y: String) => x == y ||
      x.toDoubleOption.zip(y.toDoubleOption).exists { case (p, q) => close(p, q) }
    case _ => a == b
  }

  property("the one-action runners write what the per-output plans wrote") =
    Prop.forAllNoShrink(inputsGen) { inputs =>
      val d = write(inputs)
      val out = d.resolve("out")
      try {
        val in = d.toString
        EthParity.runTransactionsAnalysis(spark, in, out.toString)
        EthParity.runScams(spark, in, out.toString)
        EthParity.runGasGuzzlers(spark, in, out.toString)
        Prop.all(PerOutput.outputs(in).map { case (f, df) =>
          val want = parse(Sinks.goldenJson(df.collect().toSeq.map(_.toSeq)))
          val got = parse(new String(Files.readAllBytes(out.resolve(f)), StandardCharsets.UTF_8))
          def arrange(rows: Seq[Seq[Any]]) =
            if (ordered(f)) rows else rows.sortBy(_.init.mkString("\u0000"))
          val (g, w) = (arrange(got), arrange(want))
          (g.size == w.size && g.zip(w).forall { case (x, y) =>
            x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
          }) :| s"$f: got $g, want $w"
        }: _*)
      } finally {
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
}
