package graft.queries

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.sources.{EthSources, Sinks}

/** Golden end-to-end tests for the six reference pipelines on hand-built
  * fixtures with hand-computed expected values (SURVEY.md §5.2.2). The
  * fixtures deliberately contain every malformed-row species the
  * reference's good_line variants drop: wrong arity, unparseable
  * numerics, missing 0x prefix, empty miner, header lines. */
class EthParitySpec extends SparkSpec {
  // epoch seconds: 2015-08-07 and 2016-01-01 (UTC)
  private val ts1 = "1438905600"
  private val ts2 = "1451606400"

  /** 15-field transactions.csv line; only idx 6,7,8,9,11 matter. */
  private def tx(to: String, value: String, gas: String, gasPrice: String,
      ts: String): String =
    Seq("h", "0", "bh", "1", "0", "0xfrom", to, value, gas, gasPrice,
      "0xin", ts, "", "", "0").mkString(",")

  private def blk(number: String, hexLen: Int, miner: String,
      size: String): String = {
    val hex = "0x" + "a" * (hexLen - 2)
    Seq(number, "bh", "ph", "n", hex, hex, hex, hex, hex, miner, "1", "2",
      size, "0xex", "8000000", "7900000", ts1, "10", "0").mkString(",")
  }

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("ethparity")
    Files.write(d.resolve("transactions.csv"), Seq(
      "hash,nonce,block_hash,block_number,transaction_index,from_address,to_address,value,gas,gas_price,input,block_timestamp,max_fee_per_gas,max_priority_fee_per_gas,transaction_type",
      tx("0xaaa", "100.0", "10", "5", ts1),
      tx("0xaaa", "50.0", "20", "15", ts1),
      tx("0xbbb", "200.0", "30", "25", ts2),
      tx("ccc", "400.0", "40", "35", ts2),
      "only,five,fields,in,this-line",
      tx("0xaaa", "abc", "50", "45", ts2),   // bad value
      tx("0xbbb", "25.0", "60", "55", "xyz") // bad timestamp
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(d.resolve("contracts.csv"), Seq(
      Seq("0xaaa", "0xcode", "sig", "true", "false", "1").mkString(","),
      Seq("0xbbb", "0xcode", "sig", "false", "false", "2").mkString(","),
      Seq("ddd", "0xcode", "sig", "false", "true", "3").mkString(","),
      "a,b,c,d,e"
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(d.resolve("blocks.csv"), Seq(
      blk("1", 6, "m1", "100"),
      blk("2", 10, "m1", "50"),
      blk("3", 6, "m2", "120"),
      blk("4", 6, "", "10"),       // empty miner: kept by topMiners, dropped by overhead
      blk("5", 6, "m3", "x"),      // bad size: dropped everywhere
      "short,line"
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(d.resolve("scams.json"),
      ("""{"result": {"123": {"id": 123, "addresses": ["0xaaa", "0xbbb"], """ +
       """"status": "Active", "category": "Phishing"}, """ +
       """"456": {"id": 456, "addresses": ["ccc"], "status": "Offline", """ +
       """"category": "Scamming"}}, "success": true}""")
        .getBytes(StandardCharsets.UTF_8))
    Files.write(d.resolve("contractsTop10.csv"), Seq(
      ",Addresses,Value",
      "0,0xaaa,150.0"
    ).mkString("\n").getBytes(StandardCharsets.UTF_8))
    d
  }
  private def in = dir.toString

  private def rows2[T](df: org.apache.spark.sql.DataFrame): Map[String, T] =
    df.collect().map(r => r.get(0).toString -> r.get(1).asInstanceOf[T]).toMap

  test("job A: monthly tx count drops malformed rows") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needTimestamp = true)
    assert(rows2[Long](EthParity.monthlyTxStats(t).select("month", "n_tx")) ===
      Map("08-2015" -> 2L, "01-2016" -> 2L))
  }

  test("job A: monthly avg value") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needTimestamp = true)
    val avg = rows2[Double](EthParity.monthlyTxStats(t).select("month", "avg_value"))
    assert(avg("08-2015") === 75.0 && avg("01-2016") === 300.0)
  }

  test("job B: top-10 contracts (0x-filters, keeps bad-ts row, inner join)") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needToPrefix = true)
    val c = EthSources.contracts(spark, s"$in/contracts.csv", needAddrPrefix = true)
    val got = EthParity.top10Contracts(t, c).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(("0xbbb", 225.0), ("0xaaa", 150.0)))
  }

  test("job C: top miners keeps empty-miner rows, drops bad size") {
    val got = EthParity.top10Miners(
      EthSources.blocks(spark, s"$in/blocks.csv")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(("m1", 150.0), ("m2", 120.0), ("", 10.0)))
  }

  test("job D: scams — dynamic-key JSON map explode + join + three aggs") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needTimestamp = true)
    val sc = EthSources.scamAddresses(spark, s"$in/scams.json")
    val rows = EthParity.scamTotals(t, sc).collect()
    def of(set: Long) = rows.filter(_.getAs[Long]("set") == set)
    val Array(id) = of(EthParity.ById)
    assert((id.getAs[Long]("id"), id.getAs[Double]("total_value")) === ((456L, 400.0)))
    val Array(cat) = of(EthParity.ByCategory)
    assert((cat.getAs[String]("category"), cat.getAs[Double]("total_value")) ===
      (("Scamming", 400.0)))
    val byMonth = of(EthParity.ByMonthCategory).map(r =>
      ((r.getAs[String]("month"), r.getAs[String]("category")),
        r.getAs[Double]("total_value"))).toMap
    assert(byMonth === Map(
      ("08-2015", "Phishing") -> 150.0,
      ("01-2016", "Phishing") -> 200.0,
      ("01-2016", "Scamming") -> 400.0))
  }

  test("job E: gas guzzlers — avg price, contract-join avg used, top-10 rejoin") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needGasPrice = true, needTimestamp = true)
    val c = EthSources.contracts(spark, s"$in/contracts.csv")
    val top = EthSources.contractsTop10(spark, s"$in/contractsTop10.csv")
    val g = EthParity.gasByMonth(t, c, top)
    assert(rows2[String](g.select("month", "avg_gas_price"))
      .map { case (k, v) => k -> v.toDouble } ===
      Map("08/2015" -> 10.0, "01/2016" -> 35.0))
    val used = g.filter(col("contract_tx").isNotNull).orderBy("month")
      .select("month", "avg_gas_used").collect()
      .map(r => (r.getString(0), r.getString(1).toDouble)).toSeq
    assert(used === Seq(("01/2016", 40.0), ("08/2015", 15.0))) // month-sorted
    assert(rows2[Double](g.filter(col("top10_tx").isNotNull)
      .select("month", "top10_gas_used")) ===
      Map("08/2015" -> 15.0, "01/2016" -> 50.0))
  }

  test("job F: data overhead counts hex chars past 0x, 4 bits each") {
    val b = EthSources.blocks(spark, s"$in/blocks.csv",
      needNumber = true, needMiner = true)
    val got = EthParity.dataOverhead(b).collect().head
    // rows 1,3: 5 cols × (6-2) × 4 = 80 each; row 2: 5 × 8 × 4 = 160
    assert((got.getInt(0), got.getLong(1)) === ((1, 320L)))
  }

  test("golden JSON sink reproduces the [[k, v], ...] shape") {
    val t = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needTimestamp = true)
    val js = Sinks.goldenJson(EthParity.monthlyTxStats(t).select("month", "n_tx")
      .orderBy("month").collect().toSeq.map(_.toSeq))
    assert(js === """[["01-2016", 2], ["08-2015", 2]]""")
  }

  /** The golden files of the six jobs on this fixture, as the runners
    * wrote them when every output was its own action. */
  private val goldenFiles = Map(
    "count_.txt" -> """[["08-2015", 2], ["01-2016", 2]]""",
    "avg_.txt" -> """[["08-2015", 75.0], ["01-2016", 300.0]]""",
    "contractTop10.txt" -> """[["0xbbb", 225.0], ["0xaaa", 150.0]]""",
    "minerTop.txt" -> """[["m1", 150.0], ["m2", 120.0], ["", 10.0]]""",
    "lucrativeID.txt" -> """[[456, 400.0]]""",
    "lucrativeCategory.txt" -> """[["Scamming", 400.0]]""",
    "changeWithTime.txt" ->
      """[["08-2015", "Phishing", 150.0], ["01-2016", "Phishing", 200.0], ["01-2016", "Scamming", 400.0]]""",
    "avg_gasprice.txt" -> """[["08/2015", "10.0"], ["01/2016", "35.0"]]""",
    "avg_gasused.txt" -> """[["01/2016", "40.0"], ["08/2015", "15.0"]]""",
    "contractWithGas.txt" -> """[["08/2015", 15.0], ["01/2016", 50.0]]""",
    "dataoverhead.txt" -> """[[1, 320]]""")

  test("every job runs one Spark action and writes the same golden bytes") {
    val out = Files.createTempDirectory("ethparity_out")
    val seen = new LinkedBlockingQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.put(qe)
    }
    /** The executions reported before a marker action's own: the
      * listener bus delivers in order, so once the marker arrives,
      * everything before it has. */
    def reportedBeforeMarker(): Int = {
      val marker = spark.range(1).toDF()
      marker.collect()
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile { qe => assert(qe != null, "marker never reported"); qe ne marker.queryExecution }
        .size
    }
    spark.listenerManager.register(listener)
    val perJob = try {
      reportedBeforeMarker()
      EthParity.jobs.map { case (name, run) =>
        run(spark, in, out.toString)
        name -> reportedBeforeMarker()
      }
    } finally spark.listenerManager.unregister(listener)
    assert(perJob === EthParity.jobs.map(_._1 -> 1))
    val written = Files.list(out).iterator().asScala.map(f =>
      f.getFileName.toString -> new String(Files.readAllBytes(f), StandardCharsets.UTF_8)).toMap
    // changeWithTime's rows come by total descending, and the captured
    // file lists them in aggregate order; the reference collected an
    // unordered RDD, so it compares as a set of rows, each byte for byte
    def rows(json: String) = json.stripPrefix("[[").stripSuffix("]]").split("\\], \\[").sorted.toSeq
    val unordered = Set("changeWithTime.txt")
    assert(written.keySet === goldenFiles.keySet)
    goldenFiles.foreach { case (f, want) =>
      if (unordered(f)) assert(rows(written(f)) === rows(want), f)
      else assert(written(f) === want, f)
    }
  }

  test("no EthSources reader's optimized plan splits the line") {
    val readers: Seq[(String, DataFrame)] = Seq(
      "transactions" -> EthSources.transactions(spark, s"$in/transactions.csv",
        needValue = true, needTimestamp = true, needGasPrice = true,
        needToPrefix = true),
      "contracts" -> EthSources.contracts(spark, s"$in/contracts.csv",
        needAddrPrefix = true),
      "blocks" -> EthSources.blocks(spark, s"$in/blocks.csv",
        needNumber = true, needMiner = true),
      "contractsTop10" -> EthSources.contractsTop10(spark,
        s"$in/contractsTop10.csv"))
    for ((name, df) <- readers) {
      val plan = df.queryExecution.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[StringSplit]))),
        s"$name splits:\n$plan")
    }
  }

  test("transactions reads the same rows on a plain SparkSession.builder session") {
    // GraftExtensions is a static conf of the shared context, so a session
    // without it needs its own JVM
    val out = Files.createTempFile("plain_tx", ".txt")
    val log = Files.createTempFile("plain_tx", ".log")
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens="))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx512m") ++ opens ++ Seq("-cp", System.getProperty("java.class.path"),
      PlainSessionTransactions.getClass.getName.stripSuffix("$"),
      s"$in/transactions.csv", out.toString)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val done = p.waitFor(180, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    def tail = Files.readAllLines(log).asScala.takeRight(30).mkString("\n")
    assert(done && p.exitValue == 0, tail)
    val plain = Files.readAllLines(out).asScala.toSeq
    val graft = EthSources.transactions(spark, s"$in/transactions.csv",
      needValue = true, needTimestamp = true).collect().map(_.toString).sorted.toSeq
    assert(plain.head == "field_at registered before the read: false")
    assert(plain.tail == graft && graft.size == 4)
    Files.delete(out); Files.delete(log)
  }
}

/** Runs [[EthSources.transactions]] on a session from a plain
  * `SparkSession.builder` (no GraftExtensions) and writes its rows,
  * sorted, to a file. Arguments: the transactions path, the output file.
  * EthParitySpec starts it in a child JVM. */
object PlainSessionTransactions {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val before = spark.catalog.functionExists("field_at")
      val rows = EthSources.transactions(spark, args(0),
        needValue = true, needTimestamp = true).collect().map(_.toString).sorted
      Files.write(Paths.get(args(1)),
        (s"field_at registered before the read: $before" +: rows.toSeq).asJava)
    } finally spark.stop()
  }
}
