package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{EthSources, Sinks}

/** The reference's six analysis jobs re-expressed as declarative
  * DataFrame plans (SURVEY.md §3, §7.1). Each function takes validated
  * frames from [[EthSources]] and returns the result frame, a
  * single-output job's in the golden-output column order, a
  * multi-output job's with the columns of all its outputs; the run*
  * entry points wire source-path → query → golden-JSON sinks like the
  * original drivers.
  *
  * Plans vs the reference (SURVEY §4.2): column pruning and predicate
  * placement are Catalyst's; every job runs one Spark action — a job
  * with several outputs computes them all in one aggregation and the
  * driver splits the collected rows (a few hundred at most) into its
  * golden files, where the reference ran one action per output over a
  * recomputed lineage; the scam job sums per (address, month) before
  * the join fans each transaction out to every scam row listing its
  * address (eager aggregation, Yan & Larson, VLDB 1995); aggregated
  * averages are one groupBy (sum,count live in avg's buffer) instead
  * of reduceByKey-join-divide; top-k plans TakeOrderedAndProject.
  */
object EthParity {
  /** Epoch-seconds double → UTC month bucket; gmtime truncates whole
    * seconds (etherTransactionsAnalysis.py:47). */
  private def monthOf(c: Column, fmt: String): Column =
    date_format(timestamp_seconds(c.cast(LongType)), fmt)

  // ---------------------------------------------------------- job A
  /** Monthly tx count (count_.txt) + monthly average value (avg_.txt)
    * from one shared aggregation — etherTransactionsAnalysis.py:45-54
    * computed sum and count as two lineages re-joined on month. */
  def monthlyTxStats(tx: DataFrame): DataFrame =
    tx.groupBy(monthOf(col("block_timestamp"), "MM-yyyy").as("month"))
      .agg(count(lit(1)).as("n_tx"),
        (sum(col("value")) / count(lit(1))).as("avg_value"))

  // ---------------------------------------------------------- job B
  /** Top-10 contracts by ether received — etherTop10Contracts.py:62-68.
    * Inner join against the projected contract address list (not a
    * semi-join: duplicate contract rows must multiply, exactly like the
    * reference's (addr,1) join), then sum + top-10. */
  def top10Contracts(tx: DataFrame, contracts: DataFrame): DataFrame =
    tx.join(contracts, tx("to_address") === contracts("address"))
      .groupBy(col("to_address"))
      .agg(sum(col("value")).as("total_value"))
      .orderBy(col("total_value").desc, col("to_address").asc)
      .limit(10)

  // ---------------------------------------------------------- job C
  /** Top-10 miners by total block size — etherTopMiners.py:44-46. */
  def top10Miners(blocks: DataFrame): DataFrame =
    blocks.groupBy(col("miner"))
      .agg(sum(col("size")).as("total_size"))
      .orderBy(col("total_size").desc, col("miner").asc)
      .limit(10)

  // ---------------------------------------------------------- job D
  /** `grouping_id` of [[scamTotals]]' three grouping sets over (id,
    * category, month): a 1 bit marks a column the set leaves out, id
    * highest. */
  val ById = 3L
  val ByCategory = 5L
  val ByMonthCategory = 4L

  /** The three scam outputs (etherscams.py:55-59) in one aggregation,
    * tagged by `set`: the most lucrative id ([[ById]], one row), the
    * most lucrative category ([[ByCategory]], one row) and the value
    * per (month, category) ([[ByMonthCategory]]). A transaction counts
    * once per scam row listing its address, like the reference's join:
    * k scams listing an address, or one scam listing it k times, count
    * it k times. The scam rows fan a transaction out by up to their
    * largest multiplicity, so the transactions that hit a scam address
    * are summed per (address, month) first and the join fans out the
    * sums; the scam side is tiny → broadcast. Top-1 ties break by id,
    * then category, ascending; the month rows come by total
    * descending. */
  def scamTotals(tx: DataFrame, scamAddrs: DataFrame): DataFrame = {
    val hit = tx
      .join(broadcast(scamAddrs), tx("to_address") === scamAddrs("address"), "left_semi")
      .groupBy(col("to_address"), monthOf(col("block_timestamp"), "MM-yyyy").as("month"))
      .agg(sum(col("value")).as("value"))
    val rank = Window.partitionBy(col("set")).orderBy(col("total_value").desc,
      col("id").asc, col("category").asc, col("month").asc)
    hit.join(broadcast(scamAddrs), hit("to_address") === scamAddrs("address"))
      .groupingSets(Seq(Seq(col("id")), Seq(col("category")),
        Seq(col("month"), col("category"))), col("id"), col("category"), col("month"))
      .agg(sum(col("value")).as("total_value"), grouping_id().as("set"))
      .withColumn("rank", row_number().over(rank))
      .filter(col("set") === ByMonthCategory || col("rank") === 1)
  }

  // ---------------------------------------------------------- job E
  /** The three gas outputs (ethergasguzzlers.py:61-79) per month, in
    * one aggregation over every transaction left-joined to its
    * contract multiplicity (duplicate contract rows multiply, like the
    * reference's join) and to the distinct re-ingested top-10 list
    * (a semi-join: duplicates there do not multiply; its header token
    * is an address like any other). Columns:
    *  - `avg_gas_price`: avg gas price over all transactions;
    *  - `contract_tx`, `avg_gas_used`: contract transactions, null in a
    *    month without one, and their gas average;
    *  - `top10_tx`, `top10_gas_used`: the same over the top-10
    *    contracts.
    * The averages leave null `gas` out and are null when every `gas`
    * is; the two `avg_*` strings are Spark's cast of the double, as
    * the reference's str(sum/count). */
  def gasByMonth(tx: DataFrame, contracts: DataFrame, top10: DataFrame): DataFrame = {
    val mult = contracts.groupBy(col("address").as("c_address"))
      .agg(count(lit(1)).as("mult"))
    val top = top10.select(col("address").as("t_address")).distinct()
    val gas = col("gas") * col("mult")
    val inTop = col("t_address").isNotNull
    tx.join(broadcast(mult), col("to_address") === col("c_address"), "left")
      .join(broadcast(top), col("to_address") === col("t_address"), "left")
      .groupBy(monthOf(col("block_timestamp"), "MM/yyyy").as("month"))
      .agg(
        avg(col("gas_price")).cast(StringType).as("avg_gas_price"),
        sum(col("mult")).as("contract_tx"),
        try_divide(sum(gas), sum(when(col("gas").isNotNull, col("mult"))))
          .cast(StringType).as("avg_gas_used"),
        sum(when(inTop, col("mult"))).as("top10_tx"),
        try_divide(sum(when(inTop, gas)),
          sum(when(inTop && col("gas").isNotNull, col("mult")))).as("top10_gas_used"))
  }

  // ---------------------------------------------------------- job F
  /** Redundant-hex-column overhead in bits — etheroverhead.py:48-49:
    * Σ over rows of (Σ_{5 hex cols}(len-2)) * 4, keyed by literal 1. */
  def dataOverhead(blocks: DataFrame): DataFrame = {
    val hexCols = Seq("sha3_uncles", "logs_bloom", "transactions_root",
      "state_root", "receipts_root")
    val bits = hexCols.map(c => length(col(c)) - 2).reduce(_ + _) * 4
    blocks.agg(lit(1).as("key"), sum(bits.cast(LongType)).as("overhead_bits"))
      .select(col("key"), col("overhead_bits"))
  }

  // ---------------------------------------------------------- runners
  // ------------------------------------------ oracle-gated CSV pipeline
  /** End-to-end exercise of the reference's text-scan path at testdata
    * volume: derive a transactions.csv deterministically from `orders`
    * (1 in 1000 rows written malformed), run it through the validated
    * EthSources reader + the monthly aggregation, and return decimal-
    * exact sums — the DuckDB oracle recomputes the same result from
    * the original parquet, so the whole generate→write→scan→good_line→
    * aggregate cycle is hash-checked. */
  def csvPipelineOverTestdata(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    // per-(JVM, session) scratch dir: concurrent sessions must not
    // overwrite the CSV another session's scan is mid-read on
    val out = graft.Fs.scratchDir(s, "graft_eth_csv", d)
    val o = Tables.orders(s, d)
    val line = concat_ws(",",
      lit("h"), lit("0"), lit("bh"), lit("1"), lit("0"), lit("0xfrom"),
      concat(lit("0xc"), (col("o_custkey") % 500).cast(StringType)),
      col("o_totalprice").cast(StringType),
      lit("21000"), lit("50"), lit("0xin"),
      unix_timestamp(col("o_orderdate")).cast(StringType),
      lit(""), lit(""), lit("0"))
    o.select(when(col("o_orderkey") % 1000 === 0, lit("malformed,line"))
        .otherwise(line).as("value"))
      .write.mode("overwrite").text(out)
    val tx = EthSources.transactions(s, out,
      needValue = true, needTimestamp = true)
    tx.groupBy(monthOf(col("block_timestamp"), "MM-yyyy").as("month"))
      .agg(count(lit(1)).as("n_tx"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
  }

  /** The named columns of each row, in order. */
  private def cells(rows: Seq[Row], names: String*): Seq[Seq[Any]] =
    rows.map(r => names.map(n => r.getAs[Any](n)))

  /** CLI drivers mirroring the six spark-submit jobs: read from inDir
    * (transactions.csv / contracts.csv / blocks.csv / scams.json /
    * contractsTop10.csv), write golden-shape JSON into outDir. Each
    * runs one Spark action; a multi-output job writes every file from
    * the one collected result. */
  def runTransactionsAnalysis(s: SparkSession, inDir: String, outDir: String): Unit = {
    val tx = EthSources.transactions(s, s"$inDir/transactions.csv",
      needValue = true, needTimestamp = true)
    val rows = monthlyTxStats(tx).collect().toSeq
    Sinks.writeGolden(cells(rows, "month", "n_tx"), s"$outDir/count_.txt")
    Sinks.writeGolden(cells(rows, "month", "avg_value"), s"$outDir/avg_.txt")
  }

  def runTop10Contracts(s: SparkSession, inDir: String, outDir: String): Unit = {
    val tx = EthSources.transactions(s, s"$inDir/transactions.csv",
      needValue = true, needToPrefix = true)
    val c = EthSources.contracts(s, s"$inDir/contracts.csv", needAddrPrefix = true)
    Sinks.writeGoldenJson(top10Contracts(tx, c), s"$outDir/contractTop10.txt")
  }

  def runTopMiners(s: SparkSession, inDir: String, outDir: String): Unit =
    Sinks.writeGoldenJson(
      top10Miners(EthSources.blocks(s, s"$inDir/blocks.csv")),
      s"$outDir/minerTop.txt")

  def runScams(s: SparkSession, inDir: String, outDir: String): Unit = {
    val tx = EthSources.transactions(s, s"$inDir/transactions.csv",
      needValue = true, needTimestamp = true)
    val scams = EthSources.scamAddresses(s, s"$inDir/scams.json")
    val rows = scamTotals(tx, scams).collect().toSeq
    def of(set: Long) = rows.filter(_.getAs[Long]("set") == set)
    Sinks.writeGolden(cells(of(ById), "id", "total_value"), s"$outDir/lucrativeID.txt")
    Sinks.writeGolden(cells(of(ByCategory), "category", "total_value"),
      s"$outDir/lucrativeCategory.txt")
    Sinks.writeGolden(cells(of(ByMonthCategory), "month", "category", "total_value"),
      s"$outDir/changeWithTime.txt")
  }

  /** avg_gasprice keeps the first 100 months of the aggregate's own
    * order (the reference's take(100) of an unordered result);
    * avg_gasused keeps the first 100 contract months, month-sorted. */
  def runGasGuzzlers(s: SparkSession, inDir: String, outDir: String): Unit = {
    val tx = EthSources.transactions(s, s"$inDir/transactions.csv",
      needGasPrice = true, needTimestamp = true)
    val c = EthSources.contracts(s, s"$inDir/contracts.csv")
    val top10 = EthSources.contractsTop10(s, s"$inDir/contractsTop10.csv")
    val rows = gasByMonth(tx, c, top10).collect().toSeq
    Sinks.writeGolden(cells(rows.take(100), "month", "avg_gas_price"),
      s"$outDir/avg_gasprice.txt")
    def has(c: String)(r: Row) = r.getAs[Any](c) != null
    Sinks.writeGolden(cells(rows.filter(has("contract_tx")).sortBy(_.getString(0)).take(100),
      "month", "avg_gas_used"), s"$outDir/avg_gasused.txt")
    Sinks.writeGolden(cells(rows.filter(has("top10_tx")), "month", "top10_gas_used"),
      s"$outDir/contractWithGas.txt")
  }

  def runDataOverhead(s: SparkSession, inDir: String, outDir: String): Unit =
    Sinks.writeGoldenJson(
      dataOverhead(EthSources.blocks(s, s"$inDir/blocks.csv",
        needNumber = true, needMiner = true)),
      s"$outDir/dataoverhead.txt")

  val jobs: Seq[(String, (SparkSession, String, String) => Unit)] = Seq(
    "transactionsAnalysis" -> runTransactionsAnalysis _,
    "top10Contracts"       -> runTop10Contracts _,
    "topMiners"            -> runTopMiners _,
    "scams"                -> runScams _,
    "gasGuzzlers"          -> runGasGuzzlers _,
    "dataOverhead"         -> runDataOverhead _)

  /** spark-submit-style dispatcher: <job|all> <inDir> <outDir>. */
  def main(args: Array[String]): Unit = {
    val Array(job, inDir, outDir) = args
    // 16 MB scan splits: a single few-hundred-MB CSV still fans out
    // across all cores instead of 128 MB ÷ file = 3 map tasks
    val spark = graft.GraftSession.builder()
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = if (job == "all") jobs else jobs.filter(_._1 == job)
    require(selected.nonEmpty, s"unknown job $job; have ${jobs.map(_._1).mkString(",")}")
    selected.foreach { case (name, run) =>
      val t0 = System.nanoTime()
      run(spark, inDir, outDir)
      println(f"[ethparity] $name%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
