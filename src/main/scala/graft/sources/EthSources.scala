package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.StringExpressions.{fieldAt, fieldCount}

/** Validated readers for the reference's ethereum-etl-shaped inputs
  * (SURVEY.md §1.2). The reference reads raw text lines and filters with
  * per-job `good_line` predicates (arity + per-column parseability, e.g.
  * etherTransactionsAnalysis.py:19-28); schema-typed CSV reads with
  * DROPMALFORMED would under-approximate those row drops (SURVEY §7.4.3),
  * so these readers scan text lines and apply the exact predicate set.
  *
  * A line is parsed by two native expressions from
  * [[graft.functions.StringExpressions]], both codegen'd to one static
  * call per row: `field_count` (the line's ',' bytes plus one) gives
  * the arity filter, and `field_at(line, i)` gives field i by scanning
  * the line's bytes and copying only that field, with the semantics of
  * Python's `str.split` at ','. Catalyst pushes each job's filters
  * below the projection and copies the field expression into every
  * predicate. A copied `split` would decode and split the whole line
  * once per copy (4 times per transactions line, 5 per blocks line); a
  * copied `field_at` costs one partial byte scan and one field copy,
  * and builds no array and no Java String. The text scan parallelizes
  * per input split exactly like a CSV scan.
  *
  * Each reader takes the predicate requirements of the calling job and
  * returns named, typed columns so downstream query code never touches
  * positional indices again.
  */
object EthSources {
  /** S3A connector config (S3 endpoint/keys/path-style), the hadoopConf
    * block every reference job repeats (e.g.
    * etherTransactionsAnalysis.py:37-42). Local-FS paths skip this. */
  def configureS3a(s: SparkSession, endpoint: String, accessKey: String,
      secretKey: String, pathStyleAccess: Boolean = true,
      sslEnabled: Boolean = false): Unit = {
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    hc.set("fs.s3a.path.style.access", pathStyleAccess.toString)
    hc.set("fs.s3a.connection.ssl.enabled", sslEnabled.toString)
  }

  /** Lines with exactly `arity` fields (good_line's `len(fields) != n`
    * check). */
  private def linesOf(s: SparkSession, path: String, arity: Int): DataFrame =
    s.read.text(path).filter(fieldCount(col("value")) === arity)

  private def fd(i: Int): Column = fieldAt(col("value"), i)

  /** transactions.csv — 15 positional fields; the five the reference
    * dereferences become named columns. Per-job requirements:
    *  - needValue/needTimestamp/needGasPrice: float(...) must succeed
    *    (rows where the cast nulls are dropped, like good_line's try)
    *  - needToPrefix: to_address must start with "0x"
    *    (etherTop10Contracts.py:24)
    * Unvalidated numeric columns stay null-able rather than dropping the
    * row — exactly the reference's per-job asymmetry. */
  def transactions(s: SparkSession, path: String,
      needValue: Boolean = false, needTimestamp: Boolean = false,
      needGasPrice: Boolean = false, needToPrefix: Boolean = false): DataFrame = {
    var df = linesOf(s, path, 15).select(
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

  /** contracts.csv — 6 fields, idx 0 = address
    * (etherTop10Contracts.py:34-37, ethergasguzzlers.py:31-36). */
  def contracts(s: SparkSession, path: String,
      needAddrPrefix: Boolean = false): DataFrame = {
    var df = linesOf(s, path, 6).select(fd(0).as("address"))
    if (needAddrPrefix) df = df.filter(col("address").startsWith("0x"))
    df
  }

  /** blocks.csv — 19 fields; number/size must parse per job, miner
    * non-empty only for the overhead job (etheroverhead.py:21-24 vs
    * etherTopMiners.py:18-25). */
  def blocks(s: SparkSession, path: String,
      needNumber: Boolean = false, needMiner: Boolean = false): DataFrame = {
    var df = linesOf(s, path, 19).select(
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

  private val scamStruct = StructType(Seq(
    StructField("id", LongType),
    StructField("addresses", ArrayType(StringType)),
    StructField("status", StringType),
    StructField("category", StringType)))

  /** scams.json — a document whose `result` object has DYNAMIC scam-id
    * keys (etherscams.py:45-49), so spark.read.json's schema inference
    * (one struct field per id) is wrong; parse as MapType and explode
    * the map values, then the addresses array (SURVEY §7.4.1).
    * One row per (address, scam). */
  def scamAddresses(s: SparkSession, path: String): DataFrame =
    s.read.text(path)
      .select(from_json(col("value"),
        StructType(Seq(StructField("result", MapType(StringType, scamStruct)))))
        .getField("result").as("result"))
      .select(explode(col("result")).as(Seq("scam_key", "scam")))
      .select(col("scam.id").as("id"), col("scam.status").as("status"),
        col("scam.category").as("category"),
        explode(col("scam.addresses")).as("address"))

  /** Derived top-10 CSV re-ingest (ethergasguzzlers.py:55,75): pandas
    * wrote a leading unnamed index column, so the address is field 1 —
    * and the header line's "Addresses" token rides along as a key that
    * simply never joins, exactly as in the reference. */
  def contractsTop10(s: SparkSession, path: String): DataFrame =
    s.read.text(path)
      .filter(fieldCount(col("value")) >= 2)
      .select(fd(1).as("address"))
}
