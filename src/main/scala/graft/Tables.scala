package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). All queries take the scale-factor
  * directory as a parameter so the same code runs at sf0.001 → 100 TB:
  * the parquet scan is partition-parallel and Catalyst pushes filters
  * and column pruning into it.
  *
  * Building a loader's DataFrame runs no Spark job: [[schemaOf]] reads
  * the table's schema from one parquet footer on the driver, and the
  * scan is built with that schema, so the job `spark.read.parquet`
  * launches to infer it never runs.
  */
object Tables {
  /** Every table, by its file name under the scale-factor directory. */
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver.
    * With `spark.sql.parquet.mergeSchema` off (the default), Spark's
    * inference reads one footer: `_common_metadata`, else `_metadata`,
    * else the first data file by path, hidden names (`_x`, `.x`)
    * skipped. This reads the same footer and converts it with the
    * same `ParquetFileFormat.readSchemaFromFooter`, which prefers the
    * Spark schema stored in the footer's row metadata and otherwise
    * converts the parquet schema under the session's
    * `legacy.parquet.nanosAsLong`, `inferTimestampNTZ`, `binaryAsString`
    * and `int96AsTimestamp` confs, as they stand at this call; every
    * field comes back nullable, as a file scan reports it. Nothing
    * is cached, so a path rewritten in place yields its new schema.
    * A session that merges schemas, a directory with subdirectories
    * (partition columns come from their names), or a path with no data
    * file gets Spark's own inference: its merged schema, its partition
    * columns, or its error. The path is literal, not a glob. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoop)
    def hidden(n: String): Boolean =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    val pick =
      if (conf.isParquetSchemaMergingEnabled || !fs.exists(root)) None
      else {
        // listStatus of a file is the file itself
        val files = fs.listStatus(root).toSeq.filterNot(st => hidden(st.getPath.getName))
          .sortBy(_.getPath.toString)
        val summaries = Seq("_common_metadata", "_metadata")
        if (files.exists(_.isDirectory)) None
        else summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      }
    pick match {
      case Some(f) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoop), SKIP_ROW_GROUPS)
        nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))).asInstanceOf[StructType]
      case None => spark.read.parquet(path).schema
    }
  }

  /** A file scan reports every column, element and value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some rounds
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others. Normalize
    * every encoding to a session-TZ TIMESTAMP (sessions here run UTC)
    * so downstream `unix_micros` / `Row.getTimestamp` semantics are
    * stable regardless of how the driver generated the files:
    * - NANOS: Spark's reader rejects it outright; read nanos as long
    *   (legacy conf, set at read time so it works under any session)
    *   and floor-convert to micros — the same truncation DuckDB
    *   applies, so oracle comparisons line up.
    * - MICROS without UTC adjustment: Spark reads TIMESTAMP_NTZ; cast
    *   to TIMESTAMP interprets the wall clock in the session TZ (UTC),
    *   exactly how DuckDB treats its naive TIMESTAMP. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table in [[Names]] as a temp view so users can
    * drive the engine with raw `spark.sql` (the events view goes
    * through the same nanos→micros normalization as the typed loader). */
  def registerAll(s: SparkSession, d: String): Unit =
    Names.foreach { t =>
      (if (t == "events") events(s, d) else load(s, d, t)).createOrReplaceTempView(t)
    }
}
