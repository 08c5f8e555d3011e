package graft

import java.nio.file.{Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{array, col, lit, map, struct}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, TimestampNTZType,
  TimestampType}

/** `Tables.schemaOf` reads a parquet schema on the driver; it must be
  * the schema `spark.read.parquet` infers with a Spark job, under
  * every conf that inference honours. */
class TablesSpec extends SparkSpec {
  private def inferred(p: String) = spark.read.parquet(p).schema

  private def assertResolves(p: String): Unit = {
    val resolved = Tables.schemaOf(spark, p)
    assert(resolved === inferred(p), s"schema of $p")
    assert(spark.read.schema(resolved).parquet(p).schema === inferred(p), s"scan of $p")
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def withDir[T](f: JPath => T): T = {
    val d = Fs.fastTempDir("graft_tables")
    try f(d) finally Fs.deleteRecursively(d)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
  private val MergeSchema = "spark.sql.parquet.mergeSchema"

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"every table's schema matches spark.read.parquet at $sf") {
      Tables.Names.foreach(t => assertResolves(s"/root/testdata/$sf/$t.parquet"))
    }

  test("events resolves under nanosAsLong and NTZ inference, on and off") {
    for (nanos <- Seq("true", "false"); ntz <- Seq("true", "false"))
      withConf(NanosAsLong -> nanos, InferNtz -> ntz) {
        assertResolves(s"$sfDir/events.parquet")
        val ts = Tables.schemaOf(spark, s"$sfDir/events.parquet")("ts").dataType
        assert(ts === (if (ntz == "true") TimestampNTZType else TimestampType))
      }
  }

  test("a TIMESTAMP(NANOS) events file reads as long, then as floored micros") {
    withDir { d =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val w = ExampleParquetWriter.builder(new Path(s"$d/events.parquet"))
        .withType(schema).build()
      val rows = new SimpleGroupFactory(schema)
      try w.write(rows.newGroup().append("event_id", 1L)
          .append("ts", 1700000000123456789L))
      finally w.close()
      val p = s"$d/events.parquet"
      withConf(NanosAsLong -> "true") {
        assertResolves(p)
        assert(Tables.schemaOf(spark, p)("ts").dataType === LongType)
        val ev = Tables.events(spark, d.toString)
        assert(ev.schema("ts").dataType === TimestampType)
        assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) === 1700000000123456L)
      }
      withConf(NanosAsLong -> "false") {
        intercept[Exception](inferred(p))
        intercept[Exception](Tables.schemaOf(spark, p))
      }
    }
  }

  test("a multi-file directory resolves from its first data file") {
    withDir { d =>
      val p = s"$d/t"
      // non-null nested columns: the scan reports them all nullable
      spark.range(100).select(col("id"), (col("id") % 7).cast("int").as("k"),
          col("id").cast("string").as("s"), array(col("id")).as("arr"),
          map(col("id"), struct(col("id").as("x"))).as("m"))
        .repartition(3).write.parquet(p)
      assert(new java.io.File(p).list().count(_.endsWith(".parquet")) === 3)
      assertResolves(p)
    }
  }

  test("a Spark-written file's row-metadata schema wins over its parquet schema") {
    withDir { d =>
      val p = s"$d/t"
      val comment = new MetadataBuilder().putString("comment", "kept").build()
      spark.range(3).select(col("id").as("id", comment),
          lit("2024-01-02 03:04:05").cast("timestamp_ntz").as("at"))
        .write.parquet(p)
      val file = new java.io.File(p).listFiles().find(_.getName.endsWith(".parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toString), spark.sessionState.newHadoopConf()))
      val keys = try reader.getFileMetaData.getKeyValueMetaData finally reader.close()
      assert(keys.containsKey("org.apache.spark.sql.parquet.row.metadata"))
      // without NTZ inference the parquet schema alone would read `at`
      // as TIMESTAMP; the stored Spark schema keeps TIMESTAMP_NTZ
      withConf(InferNtz -> "false") {
        assertResolves(p)
        val s = Tables.schemaOf(spark, p)
        assert(s("at").dataType === TimestampNTZType)
        assert(s("id").metadata.getString("comment") === "kept")
      }
    }
  }

  test("a path rewritten in place resolves to its new schema") {
    withDir { d =>
      val p = s"$d/t"
      spark.range(3).select(col("id").as("a")).write.parquet(p)
      assertResolves(p)
      spark.range(3).select(col("id").cast("string").as("b"), lit(1.5).as("c"))
        .write.mode("overwrite").parquet(p)
      assertResolves(p)
      assert(Tables.schemaOf(spark, p).fieldNames.toSeq === Seq("b", "c"))
    }
  }

  test("a session that merges schemas gets the merged schema") {
    withDir { d =>
      val p = s"$d/t"
      spark.range(3).select(col("id"), col("id").as("a")).write.parquet(p)
      spark.range(3).select(col("id"), col("id").cast("string").as("b"))
        .write.mode("append").parquet(p)
      withConf(MergeSchema -> "true") {
        assertResolves(p)
        assert(Tables.schemaOf(spark, p).fieldNames.toSet === Set("id", "a", "b"))
      }
      withConf(MergeSchema -> "false")(assertResolves(p))
    }
  }

  test("a partitioned directory gets Spark's partition columns") {
    withDir { d =>
      val p = s"$d/t"
      spark.range(6).select(col("id"), (col("id") % 2).as("part"))
        .write.partitionBy("part").parquet(p)
      assertResolves(p)
      assert(Tables.schemaOf(spark, p).fieldNames.toSeq === Seq("id", "part"))
    }
  }
}
