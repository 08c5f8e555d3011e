package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SegSourceSpec extends SparkSpec {
  private lazy val segDir: String = {
    val d = java.nio.file.Files.createTempDirectory("gseg").toString
    SegSource.write(
      graft.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey",
        "l_quantity", "l_extendedprice", "l_returnflag"), d)
    d
  }

  test("roundtrip: gseg read equals the parquet source row-for-row") {
    val viaSeg = spark.read.format("gseg").load(segDir).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    val viaParquet = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_returnflag").collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(viaSeg === viaParquet && viaSeg.nonEmpty)
  }

  test("null bitmap roundtrips nulls in every supported type") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegnull").toString
    val src = Seq(
      (Some(1L), Some(10), Some(1.5), Some("a")),
      (None, None, None, None),
      (Some(3L), None, Some(2.5), Some("c")))
      .toDF("l8", "i4", "f8", "s")
    SegSource.write(src, d)
    val back = spark.read.format("gseg").load(d).collect()
      .map(_.toSeq).toSet
    assert(back === src.collect().map(_.toSeq).toSet)
    // IsNull/IsNotNull evaluate through the pushed path
    assert(spark.read.format("gseg").load(d)
      .filter(col("i4").isNull).count() === 2)
    assert(spark.read.format("gseg").load(d)
      .filter(col("s").isNotNull).count() === 2)
  }

  test("v6 FLOAT and DECIMAL columns roundtrip, filter, prune, and " +
      "aggregate with exact stats") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegv6").toString
    val src = Seq(
      (1L, Some(1.25f), Some(BigDecimal("10.50"))),
      (2L, Some(-2.75f), Some(BigDecimal("-0.01"))),
      (3L, None, None),
      (4L, Some(0.0f), Some(BigDecimal("99999999.99"))))
      .toDF("k", "f", "d")
      .select($"k", $"f", $"d".cast("decimal(10,2)").as("d"))
    // two files with disjoint ranges so zone maps have something to do
    SegSource.write(src.filter($"k" <= 2).coalesce(1), d)
    src.filter($"k" > 2).coalesce(1).write.format("gseg")
      .mode("append").save(d)
    val t = spark.read.format("gseg").load(d)
    assert(t.schema("f").dataType === org.apache.spark.sql.types.FloatType)
    assert(t.schema("d").dataType ===
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(t.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
    // row-grain filters through the pushed path (exact decimal math)
    assert(t.filter($"d" > BigDecimal("0")).count() === 2)
    assert(t.filter($"f" < 0.0f).count() === 1)
    assert(t.filter($"d".isNull).count() === 1)
    // zone maps prune files: d <= -0.01 lives only in file 1
    graft.Counters.drain()
    assert(t.filter($"d" <= BigDecimal("-0.01")).count() === 1)
    assert(graft.Counters.drain()
      .getOrElse("gseg_files_skipped", 0L) >= 1L)
    // header-agg pushdown: min/max answered from stats, exactly
    val r = t.agg(min($"f"), max($"f"), min($"d"), max($"d")).head()
    assert(r.getFloat(0) === -2.75f && r.getFloat(1) === 1.25f)
    assert(r.getDecimal(2).compareTo(new java.math.BigDecimal("-0.01")) == 0)
    assert(r.getDecimal(3).compareTo(
      new java.math.BigDecimal("99999999.99")) == 0)
    // sums are exact through Spark's decimal aggregate
    assert(t.agg(sum($"d")).head().getDecimal(0).compareTo(
      new java.math.BigDecimal("100000010.48")) == 0)
    // guards: floating/decimal columns refuse blooms (precision > 18
    // became storable with tag 11 — the v7 test covers it)
    intercept[Exception](
      src.write.format("gseg").option(SegSettings.BloomColumns.key, "f")
        .mode("overwrite").save(d + "_bloom"))
  }

  test("v7 DECIMAL(p>18) columns (tag 11, int128) roundtrip, filter, " +
      "prune, and aggregate exactly at wei scale") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegv7").toString
    // wei-scale values: 8.4e25 and friends — far past long range,
    // signs on both sides, a 38-digit extreme, and nulls
    val big = Seq(
      (1L, Some("84000000000000000000000000.50")),
      (2L, Some("-0.25")),
      (3L, None),
      (4L, Some("99999999999999999999999999999999999.75")),
      (5L, Some("-99999999999999999999999999999999999.75")))
    val src = big.toDF("k", "v")
      .select($"k", $"v".cast("decimal(38,2)").as("v"))
    SegSource.write(src.filter($"k" <= 2).coalesce(1), d)
    src.filter($"k" > 2).coalesce(1).write.format("gseg")
      .mode("append").save(d)
    val t = spark.read.format("gseg").load(d)
    assert(t.schema("v").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 2))
    // bit-exact roundtrip at every magnitude, nulls included
    assert(t.select($"k", $"v".cast("string")).collect().map(_.toSeq).toSet
      === src.select($"k", $"v".cast("string")).collect().map(_.toSeq).toSet)
    // exact SUM through Spark's decimal aggregate — the wei-sum case
    // (the whole point: double would lose this to 52-bit mantissa)
    assert(t.agg(sum($"v")).head().getDecimal(0).compareTo(
      new java.math.BigDecimal("84000000000000000000000000.25")) == 0)
    // row-grain pushed filters compare through exact BigDecimal
    assert(t.filter($"v" > new java.math.BigDecimal(
      "84000000000000000000000000")).count() === 2)
    assert(t.filter($"v".isNull).count() === 1)
    // zone maps prune on the string-slot int128 stats: file 1 holds
    // [-0.25, 8.4e25+.5], file 2 [-1e35, 1e35] — a predicate above
    // 8.4e25+0.5 can only live in file 2
    graft.Counters.drain()
    assert(t.filter($"v" > new java.math.BigDecimal(
      "84000000000000000000000001")).count() === 1)
    assert(graft.Counters.drain()
      .getOrElse("gseg_files_skipped", 0L) >= 1L)
    // header-answered MIN/MAX from the exact stats
    val r = t.agg(min($"v"), max($"v")).head()
    assert(r.getDecimal(0).compareTo(new java.math.BigDecimal(
      "-99999999999999999999999999999999999.75")) == 0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal(
      "99999999999999999999999999999999999.75")) == 0)
    // tag-11 decimal-string stats must NEVER serve string predicates
    // or string-keyed layout recovery (they live in the same header
    // slots): a string column alongside stays correctly served
    val mixed = Seq(("a", "10000000000000000000.00"),
      ("b", "20000000000000000000.00")).toDF("s", "v")
      .select($"s", $"v".cast("decimal(38,2)").as("v"))
    SegSource.write(mixed.coalesce(1), d + "_mixed")
    val tm = spark.read.format("gseg").load(d + "_mixed")
    assert(tm.filter($"s" === "a").count() === 1)
    assert(tm.filter($"s" > "a").count() === 1)
  }

  test("v7 TIMESTAMP_NTZ columns (tag 12) roundtrip, filter, prune " +
      "and aggregate on wall-clock micros") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegntz").toString
    def ldt(s0: String) = java.time.LocalDateTime.parse(s0)
    val src = Seq(
      (1L, Some(ldt("2026-01-05T08:30:00"))),
      (2L, Some(ldt("2026-01-06T23:59:59.123456"))),
      (3L, None),
      (4L, Some(ldt("2026-03-01T00:00:00"))))
      .toDF("k", "ts")
    assert(src.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    // two files with disjoint ranges so zone maps can prune
    SegSource.write(src.filter($"k" <= 2).coalesce(1), d)
    src.filter($"k" > 2).coalesce(1).write.format("gseg")
      .mode("append").save(d)
    val t = spark.read.format("gseg").load(d)
    assert(t.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(t.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
    // row-grain pushed filters on wall-clock values (no TZ shifts:
    // an NTZ literal compares against the stored micros verbatim)
    assert(t.filter($"ts" > lit(ldt("2026-01-06T00:00:00"))).count() === 2)
    assert(t.filter($"ts".isNull).count() === 1)
    // zone maps prune the January file for a March point-lookup
    graft.Counters.drain()
    assert(t.filter($"ts" === lit(ldt("2026-03-01T00:00:00")))
      .count() === 1)
    assert(graft.Counters.drain()
      .getOrElse("gseg_files_skipped", 0L) >= 1L)
    // header MIN/MAX exact, micro-precision preserved
    val r = t.agg(min($"ts"), max($"ts")).head()
    assert(r.getAs[java.time.LocalDateTime](0) ==
      ldt("2026-01-05T08:30:00"))
    assert(r.getAs[java.time.LocalDateTime](1) ==
      ldt("2026-03-01T00:00:00"))
    // and the SESSION TIMEZONE provably does not bend the values: the
    // same reads under a far-offset zone return identical wall clocks
    val tzWas = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      assert(spark.read.format("gseg").load(d)
        .filter($"ts" > lit(ldt("2026-01-06T00:00:00"))).count() === 2)
      assert(spark.read.format("gseg").load(d)
        .agg(max($"ts")).head().getAs[java.time.LocalDateTime](0) ==
        ldt("2026-03-01T00:00:00"))
    } finally spark.conf.set("spark.sql.session.timeZone", tzWas)
  }

  test("NaN-bearing float/double segments keep pushed MIN/MAX and " +
      "pruning exact under Spark's NaN-greatest ordering") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegnan").toString
    // file 1: real values + NaN (max must be NaN); file 2: NaN only
    // (min AND max must be NaN); file 3: NaN-free (untouched stats)
    Seq((1L, 5.0, 2.5f), (2L, Double.NaN, Float.NaN)).toDF("k", "x", "f")
      .coalesce(1).write.format("gseg").mode("overwrite").save(d)
    Seq((3L, Double.NaN, Float.NaN)).toDF("k", "x", "f")
      .coalesce(1).write.format("gseg").mode("append").save(d)
    Seq((4L, -7.0, 1.0f)).toDF("k", "x", "f")
      .coalesce(1).write.format("gseg").mode("append").save(d)
    val t = spark.read.format("gseg").load(d)
    // pushed MAX must surface the NaN exactly as an unpushed scan
    // does (NaN orders greatest); pushed MIN must skip it while any
    // lesser real value exists anywhere
    val r = t.agg(min($"x"), max($"x"), min($"f"), max($"f")).head()
    assert(r.getDouble(0) === -7.0 && r.getDouble(1).isNaN)
    assert(r.getFloat(2) === 1.0f && r.getFloat(3).isNaN)
    // an all-NaN table min-reduces to NaN through the same headers
    val nanOnly = spark.read.format("gseg").load(d).filter($"k" === 3L)
    assert(nanOnly.agg(min($"x")).head().getDouble(0).isNaN)
    // zone maps stay conservative, never wrong: every row with x > 0
    // (NaN > 0 is FALSE in Spark, so only k=1 survives)
    assert(t.filter($"x" > 0.0).select($"k").as[Long].collect().toSet
      === Set(1L))
    assert(t.filter($"x".isNaN).count() === 2)
    // DESC TopN over the NaN-bearing column must not prune the
    // NaN-bearing files (NaN is the top value)
    val top = t.orderBy($"x".desc).limit(1).select($"x").head().getDouble(0)
    assert(top.isNaN)
  }

  test("v6 BINARY columns roundtrip, evaluate pushed filters row-grain, " +
      "and bloom-prune point lookups") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegbin").toString
    def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
    val rows = Seq(
      (1L, Some("alpha")), (2L, Some("beta")), (3L, None),
      (4L, Some("alpha")))
    val src = rows.toDF("k", "s")
      .select($"k", encode($"s", "UTF-8").as("b"))
    // two files, blooms opted in on the payload column
    src.filter($"k" <= 2).coalesce(1).write.format("gseg")
      .option(SegSettings.BloomColumns.key, "b").mode("overwrite").save(d)
    src.filter($"k" > 2).coalesce(1).write.format("gseg")
      .option(SegSettings.BloomColumns.key, "b").mode("append").save(d)
    val t = spark.read.format("gseg").load(d)
    assert(t.schema("b").dataType === org.apache.spark.sql.types.BinaryType)
    // roundtrip (compare through decode — Array[Byte] equality is
    // identity-based, Sets of raw arrays would always mismatch)
    assert(t.select($"k", decode($"b", "UTF-8").as("s"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet ===
      rows.toSet)
    // pushed binary EqualTo evaluates ROW-GRAIN in the reader
    // (unsigned byte order — a bd() fall-through would kill all rows)
    assert(t.filter($"b" === lit(bytes("alpha"))).count() === 2)
    assert(t.filter($"b" === lit(bytes("nope"))).count() === 0)
    assert(t.filter($"b".isNull).count() === 1)
    // bloom prune: a point probe for a payload that lives only in
    // file 1 skips file 2 (zone maps can't — binary has no stats)
    graft.Counters.drain()
    assert(t.filter($"b" === lit(bytes("beta"))).count() === 1)
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_bloom_files_skipped", 0L) +
      c.getOrElse("gseg_files_skipped", 0L) >= 1L, s"counters: $c")
    // min/max over binary DECLINE header answering (no stats — a null
    // partial would be wrong); the full-scan answer is exact
    assert(new String(t.agg(min($"b")).head().getAs[Array[Byte]](0),
      "UTF-8") === "alpha")
    // exact distinct over binary through the ordinary scan path
    assert(t.select(countDistinct($"b")).head().getLong(0) === 2L)
  }

  test("v6 FLOAT-VECTOR columns roundtrip exactly; guards stay loud") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegvec").toString
    val rows = Seq(
      (1L, Some(Array(1.5f, -2.25f, 0.0f))),
      (2L, Some(Array.empty[Float])),
      (3L, None),
      (4L, Some(Array(Float.MinPositiveValue, Float.MaxValue))))
    val src = rows.toDF("k", "e")
    SegSource.write(src, d)
    val t = spark.read.format("gseg").load(d)
    assert(t.schema("e").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    // bit-exact roundtrip, incl. the empty vector and the null cell
    val back = t.collect().map(r => (r.getLong(0),
      Option(r.getSeq[Float](1)).map(_.toList))).toMap
    assert(back === rows.map { case (k, v) =>
      k -> v.map(_.toList) }.toMap)
    // vector math over the gseg read (HOF path)
    assert(t.filter($"k" === 1L)
      .select(aggregate(transform($"e", x => x * x), lit(0.0d),
        (acc, x) => acc + x)).head().getDouble(0) ===
      1.5 * 1.5 + 2.25 * 2.25)
    // min/max over a vector column must NOT be header-answered (no
    // stats) — the whitelist declines, Spark computes the real
    // LEXICOGRAPHIC answer (first element decides: 1.5 > 1.4e-45)
    assert(t.agg(max($"e")).head().getSeq[Float](0).toList ===
      List(1.5f, -2.25f, 0.0f))
    // guards: non-float element types are unstorable (loud at plan
    // time), null ELEMENTS are a data bug (loud at write time)
    intercept[Exception](
      Seq((1L, Array(1.0d))).toDF("k", "e").write.format("gseg")
        .mode("overwrite").save(d + "_dbl"))
    val e = intercept[Exception](
      Seq((1L, Seq(Some(1.0f), None))).toDF("k", "e")
        .write.format("gseg").mode("overwrite").save(d + "_hole"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null element")),
      s"got: ${messages(e)}")
  }

  test("timestamp and boolean columns roundtrip, filter, prune, and aggregate correctly") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegtyped").toString
    // events carry the real TIMESTAMP column; add a boolean + nulls
    val src = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("ts"),
        (col("event_id") % 3 === 0).as("flag"),
        when(col("event_id") % 7 === 0, col("ts")).as("ts_sparse"))
    SegSource.write(src.repartitionByRange(4, col("ts")), d)
    val back = spark.read.format("gseg").load(d)
    // exact roundtrip (timestamps compare as instants, UTC session)
    assert(back.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
    assert(back.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(back.schema("flag").dataType ===
      org.apache.spark.sql.types.BooleanType)
    // timestamp range filter: pushed, re-checked, and ZONE-MAP pruned
    // (the range layout gives each segment a disjoint ts interval)
    val cut = src.agg(max(col("ts"))).head().getTimestamp(0)
    graft.Counters.clear()
    val gotTop = back.filter(col("ts") === cut).count()
    val c = graft.Counters.drain()
    assert(gotTop === src.filter(col("ts") === cut).count())
    assert(c("gseg_files_skipped") > 0L,
      s"ts zone maps pruned nothing: $c")
    // boolean filters evaluate EXACTLY in the reader (accepted shape)
    assert(back.filter(col("flag") === true).count() ===
      src.filter(col("flag") === true).count())
    assert(back.filter(col("flag") === false).count() ===
      src.filter(col("flag") === false).count())
    assert(back.filter(col("ts_sparse").isNull).count() ===
      src.filter(col("ts_sparse").isNull).count())
    // MIN/MAX over timestamp answer from headers; over boolean they
    // must DECLINE to a real scan (no stats), both exactly
    val aggGot = back.agg(min(col("ts")), max(col("ts")),
      min(col("flag")), max(col("flag")), count(col("ts_sparse"))).head()
    val aggWant = src.agg(min(col("ts")), max(col("ts")),
      min(col("flag")), max(col("flag")), count(col("ts_sparse"))).head()
    assert(aggGot.toSeq === aggWant.toSeq)
  }

  test("path-based streaming-sink replay re-commits by replacement, never duplication") {
    val dir = java.nio.file.Files.createTempDirectory("gsegsink").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    def staged(tag: String, vals: Seq[Long]): SegCommitMessage = {
      val tmp = s"$dir/.tmp-$tag.gseg"
      SegSource.writeSegment(
        vals.map(v => Array[AnyRef](java.lang.Long.valueOf(v))).toIndexedSeq,
        schema, tmp)
      SegCommitMessage(0, Seq(tmp))
    }
    val sw = SegStreamingWrite(dir, schema, truncateEachEpoch = false)
    sw.commit(3L, Array(staged("a", Seq(1L, 2L))))
    assert(spark.read.format("gseg").load(dir).count() === 2)
    // the epoch's prefix is already in the manifest, so the replay is
    // discarded whole — same row count, never doubled
    sw.commit(3L, Array(staged("b", Seq(1L, 2L))))
    assert(spark.read.format("gseg").load(dir).count() === 2)
    // other epochs append normally
    sw.commit(4L, Array(staged("c", Seq(5L))))
    assert(spark.read.format("gseg").load(dir).count() === 3)
  }

  test("date columns roundtrip with zone-map pruning and header aggs") {
    val d = java.nio.file.Files.createTempDirectory("gsegdate").toString
    val src = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("dt"))
    SegSource.write(src.repartitionByRange(4, col("dt")), d)
    val back = spark.read.format("gseg").load(d)
    assert(back.schema("dt").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(back.count() === src.count())
    // a one-day equality filter prunes the range files at plan time
    // and evaluates exactly in the reader
    val day = src.agg(max(col("dt"))).head().getDate(0)
    graft.Counters.clear()
    assert(back.filter(col("dt") === day).count() ===
      src.filter(col("dt") === day).count())
    val c = graft.Counters.drain()
    assert(c("gseg_files_skipped") > 0L, s"date zone maps inert: $c")
    // MIN/MAX(date) answer from headers exactly
    assert(back.agg(min(col("dt")), max(col("dt"))).head().toSeq ===
      src.agg(min(col("dt")), max(col("dt"))).head().toSeq)
  }

  test("column pruning and filter pushdown reach the V2 scan") {
    val df = spark.read.format("gseg").load(segDir)
      .filter(col("l_quantity") > 25)
      .select("l_returnflag")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    // projection pruned to the selected column + the filter column
    // (the filter is post-scan by the safety contract, so its column
    // must survive pruning)
    assert(scan.readSchema().fieldNames.toSet ===
      Set("l_returnflag", "l_quantity"))
    assert(scan.description().contains("PushedFilters=[") &&
      scan.description().contains("l_quantity"))
    // and the pushed + re-checked result is still exact
    val expect = graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 25).count()
    assert(df.count() === expect)
  }

  test("zone-map stats skip whole segments at planning time") {
    val d = java.nio.file.Files.createTempDirectory("gsegzone").toString
    // range-partitioned write => segments with disjoint l_orderkey ranges
    SegSource.write(
      graft.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity")
        .repartitionByRange(4, col("l_orderkey")), d)
    val nSegs = SegSource.listSegments(d).size
    assert(nSegs === 4)
    val top = graft.Tables.lineitem(spark, sfDir)
      .agg(max(col("l_orderkey"))).collect().head.getLong(0)
    graft.Counters.clear()
    val got = spark.read.format("gseg").load(d)
      .filter(col("l_orderkey") === top).count()
    val c = graft.Counters.drain()
    assert(got >= 1L)
    // only the one segment whose [min,max] covers `top` becomes a task.
    // planInputPartitions may run more than once per query (planning +
    // execution), so assert the skip RATIO, not absolute counts
    assert(c("gseg_files_total") % nSegs === 0L)
    assert(c("gseg_files_skipped") * nSegs ===
      c("gseg_files_total") * (nSegs - 1))
  }

  // aggregate plans have an exchange, so AQE wraps them and the scan
  // only shows in the plan string (the bare collectFirst the pruning
  // test uses sees no BatchScanExec under AdaptiveSparkPlanExec)
  private def scanDesc(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("aggregate pushdown answers COUNT/MIN/MAX from headers exactly") {
    val df = spark.read.format("gseg").load(segDir).agg(
      count(lit(1)).as("n"), count(col("l_partkey")).as("nc"),
      min(col("l_orderkey")).as("mn"), max(col("l_quantity")).as("mx"))
    assert(scanDesc(df).contains("PushedAggregates=[AggCountStar"))
    // header-derived values equal the relational recompute from parquet
    val want = graft.Tables.lineitem(spark, sfDir).agg(
      count(lit(1)), count(col("l_partkey")), min(col("l_orderkey")),
      max(col("l_quantity"))).collect().head
    assert(df.collect().head === want)
  }

  test("aggregate pushdown declines filters, group-bys, and string min") {
    val t = spark.read.format("gseg").load(segDir)
    // a pushed filter makes header stats unusable for the whole file
    val filtered = t.filter(col("l_quantity") > 25).agg(min(col("l_orderkey")))
    assert(!scanDesc(filtered).contains("PushedAggregates"))
    assert(filtered.collect().head.getLong(0) ===
      graft.Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 25)
        .agg(min(col("l_orderkey"))).collect().head.getLong(0))
    // group-by: headers have no per-group stats
    val grouped = t.groupBy(col("l_returnflag")).agg(max(col("l_quantity")))
    assert(!scanDesc(grouped).contains("PushedAggregates"))
    // string columns carry no stats, so the whole aggregation declines
    val strMin = t.agg(min(col("l_returnflag")), count(lit(1)))
    assert(!scanDesc(strMin).contains("PushedAggregates"))
    assert(strMin.collect().head.getString(0) ===
      graft.Tables.lineitem(spark, sfDir).agg(min(col("l_returnflag")))
        .collect().head.getString(0))
  }

  test("write path: task abort deletes the staged temp; dot-files are never listed") {
    import org.apache.spark.sql.catalyst.InternalRow
    val d = java.nio.file.Files.createTempDirectory("gsegcommit").toString
    SegSource.write(
      graft.Tables.lineitem(spark, sfDir).select("l_orderkey").limit(10), d)
    val before = SegSource.listSegments(d)
    // simulate a failed attempt: a writer stages rows then aborts
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType)))
    val w = new SegDataWriter(d, schema, partitionId = 7, taskId = 99L)
    w.write(InternalRow(1L))
    val msg = w.commit().asInstanceOf[SegCommitMessage]
    // staged but not job-committed: invisible to readers
    assert(msg.tmpFiles.nonEmpty &&
      msg.tmpFiles.forall(f => new java.io.File(f).exists()))
    assert(SegSource.listSegments(d) === before)
    w.abort()
    assert(msg.tmpFiles.forall(f => !new java.io.File(f).exists()))
    // reader state unchanged throughout
    assert(spark.read.format("gseg").load(d).count() === 10L)
  }

  test("overwrite truncates the previous generation atomically at commit") {
    val d = java.nio.file.Files.createTempDirectory("gsegow").toString
    val t = graft.Tables.lineitem(spark, sfDir).select("l_orderkey")
    SegSource.write(t.limit(100), d)
    assert(spark.read.format("gseg").load(d).count() === 100L)
    SegSource.write(t.limit(7), d)
    assert(spark.read.format("gseg").load(d).count() === 7L)
  }

  test("unsupported filter shapes are not claimed as pushed") {
    // EqualNullSafe is outside the accepted set; string predicates
    // and Or/Not ARE accepted since r14
    val df = spark.read.format("gseg").load(segDir)
      .filter(col("l_returnflag") <=> "A")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(!scan.description().contains("EqualNullSafe"))
    assert(df.count() === graft.Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") <=> "A").count())
    // the newly accepted shapes stay CORRECT under acceptance
    for (pred <- Seq(
        col("l_returnflag").startsWith("A"),
        col("l_returnflag") === "A" || col("l_quantity") > 45,
        !(col("l_returnflag") === "A"),
        col("l_returnflag") > "A" && col("l_returnflag") <= "R")) {
      val got = spark.read.format("gseg").load(segDir)
        .filter(pred).count()
      val want = graft.Tables.lineitem(spark, sfDir).filter(pred).count()
      assert(got === want, s"mismatch for $pred")
    }
    val df2 = spark.read.format("gseg").load(segDir)
      .filter(col("l_returnflag").startsWith("A"))
    val scan2 = df2.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(scan2.description().contains("StringStartsWith"))
  }

  test("string zone maps prune files on a range-laid string column") {
    import spark.implicits._
    val dir = graft.Fs.fastTempDir("graft_strzone").toString
    // 4 range files over an ASCII key: doc000..doc399
    spark.range(0, 400)
      .select($"id".as("k"), format_string("doc%03d", $"id").as("name"))
      .repartitionByRange(4, $"name").sortWithinPartitions($"name")
      .write.format("gseg").mode("overwrite").save(dir)
    val files = SegSource.listSegments(dir)
    assert(files.size == 4)
    // every file carries exact string stats (pure ASCII, short)
    files.foreach { f =>
      val cm = SegSource.headerOf(f).cols.find(_.name == "name").get
      assert(cm.minStr.isDefined && cm.maxStr.isDefined, s"no stats: $f")
    }
    val t = spark.read.format("gseg").load(dir)
    def pruned[T](body: => T): (T, Long, Long) = {
      graft.Counters.drain()
      val r = body
      val c = graft.Counters.drain()
      (r, c.getOrElse("gseg_files_skipped", 0L),
        c.getOrElse("gseg_files_total", 0L))
    }
    // point lookup: 3 of 4 files provably cannot hold doc123
    val (n1, sk1, tot1) = pruned(t.filter($"name" === "doc123").count())
    assert(n1 == 1)
    assert(sk1 * 4 == tot1 * 3, s"skipped=$sk1 total=$tot1")
    // range predicate prunes the low files
    val (n2, sk2, _) = pruned(t.filter($"name" >= "doc350").count())
    assert(n2 == 50 && sk2 > 0)
    // PREFIX pruning: only the file covering doc2xx survives
    val (n3, sk3, tot3) = pruned(t.filter($"name".startsWith("doc25")).count())
    assert(n3 == 10)
    assert(sk3 * 4 >= tot3 * 2, s"skipped=$sk3 total=$tot3")
    // IN-list pruning across two files
    val (n4, sk4, _) = pruned(
      t.filter($"name".isin("doc001", "doc399")).count())
    assert(n4 == 2 && sk4 > 0)
    // non-ASCII columns emit NO stats and are never pruned wrongly
    val dir2 = graft.Fs.fastTempDir("graft_strzone2").toString
    spark.range(0, 10)
      .select($"id".as("k"), concat(lit("é"), $"id".cast("string")).as("s"))
      .coalesce(1).write.format("gseg").mode("overwrite").save(dir2)
    val cm2 = SegSource.headerOf(SegSource.listSegments(dir2).head)
      .cols.find(_.name == "s").get
    assert(cm2.minStr.isEmpty && cm2.maxStr.isEmpty)
    assert(spark.read.format("gseg").load(dir2)
      .filter($"s" === "é3").count() == 1)
  }

  test("v2 segment headers (fixed stat layout) remain readable") {
    val dir = graft.Fs.fastTempDir("graft_v2compat").toString
    val f = s"$dir/legacy.gseg"
    // hand-craft a v2 file: magic, version 2, 2 rows, 1 long column
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.write(Array[Byte]('G', 'S', 'E', 'G')); o.writeByte(2)
    o.writeInt(2); o.writeInt(1)
    val nm = "k".getBytes("UTF-8")
    o.writeInt(nm.length); o.write(nm)
    o.writeByte(0) // long
    o.writeLong(1 + 16) // block bytes: 1 bitmap byte + 2 longs
    o.writeLong(0) // nulls
    o.writeByte(1); o.writeLong(7L); o.writeLong(9L) // v2 fixed stats
    o.writeByte(0) // bitmap: no nulls
    o.writeLong(7L); o.writeLong(9L)
    o.flush()
    java.nio.file.Files.write(java.nio.file.Paths.get(f), bo.toByteArray)
    val h = SegSource.headerOf(f)
    assert(h.nRows == 2 && h.cols(0).hasStats &&
      h.cols(0).minVal.contains(7L) && h.cols(0).maxVal.contains(9L))
    val back = spark.read.format("gseg").load(dir)
    assert(back.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 9L))
    // zone maps on the legacy stats still prune
    assert(back.filter(org.apache.spark.sql.functions.col("k") === 8).count() == 0)
  }

  test("micro-batch stream: increments, and checkpoint restart is exactly-once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("gsegstream")
    val dir = base.toString
    // each increment is one path append: one committed generation
    def arrive(lo: Long, hi: Long): Unit =
      (lo until hi).map(i => (i, s"v$i")).toDF("k", "s").repartition(2)
        .write.format("gseg").mode("append").save(dir)
    arrive(0L, 50L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    // parquet sink: the memory sink refuses checkpoint recovery, and
    // recovery is exactly what this test exists to exercise
    val outDir = s"$dir-out"
    def start() =
      spark.readStream.format("gseg").schema(schema).load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$dir-ckpt").start()
    def sunk(): Array[Long] =
      spark.read.parquet(outDir).select("k").as[Long].collect().sorted
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = start()
      q.processAllAvailable()
      assert(sunk() === (0L until 50L).toArray)
    } finally if (q != null) q.stop()
    // generation 1 lands while no query is running; a RESTARTED query
    // must recover the committed generation from the checkpoint
    // (deserializeOffset) and emit exactly the new increment —
    // generation 0 is never replayed into the sink
    arrive(100L, 150L)
    q = null
    try {
      q = start()
      q.processAllAvailable()
      assert(sunk() === ((0L until 50L) ++ (100L until 150L)).toArray,
        "restart replayed or missed a generation")
    } finally if (q != null) q.stop()
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(outDir))
    graft.Fs.deleteRecursively(base)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(s"$dir-ckpt"))
  }

  private val longK = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType)))

  /** One segment of `vals` at `file`, as a task writer stages it. */
  private def segmentOf(file: String, vals: Long*): String = {
    SegSource.writeSegment(
      vals.map(v => Array[AnyRef](java.lang.Long.valueOf(v))).toIndexedSeq,
      longK, file)
    file
  }

  private def keysOf(dir: String): Seq[Long] =
    spark.read.format("gseg").load(dir).collect().map(_.getLong(0))
      .toSeq.sorted

  test("a replayed Complete-mode epoch on a path dir keeps the epoch's rows") {
    val dir = java.nio.file.Files.createTempDirectory("gsegcomplete").toString
    val sw = SegStreamingWrite(dir, longK, truncateEachEpoch = true)
    def epoch(e: Long, tag: String, vals: Long*): Unit = sw.commit(e,
      Array(SegCommitMessage(0, Seq(segmentOf(s"$dir/.tmp-$tag.gseg", vals: _*)))))
    epoch(6L, "a", 9L)
    epoch(7L, "b", 1L, 2L, 3L)
    epoch(7L, "c", 1L, 2L, 3L) // the replay
    assert(keysOf(dir) === Seq(1L, 2L, 3L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/.tmp-c.gseg")),
      "the replay's staged temp must be discarded")
  }

  test("a path overwrite leaves only the new generation's segments") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gsegpathow").toString
    SegSource.write((0L until 20L).toDF("k").repartition(2), dir)
    (20L until 30L).toDF("k").write.format("gseg").mode("append").save(dir)
    SegSource.write(Seq(100L, 101L).toDF("k"), dir)
    val (gen, live) = SegManifest.read(dir).get
    assert(gen == 2L)
    assert(SegSource.listSegments(dir).map(f =>
      java.nio.file.Paths.get(f).getFileName.toString).sorted === live.sorted)
    for (old <- Seq(0L, 1L)) {
      val e = intercept[IllegalArgumentException](
        SegManifest.retained(dir, old, "travel"))
      assert(e.getMessage.contains("not retained"), e.getMessage)
    }
    assert(keysOf(dir) === Seq(100L, 101L))
  }

  test("a dir an older build left without a manifest reads, and its " +
      "first append keeps those segments in generation 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gseglegacy").toString
    // what the listing protocol published: segments renamed in, no manifest
    val old = Seq(segmentOf(s"$dir/part-00000-000-0ld.gseg", 1L, 2L),
      segmentOf(s"$dir/part-00001-000-0ld.gseg", 3L))
      .map(f => java.nio.file.Paths.get(f).getFileName.toString)
    assert(keysOf(dir) === Seq(1L, 2L, 3L))
    assert(!SegManifest.exists(dir), "a read must not write a manifest")
    Seq(4L).toDF("k").write.format("gseg").mode("append").save(dir)
    val (gen, names) = SegManifest.read(dir).get
    assert(gen == 0L && old.forall(names.contains) && names.size == 3, names)
    assert(keysOf(dir) === Seq(1L, 2L, 3L, 4L))
  }

  // ---- limit / TopN pushdown + runtime filtering (round 8) ----

  private lazy val rangeDir: String = {
    val d = java.nio.file.Files.createTempDirectory("gsegrange").toString
    SegSource.write(
      graft.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .repartitionByRange(4, col("l_orderkey")), d)
    d
  }

  test("pushed LIMIT lands in the scan and skips trailing segments") {
    graft.Counters.clear()
    val df = spark.read.format("gseg").load(rangeDir).limit(5)
    assert(df.count() === 5L)
    assert(df.queryExecution.executedPlan.toString.contains("PushedLimit=5"))
    assert(graft.Counters.peek("gseg_limit_files_skipped") > 0L,
      "limit did not skip whole segments at planning time")
    // with a pushed filter, segment skipping by header counts would be
    // unsound — the reader's early stop still applies, the planner's
    // file cut must NOT
    graft.Counters.clear()
    val filtered = spark.read.format("gseg").load(rangeDir)
      .filter(col("l_quantity") > 25).limit(5)
    assert(filtered.count() === 5L)
    assert(graft.Counters.peek("gseg_limit_files_skipped") === 0L)
  }

  test("pushed TopN prunes segments that cannot hold a top-k row, both directions") {
    val ref = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    for (desc <- Seq(true, false)) {
      graft.Counters.clear()
      val key = if (desc) col("l_orderkey").desc else col("l_orderkey").asc
      val got = spark.read.format("gseg").load(rangeDir)
        .orderBy(key).limit(7)
      val gotRows = got.collect().map(_.toSeq).toSeq
      val wantRows = ref.orderBy(key).limit(7).collect().map(_.toSeq).toSeq
      // ties on the sort key may reorder payload rows: compare as
      // multisets, plus the key sequence exactly
      assert(gotRows.map(_.head) === wantRows.map(_.head))
      assert(gotRows.sortBy(_.toString) === wantRows.sortBy(_.toString))
      assert(got.queryExecution.executedPlan.toString.contains("PushedTopN="))
      assert(graft.Counters.peek("gseg_topn_files_skipped") > 0L,
        s"TopN (desc=$desc) pruned nothing over range-partitioned segments")
    }
  }

  test("TopN declines filters, multi-key sorts, and string keys") {
    // with a filter: pushTopN must refuse (header counts are pre-filter)
    val f = spark.read.format("gseg").load(rangeDir)
      .filter(col("l_quantity") > 10).orderBy(col("l_orderkey")).limit(3)
    assert(!f.queryExecution.executedPlan.toString.contains("PushedTopN="))
    val want = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity") > 10).orderBy(col("l_orderkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(f.collect().map(_.getLong(0)).toSeq === want)
    // string key: no stats, decline
    val s2 = spark.read.format("gseg").load(segDir)
      .orderBy(col("l_returnflag")).limit(3)
    assert(!s2.queryExecution.executedPlan.toString.contains("PushedTopN="))
    assert(s2.count() === 3L)
  }

  test("TopN survives nulls in the sort key (kept or declined, never wrong)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegnulltop").toString
    val src = ((1L to 40L).map(i => (i, Option(i * 2))) ++
      (41L to 50L).map(i => (i, None: Option[Long]))).toDF("id", "k")
    SegSource.write(src.repartitionByRange(4, col("id")), d)
    for (key <- Seq(col("k").desc, col("k").asc, col("k").desc_nulls_first,
        col("k").asc_nulls_last)) {
      val got = spark.read.format("gseg").load(d).orderBy(key).limit(6)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      val want = src.orderBy(key).limit(6)
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      assert(got.map(_._2) === want.map(_._2), s"order mismatch for $key")
    }
  }

  test("estimateStatistics reports exact rows and PRUNED bytes") {
    val total = graft.Tables.lineitem(spark, sfDir).count()
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats
    val narrow = statsOf(spark.read.format("gseg").load(segDir)
      .select("l_orderkey"))
    val wide = statsOf(spark.read.format("gseg").load(segDir))
    assert(narrow.rowCount.contains(BigInt(total)),
      s"rowCount ${narrow.rowCount} != $total")
    // a 1-of-5-column projection must cost a fraction of the table
    assert(narrow.sizeInBytes * 2 < wide.sizeInBytes,
      s"pruned size ${narrow.sizeInBytes} not < half of ${wide.sizeInBytes}")
    // zone-map-surviving subset: a filter outside every segment's
    // range reports (near) zero
    val none = statsOf(spark.read.format("gseg").load(segDir)
      .filter(col("l_orderkey") === -1L))
    assert(none.rowCount.forall(_ == 0))
  }

  test("runtime V2 filtering: DPP-injected predicates skip segments") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gsegdpp").toString
    // fact laid out so each segment owns a tight user range
    val fact = (0L until 4000L).map(i => (i % 40, i))
      .toDF("user_id", "event_id")
    SegSource.write(fact.repartitionByRange(4, col("user_id")), d)
    // dim from a FILE source: an in-memory dim constant-folds its
    // filter into a LocalRelation, and DPP requires a live selective
    // Filter on the build side. grp = user_id/10 makes grp=0 a NARROW
    // key range (users 0..9), so only ~1 of 4 segments can match.
    val dimDir = java.nio.file.Files.createTempDirectory("gsegdppdim").toString
    (0L until 40L).map(i => (i, i / 10)).toDF("user_id", "grp")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      graft.Counters.clear()
      val joined = spark.read.format("gseg").load(d)
        .join(dim.filter(col("grp") === 0), Seq("user_id"))
      val got = joined.agg(count(lit(1))).head().getLong(0)
      val want = fact.join(
          (0L until 40L).map(i => (i, i / 10)).toDF("user_id", "grp")
            .filter(col("grp") === 0), Seq("user_id"))
        .agg(count(lit(1))).head().getLong(0)
      assert(got === want && got > 0L)
      assert(graft.Counters.peek("gseg_runtime_predicates") > 0L,
        "no runtime predicate reached the scan — DPP did not fire")
      assert(graft.Counters.peek("gseg_files_skipped") > 0L,
        "the runtime IN-filter pruned no segments despite a narrow key range")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: keyed writes join without a shuffle") {
    val dA = java.nio.file.Files.createTempDirectory("gsegspjA").toString
    val dB = java.nio.file.Files.createTempDirectory("gsegspjB").toString
    val left = spark.range(1000)
      .select((col("id") % 8).as("k"), col("id").as("v"))
    val right = spark.range(500)
      .select((col("id") % 8).as("k"), (col("id") * 2).as("w"))
    left.write.format("gseg")
      .option(SegSource.PartitionColOption, "k").mode("overwrite").save(dA)
    right.write.format("gseg")
      .option(SegSource.PartitionColOption, "k").mode("overwrite").save(dB)
    // keyed writer rolled one single-value segment per key per task
    assert(SegSource.listSegments(dA).size === 8)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // AQE's AdaptiveSparkPlanExec hides the tree from plan.collect —
      // with it off, the absence-of-Exchange assertion is real, not
      // vacuous
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      graft.Counters.clear()
      val a = spark.read.format("gseg")
        .option(SegSource.PartitionColOption, "k").load(dA)
      val b = spark.read.format("gseg")
        .option(SegSource.PartitionColOption, "k").load(dB)
      val j = a.join(b, "k")
      val smj = j.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }
      assert(smj.isDefined, "expected a sort-merge join")
      val shuffles = smj.get.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join still shuffled:\n${j.queryExecution.executedPlan}")
      val got = j.agg(count(lit(1)), sum(col("v") + col("w")))
        .collect().head
      val want = left.join(right, "k").agg(count(lit(1)), sum(col("v") + col("w")))
        .collect().head
      assert(got === want && got.getLong(0) > 0L)
      // ≥ 16 (8 per side): planInputPartitions re-runs across planning
      // phases and the counter sums
      assert(graft.Counters.peek("gseg_key_groups") >= 16L,
        "scan did not plan key-grouped partitions")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition_col + agg pushdown: partitioning contract degrades together") {
    val d = java.nio.file.Files.createTempDirectory("gsegspagg").toString
    spark.range(1000).select((col("id") % 8).as("k"), col("id").as("v"))
      .write.format("gseg")
      .option(SegSource.PartitionColOption, "k").mode("overwrite").save(d)
    val df = spark.read.format("gseg")
      .option(SegSource.PartitionColOption, "k").load(d)
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    // agg reached the headers...
    assert(scan.description().contains("PushedAggregates"))
    // ...and the SAME scan must NOT advertise key-grouped partitioning,
    // because an agg scan plans per-file buffer partitions (the r8
    // contract bug: partitioning said key-grouped, partitions weren't)
    assert(scan.asInstanceOf[SegScan].outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
    val got = df.collect().head
    assert(got.getLong(0) === 1000L && got.getLong(1) === 0L &&
      got.getLong(2) === 999L)
  }

  test("max_rows_per_segment rolls bounded segments with per-chunk zone maps") {
    import spark.implicits._
    val dir = graft.Fs.fastTempDir("graft_roll").toString
    // ONE task partition, sorted keys: the writer must roll chunks at
    // the budget instead of buffering all 1000 rows
    spark.range(0, 1000).select($"id".as("k"), ($"id" % 7).as("v"))
      .coalesce(1).sortWithinPartitions($"k")
      .write.format("gseg")
      .option(SegSettings.MaxRows.key, "100")
      .mode("overwrite").save(dir)
    val files = SegSource.listSegments(dir)
    assert(files.size == 10, s"expected 10 rolled segments, got ${files.size}")
    files.foreach(f => assert(SegSource.headerOf(f).nRows <= 100))
    // content identical to an unrolled write
    val back = spark.read.format("gseg").load(dir)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"k")).head().getLong(0)
      == (0L until 1000L).sum)
    // per-chunk zone maps: a point predicate on the sorted key prunes
    // all but ONE of the 10 chunks (an unrolled write could prune
    // nothing - the single segment spans the whole range)
    graft.Counters.drain()
    assert(back.filter($"k" === 555).count() == 1)
    val c = graft.Counters.drain()
    // 9 of 10 chunks pruned per scan materialization (the plan may
    // materialize more than once; the ratio is what's pinned)
    assert(c.getOrElse("gseg_files_skipped", -1L) * 10 ==
      c.getOrElse("gseg_files_total", -1L) * 9, s"counters: $c")
    // keyed + budget: min==max still holds per rolled file
    val dir2 = graft.Fs.fastTempDir("graft_roll2").toString
    spark.range(0, 400).select($"id".as("r"), ($"id" % 4).as("k"))
      .write.format("gseg")
      .option(SegSource.PartitionColOption, "k")
      .option(SegSettings.MaxRows.key, "30")
      .mode("overwrite").save(dir2)
    val fs2 = SegSource.listSegments(dir2)
    assert(fs2.size > 4, s"budget must split key runs: ${fs2.size}")
    fs2.foreach { f =>
      val km = SegSource.headerOf(f).cols.find(_.name == "k").get
      assert(km.hasStats && km.minBits == km.maxBits,
        s"rolled keyed segment must stay single-key: $f")
    }
    assert(spark.read.format("gseg").load(dir2).count() == 400)
  }

  test("max_bytes_per_segment rolls at the byte budget (wide rows beat a row count)") {
    import spark.implicits._
    val dir = graft.Fs.fastTempDir("graft_broll").toString
    // 200 rows x ~1 KB payload in ONE task partition: a 16 KB byte
    // budget must roll ~13 chunks where any sane ROW budget tuned for
    // narrow rows (say 1000) would buffer everything
    spark.range(0, 200)
      .select($"id".as("k"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("x" * 1000),
          $"id".cast("string")).as("payload"))
      .coalesce(1).sortWithinPartitions($"k")
      .write.format("gseg")
      .option(SegSettings.MaxBytes.key, (16 * 1024).toString)
      .mode("overwrite").save(dir)
    val files = SegSource.listSegments(dir)
    assert(files.size >= 10 && files.size <= 20,
      s"expected ~13 byte-rolled segments, got ${files.size}")
    // every chunk respects the budget to within one row's slack plus
    // header overhead (the roll triggers at-or-past the budget)
    files.foreach { f =>
      val sz = java.nio.file.Files.size(java.nio.file.Paths.get(f))
      // slack = one ~1.2 KB row (the roll triggers at-or-past the
      // budget) + header overhead: per-column metas and, since v4,
      // one HLL register array (HllM bytes) per sketched column
      assert(sz <= 16 * 1024 + 1200 + 256 + 2 * (SegSource.HllM + 1),
        s"segment over budget+slack: $f ($sz bytes)")
    }
    // content survives the rolling exactly; per-chunk zone maps prune
    val back = spark.read.format("gseg").load(dir)
    assert(back.count() == 200)
    assert(back.agg(org.apache.spark.sql.functions.sum($"k"))
      .head().getLong(0) == (0L until 200L).sum)
    graft.Counters.drain()
    assert(back.filter($"k" === 111).count() == 1)
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c")
  }

  test("pushed string comparisons use UTF8String binary order, not UTF-16") {
    import spark.implicits._
    // '\uffff' sorts ABOVE U+10000 in Java's UTF-16 code-unit order
    // but BELOW it in UTF-8 binary order (Spark's). A reader-side
    // kill is unrecoverable (Spark's re-check only re-filters kept
    // rows), so the row-grain comparator must be exactly Spark's
    // (ADVICE r14). Non-ASCII values also mean no string zone stats:
    // the file survives planning and the ROW grain decides.
    val supp = new String(Character.toChars(0x10000)) // 4-byte UTF-8
    val d = java.nio.file.Files.createTempDirectory("gsegutf").toString
    val vals = Seq("\uffff", supp, "a", "\ue000")
    SegSource.write(vals.toDF("s"), d)
    val t = spark.read.format("gseg").load(d)
    val mem = vals.toDF("s")
    for (mk <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        c => c > supp, c => c <= supp, c => !(c > supp), c => c < "\uffff",
        c => c >= "\ue000", c => !(c < supp) )) {
      val got = t.filter(mk(col("s"))).collect().map(_.getString(0)).sorted
      val want = mem.filter(mk(col("s"))).collect().map(_.getString(0)).sorted
      assert(got.toSeq == want.toSeq, s"gseg=${got.toSeq} spark=${want.toSeq}")
    }
    // the discriminating case pinned explicitly: binary order keeps
    // the '\uffff' row under NOT(s > U+10000); UTF-16 order dropped it
    assert(t.filter(!(col("s") > supp)).collect().map(_.getString(0)).toSet
      == Set("\uffff", supp, "a", "\ue000"))
  }

  test("v5 bloom filters prune point lookups on UNSORTED keys") {
    import spark.implicits._
    val dir = graft.Fs.fastTempDir("graft_bloom").toString
    // keys hash-shuffled across 8 files: every file's [min,max] spans
    // ~the whole domain, so zone maps CANNOT prune a point lookup —
    // exactly the case the bloom exists for
    val src = spark.range(40000)
      .select(xxhash64($"id").as("k"), $"id".as("v"),
        concat(lit("name-"), $"id".cast("string")).as("s"))
    src.repartition(8)
      .write.format("gseg")
      .option(SegSettings.BloomColumns.key, "k,s")
      .mode("overwrite").save(dir)
    val t = spark.read.format("gseg").load(dir)
    val probeRow = src.filter($"v" === 12345L).head()
    val hitK = probeRow.getLong(0)
    // present key: found, and ~7 of 8 files bloom-skipped (false
    // positives may keep an extra file — assert >=, never ==)
    graft.Counters.drain()
    assert(t.filter($"k" === hitK).count() == 1)
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_bloom_files_skipped", 0L) >= 6L,
      s"counters: $c1")
    // absent key: zero rows, (almost) everything skipped
    graft.Counters.drain()
    assert(t.filter($"k" === -4L).count() == 0)
    val c2 = graft.Counters.drain()
    assert(c2.getOrElse("gseg_bloom_files_skipped", 0L) >= 7L,
      s"counters: $c2")
    // IN over two present keys: at most the two holders (+fp) open
    val hit2 = src.filter($"v" === 321L).head().getLong(0)
    graft.Counters.drain()
    assert(t.filter($"k".isin(hitK, hit2)).count() == 2)
    val c3 = graft.Counters.drain()
    assert(c3.getOrElse("gseg_bloom_files_skipped", 0L) >= 5L,
      s"counters: $c3")
    // STRING blooms prune the same way
    graft.Counters.drain()
    assert(t.filter($"s" === "name-777").count() == 1)
    val c4 = graft.Counters.drain()
    assert(c4.getOrElse("gseg_bloom_files_skipped", 0L) >= 6L,
      s"counters: $c4")
    // columns WITHOUT a bloom never consult one; results stay exact
    assert(t.filter($"v" === 12345L).count() == 1)
    // guards: unknown and unsupported bloom columns fail loudly
    intercept[Exception](spark.range(5).select($"id".as("k"))
      .write.format("gseg").option(SegSettings.BloomColumns.key, "zz")
      .mode("overwrite").save(graft.Fs.fastTempDir("graft_bl2").toString))
    intercept[Exception](spark.range(5)
      .select($"id".cast("double").as("d"))
      .write.format("gseg").option(SegSettings.BloomColumns.key, "d")
      .mode("overwrite").save(graft.Fs.fastTempDir("graft_bl3").toString))
  }
}
