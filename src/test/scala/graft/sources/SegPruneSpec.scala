package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The planning-time pruning pass ([[SegPrune]]): every stage's skips
  * are sound, the key-grouped layout runs the same filter stages as a
  * plain one, and each scan's plan metrics ([[SegScanMetrics]]) equal
  * the counters its pass published. Both tests read segments on the
  * driver and run each probe once; together they take a few seconds
  * on 4 cores (bound: 30 s). */
class SegPruneSpec extends SparkSpec {

  private def cat(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_prunespec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    (iso, wh)
  }

  /** The gseg scan planning builds for `df`, and its compile-time pass. */
  private def passOf(df: DataFrame): (SegScan, SegPrune.Result) = {
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[SegScan]
    (scan, scan.compiled)
  }

  private def name(f: String): String = Paths.get(f).getFileName.toString

  /** Collects `df`: its gseg scans' plan metrics must equal the
    * `gseg_*` counters the action published. A gseg scan is row-only,
    * so Spark plans its partitions once per action and the pass is
    * published once. */
  private def collectMatchingCounters(df: DataFrame, what: String): Array[Row] = {
    val before = graft.Counters.snapshot()
    val rows = df.collect()
    val after = graft.Counters.snapshot()
    def delta(n: String) = after.getOrElse(n, 0L) - before.getOrElse(n, 0L)
    val total = SegScanMetrics.of(df, SegScanMetrics.FilesTotal)
    val publishes = delta(SegScanMetrics.FilesTotal) / math.max(total, 1L)
    assert(total > 0 && publishes == 1, s"$what: ${delta(SegScanMetrics.FilesTotal)}")
    SegScanMetrics.supported.map(_.name).foreach { n =>
      assert(SegScanMetrics.of(df, n) == delta(n), s"$what: plan metric $n")
    }
    rows
  }

  /** Each live segment's rows, read whole on the driver with no filter:
    * every stored row, or with `masked` only those its vector keeps. */
  private def rowsByFile(dir: String, schema: StructType,
      masked: Boolean): Map[String, Seq[Row]] = {
    val m = SegManifest.readManifest(dir).get
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    m.names.map { n =>
      val r = new SegPartitionReader(s"$dir/$n", schema, Array.empty,
        dv = if (masked) m.dvs.get(n).map(d => s"$dir/$d") else None)
      val out = Seq.newBuilder[Row]
      try while (r.next()) out += conv(r.get()).asInstanceOf[Row]
      finally r.close()
      n -> out.result()
    }.toMap
  }

  test("the key-grouped layout bloom-skips files within its groups") {
    val (iso, _) = cat("kbloom")
    iso.sql("CREATE TABLE tc.ns.b (k INT, s STRING, v BIGINT) USING gseg " +
      "PARTITIONED BY (k) TBLPROPERTIES ('bloom_columns' = 's')")
    // three writes of every key: three files per group, each spanning
    // the whole `s` range, so zone maps cannot judge a point lookup
    (0 until 3).foreach { b =>
      iso.range(400).select((col("id") % 4).cast("int").as("k"),
        concat(lit("name-"), col("id").cast("string"), lit(s"-$b")).as("s"),
        (col("id") + b * 1000).as("v")).writeTo("tc.ns.b").append()
    }
    val t = iso.table("tc.ns.b")
    val probe = "name-77-1"
    val (scan, r) = passOf(t.filter(col("s") === probe))
    assert(r.pass.groups.map(_.of.size).contains(4), "not key-grouped")
    assert(r.files.size == 12)
    graft.Counters.clear()
    // one partition per group, emptied groups included
    assert(scan.planInputPartitions().length == 4)
    assert(graft.Counters.peek("gseg_bloom_files_skipped") > 0L,
      s"counters: ${graft.Counters.snapshot()}")
    val got = collectMatchingCounters(t.filter(col("s") === probe), "probe")
      .map(_.toSeq).toSet
    val want = t.collect().filter(_.getString(1) == probe).map(_.toSeq).toSet
    assert(got == want && want.size == 1)
  }

  test("every file the pass skips is sound for the stage that skipped it") {
    val (iso, wh) = cat("sound")
    val rnd = new scala.util.Random(12)
    val specials = Seq[java.lang.Double](Double.NaN, -0.0, 0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, null)
    val strs = Seq[String](null, "", "a", "b", "ünï", "日本", "Zeta")
    val rows = (0 until 480).map { i =>
      val n: Integer = if (rnd.nextInt(10) == 0) null else rnd.nextInt(12)
      // the special doubles live only beside small n, so files of
      // larger n carry exact x ranges
      val x: java.lang.Double =
        if (n == null) null
        else if (n < 2 && rnd.nextInt(3) == 0)
          specials(rnd.nextInt(specials.size))
        else n + rnd.nextDouble()
      val s = if (rnd.nextBoolean()) s"name-$i" else strs(rnd.nextInt(strs.size))
      Row(i.toLong, n, x, s, rnd.nextInt(4).toLong)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("n", IntegerType), StructField("x", DoubleType),
      StructField("s", StringType), StructField("k", LongType)))
    iso.createDataFrame(rows.asJava, schema).createOrReplaceTempView("src")
    val cols = "(id BIGINT, n INT, x DOUBLE, s STRING, k BIGINT)"
    iso.sql(s"CREATE TABLE tc.ns.p $cols USING gseg " +
      "TBLPROPERTIES ('bloom_columns' = 's,n')")
    iso.sql(s"CREATE TABLE tc.ns.d $cols USING gseg " +
      "TBLPROPERTIES ('bloom_columns' = 's,n', " +
      "'gseg.delete.mode' = 'merge_on_read')")
    iso.sql(s"CREATE TABLE tc.ns.g $cols USING gseg " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES ('bloom_columns' = 's')")
    Seq("p", "d").foreach(t => iso.table("src")
      .repartitionByRange(8, col("n")).writeTo(s"tc.ns.$t").append())
    iso.sql("DELETE FROM tc.ns.d WHERE id % 3 = 0")
    iso.sql("INSERT INTO tc.ns.g SELECT * FROM src WHERE id < 240")
    iso.sql("INSERT INTO tc.ns.g SELECT * FROM src WHERE id >= 240")
    assert(SegManifest.readManifest(s"$wh/ns/d").get.dvs.nonEmpty)

    val preds: Seq[(String, Column)] = Seq(
      "n = 5" -> (col("n") === 5),
      "n IN (1, 7, 11)" -> col("n").isin(1, 7, 11),
      "n > 8" -> (col("n") > 8),
      "n <= 2" -> (col("n") <= 2),
      "x > 5.5" -> (col("x") > 5.5),
      "x = 0.0" -> (col("x") === 0.0),
      "x = NaN" -> (col("x") === Double.NaN),
      "x < -1" -> (col("x") < -1.0),
      "s IS NULL" -> col("s").isNull,
      "s = ''" -> (col("s") === ""),
      "s = 'ünï'" -> (col("s") === "ünï"),
      "s = 'name-123'" -> (col("s") === "name-123"),
      "s >= 'name-3'" -> (col("s") >= "name-3"),
      "n < 3 OR s = 'b'" -> (col("n") < 3 || col("s") === "b"),
      "NOT n >= 4" -> !(col("n") >= 4),
      "k = 2" -> (col("k") === 2L),
      "k IN (1, 3) AND n > 4" -> (col("k").isin(1L, 3L) && col("n") > 4))
    val seen = scala.collection.mutable.Map[SegPrune.Stage, Int]()
      .withDefaultValue(0)
    def tally(r: SegPrune.Result): Unit =
      r.skippedBy.values.foreach(s => seen(s) += 1)

    Seq("p", "d", "g").foreach { tn =>
      val t = iso.table(s"tc.ns.$tn")
      val dir = s"$wh/ns/$tn"
      val raw = rowsByFile(dir, t.schema, masked = false)
      val local = iso.createDataFrame(raw.toSeq.flatMap { case (f, rs) =>
        rs.map(r => Row.fromSeq(f +: r.toSeq)) }.asJava,
        StructType(StructField("_f", StringType) +: t.schema.fields))
      // bucket, zone map, bloom: no row of a skipped file matches
      preds.foreach { case (label, p) =>
        val (_, r) = passOf(t.filter(p))
        collectMatchingCounters(t.filter(p), s"$tn: $label")
        assert(r.pass.groups.isDefined == (tn == "g"), s"$tn layout")
        val hits = local.filter(p).select("_f").collect().map(_.getString(0)).toSet
        r.skippedBy.foreach { case (f, stage) =>
          assert(stage.byRows && !hits(name(f)),
            s"$tn: $stage skipped ${name(f)}, which holds a row with $label")
        }
        tally(r)
      }
      if (tn != "g") {
        val live = rowsByFile(dir, t.schema, masked = true)
        val total = live.values.map(_.size).sum
        // LIMIT: the kept files' live rows cover k
        Seq(1, 50, 130).foreach { k =>
          val (scan, r) = passOf(t.limit(k))
          collectMatchingCounters(t.limit(k), s"$tn: LIMIT $k")
          assert(scan.limit.contains(k), s"LIMIT $k not pushed")
          assert(r.skippedBy.values.forall(_ == SegPrune.Limit))
          assert(r.kept.map(f => live(name(f)).size).sum >= math.min(k, total),
            s"$tn: LIMIT $k kept too few rows")
          tally(r)
        }
        // TopN: the top k over the kept files is the top k over all
        def topK(files: Iterable[String], c: Int, desc: Boolean,
            k: Int): Seq[Option[Long]] =
          files.toSeq.flatMap(live).map(r =>
            if (r.isNullAt(c)) None else Some(r.getAs[Number](c).longValue))
            .sortBy(v => (v.isEmpty, v.map(x => if (desc) -x else x)))
            .take(k)
        Seq(("n", true, 20), ("n", false, 20), ("id", true, 7),
            ("id", false, 100)).foreach { case (c, desc, k) =>
          val ord = if (desc) col(c).desc else col(c).asc_nulls_last
          val (scan, r) = passOf(t.orderBy(ord).limit(k))
          collectMatchingCounters(t.orderBy(ord).limit(k), s"$tn: TopN $c")
          assert(scan.topN.isDefined, s"TopN on $c not pushed")
          assert(r.skippedBy.values.forall(_ == SegPrune.TopN))
          val ci = t.schema.fieldIndex(c)
          assert(topK(r.kept.map(name), ci, desc, k) ==
            topK(live.keys, ci, desc, k), s"$tn: TopN $c desc=$desc k=$k")
          tally(r)
        }
      }
    }
    // every stage was exercised, so no check above passed vacuously
    SegPrune.Stages.foreach(s => assert(seen(s) > 0, s"$s never skipped: $seen"))
  }

  /** (file name, 1-based line number, line) of every scala file under
    * `roots`. */
  private def sourceLines(roots: String*): List[(String, Int, String)] =
    roots.toList.flatMap { r =>
      val root = Paths.get(r)
      assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map {
          case (l, i) => (p.getFileName.toString, i + 1, l) })
        .toList
      finally walk.close()
    }

  test("src/main judges files against filters only in SegPrune: no other " +
      "file calls mayMatch, bloomKeep or bucketGroupMayMatch") {
    val calls = sourceLines("src/main/scala").collect {
      case (f, n, l) if f != "SegPrune.scala" && Seq("mayMatch(", "bloomKeep(",
          "bucketGroupMayMatch(").exists(l.contains) => s"$f:$n"
    }
    assert(calls.isEmpty, s"file-skip checks outside SegPrune: ${calls.mkString(", ")}")
  }

  test("pruning counters are added only by SegPrune.Result.publish") {
    val key = ("\"(gseg_[a-z_]*_skipped|gseg_files_total|" +
      "gseg_bucket_groups_pruned|gseg_key_groups)\"").r
    // counters that count no pruned segment file
    val exempt = Map(
      "gseg_stream_gen_change_skipped" ->
        "a stream skips a whole change commit, not files by their contents",
      "gseg_cdf_steps_skipped" ->
        "changefeed steps skipped by metadata columns (SegCdf.mayMatchMeta)",
      "gseg_cdf_gens_skipped" ->
        "changefeed generations skipped by metadata columns")
    val lines = sourceLines("src/main/scala", "src/test/scala")
    val prune = lines.filter(_._1 == "SegPrune.scala").map(_._3).toIndexedSeq
    val from = prune.indexWhere(_.contains("def publish("))
    val to = prune.indexWhere(_ == "    }", from)
    assert(from >= 0 && to > from, "SegPrune.Result.publish not found")
    val offenders = lines.collect {
      case (f, n, l) if l.contains("add(") &&
          key.findAllMatchIn(l).exists(m => !exempt.contains(m.group(1))) &&
          !(f == "SegPrune.scala" && n > from && n <= to + 1) => s"$f:$n"
    }
    assert(offenders.isEmpty,
      s"pruning counters added outside the publish step: ${offenders.mkString(", ")}")
  }
}
