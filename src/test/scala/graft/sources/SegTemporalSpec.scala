package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Temporal partition transforms (`years`/`months`/`days`/`hours`):
  * the time-partitioned fact layout — writer run-splitting by unit
  * ordinal, stats-only recovery (monotone transforms need no stamp),
  * zero-exchange SPJ through the catalog-served V2 functions, DML
  * survival, compaction, and the guards. */
class SegTemporalSpec extends SparkSpec {

  private def cat(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_tempspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    (iso, wh)
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size

  private def tsCol(daysSpan: Int): org.apache.spark.sql.Column =
    // deterministic timestamps spread across `daysSpan` days with
    // intra-day jitter (id-derived seconds)
    timestamp_seconds(lit(1704067200L) + // 2024-01-01T00:00Z
      (col("id") % daysSpan) * 86400L + (col("id") * 137L) % 86400L)

  test("days(ts) layout: one segment per day, SPJ without an exchange") {
    val (iso, wh) = cat("days")
    iso.sql("CREATE TABLE tc.ns.a (ts TIMESTAMP, v BIGINT) USING gseg " +
      "PARTITIONED BY (days(ts))")
    iso.sql("CREATE TABLE tc.ns.b (ts TIMESTAMP, w BIGINT) USING gseg " +
      "PARTITIONED BY (days(ts))")
    iso.range(2000).select(tsCol(6).as("ts"), col("id").as("v"))
      .writeTo("tc.ns.a").append()
    iso.range(600).select(tsCol(6).as("ts"), (col("id") * 2).as("w"))
      .writeTo("tc.ns.b").append()
    val dirA = s"$wh/ns/a"
    // the clustered write rolled one single-day segment per day
    assert(SegSource.listSegments(dirA).size == 6)
    SegSource.listSegments(dirA).foreach { f =>
      val c = SegSource.headerOf(f).cols.find(_.name == "ts").get
      val mn = SegSource.temporalOf("days", c.minVal.get)
      val mx = SegSource.temporalOf("days", c.maxVal.get)
      assert(mn == mx, s"segment spans days [$mn, $mx]")
    }
    val j = iso.table("tc.ns.a").join(iso.table("tc.ns.b"), "ts")
    assert(shuffles(j) == 0,
      s"days-keyed SPJ shuffled:\n${j.queryExecution.executedPlan}")
    // same-ts rows: both sides generate ts from id — id and id' give
    // equal ts iff the full second matches; recompute relationally
    val expect = {
      def ts(i: Long, span: Long) =
        (i % span) * 86400L + (i * 137L) % 86400L
      val left = (0L until 2000L).groupBy(ts(_, 6)).view.mapValues(_.size)
      (0L until 600L).map(ts(_, 6)).map(t => left.getOrElse(t, 0)).sum
    }
    assert(j.count() == expect)
  }

  test("months(date) layout on a DATE column survives DELETE; " +
      "recovery degrades whole when a segment spans months") {
    val (iso, wh) = cat("months")
    iso.sql("CREATE TABLE tc.ns.t (d DATE, v BIGINT) USING gseg " +
      "PARTITIONED BY (months(d))")
    iso.range(900).select(
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 90).cast("int")).as("d"),
      col("id").as("v"))
      .writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    assert(SegSource.listSegments(dir).size == 3) // Jan/Feb/Mar
    // DML keeps the layout: the rewrite re-declares the distribution
    iso.sql("DELETE FROM tc.ns.t WHERE v % 7 = 3")
    val t = iso.table("tc.ns.t")
    val grouped = t.groupBy(month(col("d"))).count()
    assert(shuffles(grouped) <= 1) // group-by may shuffle; join must not
    val j = iso.table("tc.ns.t").as("x")
      .join(iso.table("tc.ns.t").as("y"), "d")
    assert(shuffles(j) == 0,
      s"months-keyed self-SPJ shuffled:\n${j.queryExecution.executedPlan}")
    assert(t.count() == (0L until 900L).count(_ % 7 != 3))
    // a foreign file spanning two months degrades the layout WHOLE —
    // results stay correct, partitioning just isn't advertised
    iso.range(10).select(
      date_add(lit(java.sql.Date.valueOf("2024-01-25")),
        (col("id") * 3).cast("int")).as("d"), col("id").as("v"))
      .repartition(1)
      .write.format("gseg").mode("append").save(dir)
    val j2 = iso.table("tc.ns.t").as("x")
      .join(iso.table("tc.ns.t").as("y"), "d")
    assert(shuffles(j2) > 0, "spanning segment must degrade the layout")
    assert(iso.table("tc.ns.t").count() ==
      (0L until 900L).count(_ % 7 != 3) + 10)
  }

  test("hours(ts) layout groups sub-day grains; years(ts) the coarse") {
    val (iso, wh) = cat("hy")
    iso.sql("CREATE TABLE tc.ns.h (ts TIMESTAMP, v BIGINT) USING gseg " +
      "PARTITIONED BY (hours(ts))")
    iso.range(240).select(
      timestamp_seconds(lit(1704067200L) + (col("id") % 4) * 3600L +
        col("id") % 60).as("ts"),
      col("id").as("v")).writeTo("tc.ns.h").append()
    assert(SegSource.listSegments(s"$wh/ns/h").size == 4)
    iso.sql("CREATE TABLE tc.ns.y (ts TIMESTAMP, v BIGINT) USING gseg " +
      "PARTITIONED BY (years(ts))")
    iso.range(300).select(
      timestamp_seconds(lit(1704067200L) +
        (col("id") % 3) * 31622400L + col("id")).as("ts"),
      col("id").as("v")).writeTo("tc.ns.y").append()
    assert(SegSource.listSegments(s"$wh/ns/y").size == 3)
    assert(iso.table("tc.ns.y").count() == 300L)
  }

  test("temporal ordinals: unit math is UTC and epoch-anchored") {
    def us(s: String): java.lang.Long =
      java.lang.Long.valueOf(java.time.Instant.parse(s).toEpochMilli * 1000L)
    assert(SegSource.temporalOf("days", us("1970-01-01T00:00:00Z")) == 0)
    assert(SegSource.temporalOf("days", us("1970-01-02T00:00:00Z")) == 1)
    assert(SegSource.temporalOf("days", us("1969-12-31T23:59:59Z")) == -1)
    assert(SegSource.temporalOf("hours", us("1970-01-01T05:30:00Z")) == 5)
    assert(SegSource.temporalOf("months", us("1970-02-01T00:00:00Z")) == 1)
    assert(SegSource.temporalOf("months", us("2024-03-15T12:00:00Z")) ==
      (2024 - 1970) * 12 + 2)
    assert(SegSource.temporalOf("years", us("2024-06-01T00:00:00Z")) == 54)
    assert(SegSource.temporalOf("years", us("1969-06-01T00:00:00Z")) == -1)
    // DATE cells are epoch-day ints
    assert(SegSource.temporalOf("days", Integer.valueOf(19723)) == 19723)
    assert(SegSource.temporalOf("months", Integer.valueOf(0)) == 0)
    intercept[Exception] {
      SegSource.temporalOf("hours", Integer.valueOf(5))
    }
  }

  test("CALL compact preserves a temporal layout (cluster-local path)") {
    val (iso, wh) = cat("cmp")
    iso.sql("CREATE TABLE tc.ns.t (ts TIMESTAMP, v BIGINT) USING gseg " +
      "PARTITIONED BY (days(ts))")
    // two appends: 2 segments per day
    (0 until 2).foreach { _ =>
      iso.range(400).select(tsCol(4).as("ts"), col("id").as("v"))
        .writeTo("tc.ns.t").append()
    }
    val dir = s"$wh/ns/t"
    assert(SegSource.listSegments(dir).size == 8)
    // the cluster-local rewrite makes up to (tasks x local distinct
    // days) files — one task gives exactly one file per day
    iso.sql("CALL tc.compact('ns.t', 1)")
    // the LIVE generation (superseded files stay as history)
    val after = SegManifest.read(dir).get._2.map(n => s"$dir/$n")
    assert(after.size == 4, s"compact left ${after.size} segments")
    after.foreach { f =>
      val c = SegSource.headerOf(f).cols.find(_.name == "ts").get
      assert(SegSource.temporalOf("days", c.minVal.get) ==
        SegSource.temporalOf("days", c.maxVal.get))
    }
    val j = iso.table("tc.ns.t").as("x")
      .join(iso.table("tc.ns.t").as("y"), "ts")
    assert(shuffles(j) == 0, "layout must survive compaction")
    assert(iso.table("tc.ns.t").count() == 800L)
  }

  test("guards: hours on DATE rejected, temporal truncate rejected, " +
      "rename keeps the temporal layout") {
    val (iso, wh) = cat("guard")
    intercept[Exception] {
      iso.sql("CREATE TABLE tc.ns.bad (d DATE) USING gseg " +
        "PARTITIONED BY (hours(d))")
    }
    intercept[Exception] {
      iso.sql("CREATE TABLE tc.ns.bad2 (s STRING) USING gseg " +
        "PARTITIONED BY (days(s))")
    }
    intercept[Exception] {
      // truncate over STRING is first-class (SegTruncateSpec); a
      // temporal type is not truncatable
      iso.sql("CREATE TABLE tc.ns.bad3 (d DATE) USING gseg " +
        "PARTITIONED BY (truncate(4, d))")
    }
    iso.sql("CREATE TABLE tc.ns.t (ts TIMESTAMP, v BIGINT) USING gseg " +
      "PARTITIONED BY (days(ts))")
    iso.range(100).select(tsCol(2).as("ts"), col("id").as("v"))
      .writeTo("tc.ns.t").append()
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN ts TO event_ts")
    assert(SegMeta.read(java.nio.file.Paths.get(s"$wh/ns/t")).get
      .settings.cluster == Seq("days(event_ts)"))
    val j = iso.table("tc.ns.t").as("x")
      .join(iso.table("tc.ns.t").as("y"), "event_ts")
    assert(shuffles(j) == 0, "rename must keep the temporal layout")
    // dropping the temporal clustering column is rejected
    intercept[Exception] {
      iso.sql("ALTER TABLE tc.ns.t DROP COLUMN event_ts")
    }
  }
}
