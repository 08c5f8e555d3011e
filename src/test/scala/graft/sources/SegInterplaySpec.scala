package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cross-feature interplays the individual suites claim but never
  * combine: INT→BIGINT widening under v5 blooms (the Int/Long
  * hash-identity claim), widening under deletion vectors (the decode
  * seam and the vector mask on one segment), and vectors under blooms
  * (a masked match is a conservative keep, never a wrong drop). */
class SegInterplaySpec extends SparkSpec {

  private def cat(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_interspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    (iso, wh)
  }

  test("INT -> BIGINT widening keeps pre-widen blooms valid: the " +
      "long probe hashes like the stored int") {
    val (iso, wh) = cat("widebloom")
    // 8 hash-shuffled INT-keyed segments with blooms, written into
    // the warehouse table dir (loadTable migrates: sidecar+manifest).
    // Zone maps cannot prune the point lookup, only the blooms can.
    val dir = s"$wh/ns/t"
    iso.range(4000)
      .select(col("id").cast("int").as("k"), (col("id") * 3).as("v"))
      .repartition(8)
      .write.format("gseg")
      .option(SegSettings.BloomColumns.key, "k")
      .mode("overwrite").save(dir)
    assert(iso.table("tc.ns.t").count() == 4000L) // migration moment
    graft.Counters.clear()
    assert(iso.table("tc.ns.t").filter(col("k") === 1234).count() == 1L)
    val prunedBefore = graft.Counters.peek("gseg_bloom_files_skipped")
    assert(prunedBefore >= 5L, s"blooms should prune, got $prunedBefore")
    // widen: the stored blooms hashed int cells AS LONGS
    // (cellHash64's Int case goes through longValue), so the
    // post-widen LONG probe must keep pruning — and must never drop
    // the true match
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN k TYPE BIGINT")
    graft.Counters.clear()
    val hit = iso.table("tc.ns.t").filter(col("k") === lit(1234L))
    assert(hit.count() == 1L, "the true match must survive the bloom")
    assert(iso.table("tc.ns.t").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    val prunedAfter = graft.Counters.peek("gseg_bloom_files_skipped")
    assert(prunedAfter >= 5L,
      s"post-widen long probes must keep pruning, got $prunedAfter")
  }

  test("widening + deletion vectors compose: masked ints promote at " +
      "the decode seam") {
    val (iso, wh) = cat("widedv")
    iso.sql("CREATE TABLE tc.ns.t (k INT, v BIGINT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(100).select(col("id").cast("int").as("k"), col("id").as("v"))
      .repartition(1).writeTo("tc.ns.t").append()
    iso.sql("DELETE FROM tc.ns.t WHERE k < 10")
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN k TYPE BIGINT")
    // the stored-int block promotes to long AND the vector masks —
    // one segment, both seams
    assert(iso.table("tc.ns.t").count() == 90L)
    assert(iso.sql("SELECT min(k) FROM tc.ns.t").head().getLong(0) == 10L)
    assert(iso.sql("SELECT sum(k) FROM tc.ns.t").head().getLong(0) ==
      (10L until 100L).sum)
    // post-widen BIGINT inserts coexist; a post-widen mor DELETE
    // vectors across both generations' types
    iso.range(100, 110).select(col("id").as("k"), col("id").as("v"))
      .writeTo("tc.ns.t").append()
    iso.sql("DELETE FROM tc.ns.t WHERE k % 2 = 1")
    assert(iso.table("tc.ns.t").count() ==
      ((10L until 110L).count(_ % 2 == 0)))
  }

  test("deletion vectors + blooms: a fully masked match is a " +
      "conservative keep, never a wrong drop or a ghost row") {
    val (iso, wh) = cat("dvbloom")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    // blooms ride a write OPTION: use the path writer then migrate
    val dir = s"$wh/ns/t"
    iso.range(1000).select(col("id").as("k"), col("id").as("v"))
      .repartition(4)
      .write.format("gseg")
      .option(SegSettings.BloomColumns.key, "k")
      .mode("append").save(dir)
    assert(iso.table("tc.ns.t").count() == 1000L)
    iso.sql("DELETE FROM tc.ns.t WHERE k = 777")
    // the bloom still admits 777 (vectors don't rewrite blooms), the
    // reader's mask kills the row: zero results, no ghost
    assert(iso.table("tc.ns.t").filter(col("k") === 777).count() == 0L)
    // and a live key still found through bloom + mask together
    assert(iso.table("tc.ns.t").filter(col("k") === 778).count() == 1L)
  }

  test("zorder + INT -> BIGINT widening: pre-widen z-layout keeps " +
      "pruning both dimensions (morton masks value bits, not types)") {
    val (iso, wh) = cat("zwide")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (x INT, y BIGINT, v DOUBLE) USING gseg")
    iso.range(0, 64 * 64)
      .select(($"id" / 64).cast("int").as("x"), ($"id" % 64).as("y"),
        ($"id" * 1.0).as("v"))
      .repartition(4).writeTo("tc.ns.t").append()
    iso.sql("CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,y)')")
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN x TYPE BIGINT")
    def skipped(f: => Long): Long = {
      graft.Counters.drain()
      f
      graft.Counters.drain().getOrElse("gseg_files_skipped", 0L)
    }
    // the LONG probe against pre-widen int zone stats: BigDecimal
    // comparison is cross-type, morton of the same value is the same
    // code — both dimensions keep pruning, answers stay exact
    assert(skipped(iso.table("tc.ns.t").filter($"x" === 7L).count()) > 0)
    assert(skipped(iso.table("tc.ns.t").filter($"y" === 7L).count()) > 0)
    assert(iso.table("tc.ns.t").filter($"x" === 7L).count() == 64L)
    // post-widen appends (now storing LONG x) join the same layout
    iso.range(0, 8).select(lit(100L).as("x"), $"id".as("y"),
      lit(0.0).as("v")).repartition(1).writeTo("tc.ns.t").append()
    assert(iso.table("tc.ns.t").filter($"x" === 100L).count() == 8L)
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getDouble(0) ==
      (0 until 64 * 64).map(_ * 1.0).sum)
  }

  test("FLOAT/DECIMAL widening + deletion vectors: masked narrow " +
      "blocks promote at the decode seam") {
    val (iso, wh) = cat("fdwide")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, f FLOAT, d DECIMAL(7,2)) " +
      "USING gseg TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.sql("INSERT INTO tc.ns.t SELECT id, " +
      "CAST(id AS FLOAT) / 4, CAST(id AS DECIMAL(7,2)) FROM range(0, 100)")
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN f TYPE DOUBLE")
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN d TYPE DECIMAL(12,2)")
    // vector-DELETE masks rows INSIDE the pre-widen file: the decode
    // seam promotes float/narrow-decimal blocks AND applies the mask
    iso.sql("DELETE FROM tc.ns.t WHERE k < 10")
    assert(iso.table("tc.ns.t").count() == 90L)
    assert(iso.table("tc.ns.t").agg(sum($"f")).head().getDouble(0) ==
      (10 until 100).map(_ / 4.0).sum)
    assert(iso.table("tc.ns.t").agg(sum($"d")).head().getDecimal(0)
      .compareTo(new java.math.BigDecimal((10 until 100).sum + ".00"))
      == 0)
    // header aggs decline under the live vector (mask soundness),
    // still answer right through the ordinary masked scan
    assert(iso.table("tc.ns.t").agg(min($"f")).head().getDouble(0) == 2.5)
  }
}
