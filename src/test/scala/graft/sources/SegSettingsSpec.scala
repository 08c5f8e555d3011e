package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[SegSettings]]: CTAS and CREATE + INSERT build the same table for
  * every setting, a bad value fails the same way on both, the bloom
  * setting survives every write path, sidecars written before the
  * settings table load unchanged, and `_pos` is reserved everywhere. */
class SegSettingsSpec extends SparkSpec {
  private val Cols = "k, g, tag, v"

  /** A catalog session over a fresh warehouse, with a 240-row source
    * view in 4 files whose `tag`s are unique and unsorted (zone maps
    * cannot prune a `tag` equality; a bloom can). */
  private def session(name: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_settings_$name").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    iso.range(0, 240).repartitionByRange(4, col("id")).select(
      col("id").as("k"), (col("id") % 4).as("g"), tagOf(col("id")).as("tag"),
      col("id").as("v")).createOrReplaceTempView("graft_settings_src")
    (iso, wh)
  }

  private def tagOf(k: org.apache.spark.sql.Column) =
    concat(lit("t"), ((k * 7919) % 1000).cast("string"))

  private def rootMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  private def props(iso: SparkSession, table: String): Map[String, String] =
    iso.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap - "generation"

  /** (rows, bloom columns) of every live segment, sorted. */
  private def segments(dir: String): Seq[(Int, Seq[String])] =
    SegSource.resolveSegments(dir).map { f =>
      val h = SegSource.headerOf(f)
      (h.nRows, h.cols.filter(_.bloom.isDefined).map(_.name).toSeq)
    }.sortBy(s => (s._1, s._2.mkString(",")))

  test("CTAS and CREATE + INSERT give the same table for every setting") {
    val cases = Seq(
      SegSettings.Cluster -> "PARTITIONED BY (g)",
      SegSettings.BloomColumns -> "OPTIONS ('bloom_columns' = 'tag')",
      SegSettings.MaxRows -> "OPTIONS ('max_rows_per_segment' = '25')",
      SegSettings.MaxBytes -> "OPTIONS ('max_bytes_per_segment' = '1024')",
      SegSettings.DeleteMode ->
        "TBLPROPERTIES ('gseg.delete.mode' = 'merge_on_read')",
      SegSettings.UpdateMode ->
        "TBLPROPERTIES ('gseg.update.mode' = 'merge_on_read')",
      SegSettings.MergeMode ->
        "TBLPROPERTIES ('gseg.merge.mode' = 'merge_on_read')",
      SegSettings.Index -> "TBLPROPERTIES ('gseg.index.tag' = 'ivf:4')")
    assert(cases.map(_._1).toSet == SegSettings.All.toSet,
      "every settings entry has a parity case")
    val (iso, wh) = session("parity")
    cases.zipWithIndex.foreach { case ((entry, clause), i) =>
      iso.sql(s"CREATE TABLE tc.ns.a$i (k BIGINT, g BIGINT, tag STRING, " +
        s"v BIGINT) USING gseg $clause")
      iso.sql(s"INSERT INTO tc.ns.a$i SELECT $Cols FROM graft_settings_src")
      iso.sql(s"CREATE TABLE tc.ns.b$i USING gseg $clause " +
        s"AS SELECT $Cols FROM graft_settings_src")
      val (pa, pb) = (props(iso, s"tc.ns.a$i"), props(iso, s"tc.ns.b$i"))
      assert(pa == pb, s"${entry.name}: SHOW TBLPROPERTIES differ")
      assert(pa.keySet.exists(k => k == entry.key ||
        entry.key.endsWith(".") && k.startsWith(entry.key) ||
        entry == SegSettings.Cluster && k == "clustering"),
        s"${entry.name} is not in $pa")
      val (sa, sb) = (segments(s"$wh/ns/a$i"), segments(s"$wh/ns/b$i"))
      assert(sa == sb, s"${entry.name}: segment headers differ")
      entry match {
        case SegSettings.BloomColumns =>
          assert(sa.forall(_._2 == Seq("tag")))
        case SegSettings.MaxRows =>
          assert(sa.size > 4 && sa.forall(_._1 <= 25))
        case SegSettings.MaxBytes => assert(sa.size > 4)
        case _ => assert(sa.forall(_._2.isEmpty))
      }
      assert(iso.table(s"tc.ns.b$i").count() == 240)
    }
  }

  test("a bad setting fails a CTAS just as it fails a CREATE, leaving nothing") {
    val (iso, wh) = session("bad")
    Seq("TBLPROPERTIES ('gseg.delete.mode' = 'sideways')",
      "TBLPROPERTIES ('gseg.nope' = 'x')",
      "OPTIONS ('bloom_columns' = 'nope')",
      "OPTIONS ('bloom_columns' = 'v, missing')",
      "OPTIONS ('max_rows_per_segment' = '0')",
      "OPTIONS ('max_bytes_per_segment' = 'lots')",
      "OPTIONS ('partition_col' = 'missing')",
      "TBLPROPERTIES ('gseg.index.tag' = 'ivf')").foreach { clause =>
      val create = rootMessage(intercept[Exception](iso.sql(
        "CREATE TABLE tc.ns.t (k BIGINT, g BIGINT, tag STRING, v BIGINT) " +
          s"USING gseg $clause")))
      val ctas = rootMessage(intercept[Exception](iso.sql(
        s"CREATE TABLE tc.ns.t USING gseg $clause " +
          s"AS SELECT $Cols FROM graft_settings_src")))
      assert(create.startsWith("requirement failed: gseg: ") ||
        create.startsWith("gseg: "), create)
      assert(ctas == create, clause)
      assert(!Files.exists(Paths.get(wh, "ns", "t")), clause)
    }
  }

  test("CTAS, RTAS and CREATE OR REPLACE honour TBLPROPERTIES and OPTIONS") {
    val (iso, wh) = session("ctas_mode")
    iso.sql("CREATE TABLE tc.ns.t USING gseg " +
      "TBLPROPERTIES ('gseg.delete.mode' = 'merge_on_read') " +
      s"AS SELECT $Cols FROM graft_settings_src")
    graft.Counters.drain()
    iso.sql("DELETE FROM tc.ns.t WHERE k = 5")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_dv_vectors_written", 0L) == 1L)
    assert(c.getOrElse("gseg_rlo_replaced_files", 0L) == 0L)
    assert(iso.table("tc.ns.t").count() == 239)

    iso.sql("REPLACE TABLE tc.ns.t USING gseg " +
      "TBLPROPERTIES ('gseg.update.mode' = 'merge_on_read') " +
      s"AS SELECT $Cols FROM graft_settings_src")
    assert(props(iso, "tc.ns.t").get("gseg.update.mode")
      .contains("merge_on_read"))
    // a replaced table is a new table: the old settings do not carry
    assert(!props(iso, "tc.ns.t").contains("gseg.delete.mode"))

    iso.sql("CREATE OR REPLACE TABLE tc.ns.t USING gseg " +
      "OPTIONS ('bloom_columns' = 'tag', 'max_rows_per_segment' = '50') " +
      s"AS SELECT $Cols FROM graft_settings_src")
    val p = props(iso, "tc.ns.t")
    assert(p.get("bloom_columns").contains("tag") &&
      p.get("max_rows_per_segment").contains("50"))
    assert(segments(s"$wh/ns/t").forall { case (n, blooms) =>
      n <= 50 && blooms == Seq("tag") })
  }

  test("a tag equality skips files after CTAS, INSERT, copy-on-write " +
      "UPDATE, merge-on-read UPDATE, compact, clone and a stream epoch") {
    val (iso, wh) = session("bloom_paths")
    /** Every live segment of `table` carries the `tag` bloom, and a
      * point lookup of row `k`'s tag (with `prefix`) finds the row and
      * skips files. */
    def bloomed(table: String, k: Long, step: String,
        prefix: String = ""): Unit = {
      val dir = s"$wh/ns/${table.split('.').last}"
      val segs = SegSource.resolveSegments(dir)
      segs.foreach(f => assert(SegSource.headerOf(f).cols
        .exists(c => c.name == "tag" && c.bloom.isDefined),
        s"after $step, $f has no tag bloom"))
      val probe = prefix +
        iso.range(k, k + 1).select(tagOf(col("id"))).head().getString(0)
      graft.Counters.drain()
      assert(iso.table(table).filter(col("tag") === probe).count() == 1L, step)
      val skipped = graft.Counters.drain().getOrElse("gseg_bloom_files_skipped", 0L)
      assert(skipped > 0L, s"after $step, no file was bloom-skipped " +
        s"(${segs.size} live)")
    }
    iso.sql("CREATE TABLE tc.ns.t USING gseg OPTIONS ('bloom_columns' = 'tag') " +
      s"AS SELECT $Cols FROM graft_settings_src")
    bloomed("tc.ns.t", 17, "CTAS")
    iso.sql(s"INSERT INTO tc.ns.t SELECT k + 1000, g, concat('n', tag), v " +
      "FROM graft_settings_src")
    bloomed("tc.ns.t", 18, "INSERT")
    graft.Counters.drain()
    iso.sql("UPDATE tc.ns.t SET v = -1 WHERE k = 3")
    assert(graft.Counters.drain().getOrElse("gseg_rlo_new_files", 0L) > 0L)
    bloomed("tc.ns.t", 3, "copy-on-write UPDATE")
    iso.sql("ALTER TABLE tc.ns.t SET TBLPROPERTIES " +
      "('gseg.update.mode' = 'merge_on_read')")
    graft.Counters.drain()
    iso.sql("UPDATE tc.ns.t SET v = -2 WHERE k = 7")
    assert(graft.Counters.drain().getOrElse("gseg_dv_appended_files", 0L) == 1L)
    bloomed("tc.ns.t", 7, "merge-on-read UPDATE")
    iso.sql("CALL tc.compact('ns.t', 2)")
    assert(SegSource.resolveSegments(s"$wh/ns/t").size == 2)
    bloomed("tc.ns.t", 9, "compact")
    iso.sql("CALL tc.clone('ns.t', 'ns.c')")
    assert(props(iso, "tc.ns.c").get("bloom_columns").contains("tag"))
    bloomed("tc.ns.c", 9, "clone")
    iso.sql(s"INSERT INTO tc.ns.c SELECT k + 5000, g, concat('c', tag), v " +
      "FROM graft_settings_src")
    bloomed("tc.ns.c", 9, "INSERT into the clone", prefix = "c")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    val mem = MemoryStream[(Long, Long, String, Long)]
    val ckpt = graft.Fs.fastTempDir("graft_settings_ckpt").toString
    val q = mem.toDF().toDF("k", "g", "tag", "v").writeStream
      .option("checkpointLocation", ckpt).toTable("tc.ns.t")
    try {
      mem.addData((9000L, 0L, "s9000", 0L), (9001L, 1L, "s9001", 1L))
      q.processAllAvailable()
    } finally q.stop()
    assert(SegSource.resolveSegments(s"$wh/ns/t")
      .exists(_.contains("/str-")), "the stream epoch committed no segment")
    bloomed("tc.ns.t", 13, "a stream-sink epoch")
  }

  test("a sidecar in the pre-settings shape loads with the same settings") {
    val (iso, wh) = session("legacy")
    val dir = s"$wh/ns/old"
    SegSource.write(iso.table("graft_settings_src"), dir)
    val schema = SegSource.headerOf(SegSource.listSegments(dir).head).schema
    def sidecar(cluster: String): Unit = Files.write(Paths.get(dir, SegMeta.FileName),
      ("{\"gseg_meta\":2,\"schema\":" + schema.json + ",\"dropped\":[]," +
        "\"aliases\":{},\"cluster\":" + cluster + ",\"props\":" +
        "{\"gseg.delete.mode\":\"merge_on_read\"}}").getBytes(UTF_8))
    val want = SegSettings(Seq("g"), Map("gseg.delete.mode" -> "merge_on_read"))
    // a one-column cluster was a bare string before multi-column
    // clustering, an array since
    Seq("\"g\"", "[\"g\"]").foreach { cluster =>
      sidecar(cluster)
      assert(SegMeta.read(Paths.get(dir)).get.settings == want, cluster)
    }
    val p = props(iso, "tc.ns.old")
    assert(p.get("gseg.delete.mode").contains("merge_on_read") &&
      p.get("clustering").contains("g"))
    graft.Counters.drain()
    iso.sql("DELETE FROM tc.ns.old WHERE k = 5")
    assert(graft.Counters.drain().getOrElse("gseg_dv_vectors_written", 0L) == 1L)
    // the next metadata write renders the same two fields
    iso.sql("ALTER TABLE tc.ns.old SET TBLPROPERTIES ('bloom_columns' = 'tag')")
    assert(SegMeta.read(Paths.get(dir)).get.settings ==
      want.copy(props = want.props + ("bloom_columns" -> "tag")))
    // a renamed bloom column stays the bloom column
    iso.sql("ALTER TABLE tc.ns.old RENAME COLUMN tag TO label")
    assert(SegMeta.read(Paths.get(dir)).get.settings.bloomCols == Set("label"))
  }

  test("_pos is reserved in CTAS, ADD COLUMN, RENAME COLUMN and writes, " +
      "as in CREATE") {
    val (iso, wh) = session("reserved")
    val want = rootMessage(intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.r (k BIGINT, _pos BIGINT) USING gseg")))
    assert(want.endsWith("gseg: '_pos' is a reserved column name"), want)
    assert(rootMessage(intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.r USING gseg AS SELECT 1L AS k, 2L AS _pos"))) == want)
    assert(!Files.exists(Paths.get(wh, "ns", "r")))
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg")
    iso.sql("INSERT INTO tc.ns.t VALUES (1, 2)")
    val sidecar = Paths.get(wh, "ns", "t", SegMeta.FileName)
    val before = Files.readAllBytes(sidecar).toSeq
    assert(rootMessage(intercept[Exception](iso.sql(
      "ALTER TABLE tc.ns.t ADD COLUMN _pos BIGINT"))) == want)
    assert(rootMessage(intercept[Exception](iso.sql(
      "ALTER TABLE tc.ns.t RENAME COLUMN v TO _pos"))) == want)
    assert(Files.readAllBytes(sidecar).toSeq == before)
    assert(iso.table("tc.ns.t").columns.toSeq == Seq("k", "v"))
    val path = s"$wh/plain"
    assert(rootMessage(intercept[Exception](iso.range(3).select(
      col("id").as("_pos")).write.format("gseg").mode("append")
      .save(path))) == want)
    assert(!Files.exists(Paths.get(path)))
  }

  test("src/main reads the blooms, budgets and DML modes only through " +
      "SegSettings, and names reserved columns in one place") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val banned = Seq("BloomColumnsOption", "MaxRowsPerSegmentOption",
      "MaxBytesPerSegmentOption", "DeleteMode", "UpdateMode", "MergeMode",
      "\"gseg.delete.mode\"", "\"gseg.update.mode\"", "\"gseg.merge.mode\"")
    val walk = Files.walk(root)
    val lines =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex
            .map { case (line, i) => (p, i + 1, line) }
        }.toList
      finally walk.close()
    val offenders = lines.collect {
      case (p, i, line) if p.getFileName.toString != "SegSettings.scala" &&
          banned.exists(line.contains) => s"$p:$i"
    }
    assert(offenders.isEmpty,
      s"settings are read through SegSettings: ${offenders.mkString(", ")}")
    val reserved = lines.collect {
      case (p, i, line) if line.contains("is a reserved column name") => s"$p:$i"
    }
    assert(reserved.size == 1, s"reserved-name checks: ${reserved.mkString(", ")}")
  }
}
