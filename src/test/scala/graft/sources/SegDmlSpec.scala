package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SQL DML on gseg (SegCatalog + group-based row-level operations):
  * the adversarial cases the driver gates don't exercise —
  * group-pruning evidence, the all-rows-in-a-file delete, the
  * everything-deleted table, catalog lifecycle, TRUNCATE. */
class SegDmlSpec extends SparkSpec {
  import org.apache.spark.sql.SparkSession

  private def dml(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_dmlspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    (iso, wh)
  }

  test("DELETE prunes non-matching groups and leaves their bytes alone") {
    val (iso, wh) = dml("prune")
    import iso.implicits._
    // 4 segments with disjoint key ranges (range layout on k)
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    val before = SegSource.listSegments(s"$wh/ns/t")
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f))).toMap
    assert(before.size == 4)
    graft.Counters.drain()
    // k >= 390 lives in the top range file only (range boundaries are
    // sample-derived, but no boundary lands that high on 400 uniform
    // keys) — zone maps must prune the other three
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 390")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_files_total", -1L) == 4L)
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 1L)
    assert(c.getOrElse("gseg_rlo_replaced_files", -1L) == 1L)
    // the three pruned segments stay LIVE as the same untouched files;
    // the replaced one leaves the live set (retained on disk as
    // time-travel history until vacuum)
    val live = SegSource.resolveSegments(s"$wh/ns/t")
    val survivors = live.filter(before.contains)
    assert(survivors.size == 3)
    survivors.foreach(f => assert(
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)) == before(f)))
    assert(iso.table("tc.ns.t").count() == 390)
    assert(iso.table("tc.ns.t").agg(max($"k")).head().getLong(0) == 389)
    // vacuum reclaims exactly the superseded candidate
    assert(SegManifest.vacuum(s"$wh/ns/t").size == 1)
  }

  test("DELETE with an unpushable predicate stays correct (all groups rewritten)") {
    val (iso, wh) = dml("residual")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    graft.Counters.drain()
    // modulo is not a supported pushdown shape: candidates = all 4,
    // correctness comes from the rewrite plan's own row filter
    iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 0")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 4L)
    assert(iso.table("tc.ns.t").count() == 90)
    assert(iso.table("tc.ns.t").filter($"k" % 10 === 0).count() == 0)
  }

  test("deleting every row leaves a loadable empty table") {
    val (iso, wh) = dml("empty")
    import iso.implicits._
    SegSource.write(iso.range(0, 50).select($"id".as("k")), s"$wh/ns/t")
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 0")
    assert(iso.table("tc.ns.t").count() == 0)
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq == Seq("k"))
  }

  test("UPDATE rewrites only candidate groups, carries unmatched rows") {
    val (iso, wh) = dml("upd")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 200).select($"id".as("k"), lit(1L).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    graft.Counters.drain()
    iso.sql("UPDATE tc.ns.t SET v = 99 WHERE k < 10")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 1L)
    val agg = iso.table("tc.ns.t")
      .agg(sum($"v"), count(lit(1))).head()
    assert(agg.getLong(1) == 200)
    assert(agg.getLong(0) == 10L * 99 + 190L)
  }

  test("MERGE handles matched-only, insert-only, and mixed keys atomically") {
    val (iso, wh) = dml("merge")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 10).select($"id".as("k"), lit(1L).as("v")),
      s"$wh/ns/t")
    iso.range(5, 15).select($"id".as("k"), lit(10L).as("v"))
      .createOrReplaceTempView("mspec_src")
    iso.sql(
      """MERGE INTO tc.ns.t t USING mspec_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
        .stripMargin)
    val rows = iso.table("tc.ns.t").orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0L to 4L).map(k => (k, 1L)) ++
      (5L to 9L).map(k => (k, 11L)) ++ (10L to 14L).map(k => (k, 10L))
    assert(rows == want)
  }

  test("MERGE runtime-prunes to the groups the source actually touches") {
    val (iso, wh) = dml("mprune")
    import iso.implicits._
    // 4 range files on k; the corrections feed touches [10,20) only —
    // plan-time zone maps CANNOT prune (the ON condition references
    // the source), so build-time candidates = 4; the runtime group
    // filter must narrow the rewrite to the single file holding the
    // touched range, leaving the other three as untouched bytes
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), lit(1L).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    val before = SegSource.listSegments(s"$wh/ns/t")
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f))).toMap
    assert(before.size == 4)
    iso.range(10, 20).select($"id".as("k"), lit(100L).as("v"))
      .createOrReplaceTempView("mprune_src")
    graft.Counters.drain()
    iso.sql(
      """MERGE INTO tc.ns.t t USING mprune_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"""
        .stripMargin)
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 4L)
    assert(c.getOrElse("gseg_rlo_runtime_candidates", -1L) == 1L)
    assert(c.getOrElse("gseg_rlo_replaced_files", -1L) == 1L)
    val live = SegSource.resolveSegments(s"$wh/ns/t")
    val survivors = live.filter(before.contains)
    assert(survivors.size == 3)
    survivors.foreach(f => assert(
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)) == before(f)))
    val agg = iso.table("tc.ns.t").agg(sum($"v"), count(lit(1))).head()
    assert(agg.getLong(1) == 400)
    assert(agg.getLong(0) == 400L + 10 * 100)
  }

  test("runtime group filter narrows where zone maps cannot (unpushable one-group DELETE)") {
    val (iso, wh) = dml("rtone")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    graft.Counters.drain()
    // k % 400 = 395 holds for k=395 only — top file; modulo is not a
    // pushdown shape, so build-time candidates stay 4 and the exact
    // one-file narrowing is the runtime filter's work alone
    iso.sql("DELETE FROM tc.ns.t WHERE k % 400 = 395")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 4L)
    assert(c.getOrElse("gseg_rlo_runtime_candidates", -1L) == 1L)
    assert(c.getOrElse("gseg_rlo_replaced_files", -1L) == 1L)
    assert(iso.table("tc.ns.t").count() == 399)
    assert(iso.table("tc.ns.t").filter($"k" === 395).count() == 0)
  }

  test("a DML matching nothing rewrites nothing") {
    val (iso, wh) = dml("nomatch")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    val before = SegSource.listSegments(s"$wh/ns/t")
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f))).toMap
    graft.Counters.drain()
    // unpushable and never true: the runtime In-set is EMPTY, the
    // effective group set empties, and the commit replaces zero files
    iso.sql("DELETE FROM tc.ns.t WHERE k % 1000 = 777")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 4L)
    assert(c.getOrElse("gseg_rlo_runtime_candidates", -1L) == 0L)
    assert(c.getOrElse("gseg_rlo_replaced_files", -1L) == 0L)
    assert(c.getOrElse("gseg_rlo_new_files", -1L) == 0L)
    val after = SegSource.listSegments(s"$wh/ns/t")
    assert(after.toSet == before.keySet)
    after.foreach(f => assert(
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)) == before(f)))
    assert(iso.table("tc.ns.t").count() == 400)
  }

  test("_file metadata column is selectable and group-complete") {
    val (iso, wh) = dml("filecol")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    val rows = iso.sql(
      "SELECT _file, count(*) AS n FROM tc.ns.t GROUP BY _file")
      .collect()
    assert(rows.length == 4)
    assert(rows.map(_.getLong(1)).sum == 400L)
    val names = SegSource.listSegments(s"$wh/ns/t").toSet
    rows.foreach(r => assert(names.contains(r.getString(0))))
  }

  test("a commit killed between staging and the manifest swap loses nothing") {
    val (iso, wh) = dml("crash")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    // resolve once so loadTable synthesizes sidecar + manifest
    assert(iso.table("tc.ns.t").count() == 400)
    val dir = s"$wh/ns/t"
    val genBefore = SegManifest.read(dir).get._1
    // kill the driver "between the deletes and the moves" of the old
    // protocol — here: after the new generation is fully staged under
    // final names, strictly before the manifest swap
    SegDml.commitHook = p =>
      if (p == "staged") throw new RuntimeException("injected crash")
    try {
      // the cut splits a file, so the rewrite STAGES a non-empty new
      // generation (kept rows) before the injected crash
      val e = intercept[Exception](iso.sql("DELETE FROM tc.ns.t WHERE k >= 250"))
      assert(Option(e.getMessage).exists(_.contains("injected crash")) ||
        Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains("injected crash"))))
    } finally SegDml.commitHook = _ => ()
    // the manifest never moved: the table serves the OLD generation
    // completely — same generation counter, same 400 rows
    assert(SegManifest.read(dir).get._1 == genBefore)
    assert(iso.table("tc.ns.t").count() == 400)
    assert(iso.table("tc.ns.t").agg(max($"k")).head().getLong(0) == 399)
    // the staged new generation is on disk but unreferenced; vacuum
    // reclaims it and only it
    val orphans = SegManifest.vacuum(dir)
    assert(orphans.nonEmpty && orphans.forall(_.startsWith("rlo-")))
    assert(iso.table("tc.ns.t").count() == 400)
    // with the hook cleared the same DML commits atomically; the
    // superseded generation is retained as history until vacuum
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 250")
    assert(iso.table("tc.ns.t").count() == 250)
    assert(SegManifest.vacuum(dir).nonEmpty)
    assert(SegManifest.vacuum(dir).isEmpty) // idempotent
  }

  test("a crash after the swap serves the new generation; vacuum reclaims the old") {
    val (iso, wh) = dml("crash2")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), lit(1L).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 100)
    val dir = s"$wh/ns/t"
    SegDml.commitHook = p =>
      if (p == "swapped") throw new RuntimeException("injected crash")
    try intercept[Exception](iso.sql("UPDATE tc.ns.t SET v = 2 WHERE k < 25"))
    finally SegDml.commitHook = _ => ()
    // commit point passed: the UPDATE is durable even though GC died
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) == 125)
    // the superseded candidate file is an orphan; vacuum reclaims it
    // without changing what readers see
    assert(SegManifest.vacuum(dir).nonEmpty)
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) == 125)
  }

  test("INSERT INTO a manifest table commits via the manifest (append survives a stale listing)") {
    val (iso, wh) = dml("append")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.a (k BIGINT, v BIGINT) USING gseg")
    iso.sql("INSERT INTO tc.ns.a VALUES (1, 10), (2, 20)")
    iso.sql("INSERT INTO tc.ns.a VALUES (3, 30)")
    assert(iso.table("tc.ns.a").count() == 3)
    val dir = s"$wh/ns/a"
    val (gen, names) = SegManifest.read(dir).get
    assert(gen >= 2) // create + two appends
    assert(names.toSet ==
      SegSource.listSegments(dir).map(f =>
        java.nio.file.Paths.get(f).getFileName.toString).toSet)
    // INSERT OVERWRITE replaces the generation atomically; the old
    // generation is retained as time-travel history until vacuum
    iso.sql("INSERT OVERWRITE tc.ns.a VALUES (9, 90)")
    assert(iso.table("tc.ns.a").count() == 1)
    assert(SegManifest.vacuum(dir).size == names.size)
    assert(iso.table("tc.ns.a").count() == 1)
  }

  test("ALTER TABLE ADD COLUMN null-fills old segments without touching their bytes") {
    val (iso, wh) = dml("alter")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), lit(1.5).as("p"))
        .repartitionByRange(2, $"k"),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 100) // materialize manifest
    val dir = s"$wh/ns/t"
    val before = SegSource.resolveSegments(dir)
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f))).toMap
    iso.sql("ALTER TABLE tc.ns.t ADD COLUMN tag STRING")
    // old segments: bytes untouched, column reads as null
    SegSource.resolveSegments(dir).filter(before.contains).foreach(f =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)) == before(f)))
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq ==
      Seq("k", "p", "tag"))
    assert(iso.table("tc.ns.t").filter($"tag".isNull).count() == 100)
    // second generation carries values; both generations aggregate
    iso.sql("INSERT INTO tc.ns.t VALUES (1000, 9.5, 'new')")
    val agg = iso.table("tc.ns.t")
      .agg(count(lit(1)), count($"tag"), min($"tag")).head()
    assert(agg.getLong(0) == 101 && agg.getLong(1) == 1)
    assert(agg.getString(2) == "new")
    // filters and DML over the evolved column stay correct
    assert(iso.table("tc.ns.t").filter($"tag" === "new").count() == 1)
    iso.sql("DELETE FROM tc.ns.t WHERE tag = 'new'")
    assert(iso.table("tc.ns.t").count() == 100)
    // rejected shapes fail loudly (type changes would need a rewrite)
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN _file STRING"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN k BIGINT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN p TYPE STRING"))
  }

  test("DROP COLUMN is metadata-only and tombstones the name against resurrection") {
    val (iso, wh) = dml("drop")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 60).select($"id".as("k"), lit(2L).as("v"),
        ($"id" % 5).as("junk")),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 60) // materialize manifest
    val dir = s"$wh/ns/t"
    val before = SegSource.resolveSegments(dir)
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f))).toMap
    iso.sql("ALTER TABLE tc.ns.t DROP COLUMN junk")
    // metadata-only: same files, same bytes
    SegSource.resolveSegments(dir).foreach(f => assert(
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)) == before(f)))
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq == Seq("k", "v"))
    // the old segments' surviving columns read back exactly despite
    // the orphaned junk blocks between them
    val agg = iso.table("tc.ns.t").agg(sum($"v"), max($"k")).head()
    assert(agg.getLong(0) == 120 && agg.getLong(1) == 59)
    // narrowed-schema writes and DML keep working
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 9)")
    iso.sql("DELETE FROM tc.ns.t WHERE k = 0")
    assert(iso.table("tc.ns.t").count() == 60)
    // resurrection guard: the dropped name is tombstoned forever; a
    // fresh name under the same type is fine
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN junk BIGINT"))
    iso.sql("ALTER TABLE tc.ns.t ADD COLUMN junk2 BIGINT")
    assert(iso.table("tc.ns.t").filter($"junk2".isNull).count() == 60)
    // guarded shapes: last column, missing column without IF EXISTS
    intercept[Exception](iso.sql("ALTER TABLE tc.ns.t DROP COLUMN nope"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes absent keys (snapshot sync)") {
    val (iso, wh) = dml("msync")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 20).select($"id".as("k"), lit(1L).as("v")),
      s"$wh/ns/t")
    // source snapshot: [10, 30) — target keys < 10 must vanish
    iso.range(10, 30).select($"id".as("k"), lit(7L).as("v"))
      .createOrReplaceTempView("msync_src")
    iso.sql(
      """MERGE INTO tc.ns.t t USING msync_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = iso.table("tc.ns.t").orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == (10L until 30L).map(k => (k, 7L)))
  }

  test("VERSION AS OF / TIMESTAMP AS OF read retained generations; vacuum retires exactly the affected ones") {
    val (iso, wh) = dml("travel")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg") // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (1, 10), (2, 20)")          // gen 1
    Thread.sleep(30)
    val t1 = System.currentTimeMillis() // strictly after gen 1's commit
    Thread.sleep(30)
    iso.sql("UPDATE tc.ns.t SET v = v + 1 WHERE k = 1")             // gen 2
    iso.sql("INSERT INTO tc.ns.t VALUES (3, 30)")                   // gen 3
    assert(iso.table("tc.ns.t").count() == 3)
    val v1 = iso.sql(
      "SELECT k, v FROM tc.ns.t VERSION AS OF 1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v1 == Seq((1L, 10L), (2L, 20L)), s"gen-1 read wrong: $v1")
    assert(iso.sql("SELECT sum(v) AS s FROM tc.ns.t VERSION AS OF 2")
      .head().getLong(0) == 31) // the update, before the last insert
    assert(iso.sql("SELECT count(*) AS n FROM tc.ns.t VERSION AS OF 0")
      .head().getLong(0) == 0) // the created-empty generation
    // TIMESTAMP AS OF: latest snapshot committed at or before t1 = gen 1
    val cat = new SegCatalog
    cat.initialize("tc",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    assert(cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "t"), t1 * 1000L)
      .name().endsWith("@v1"))
    // TIMESTAMP AS OF through SQL (UTC session in specs): same gen-1
    val iso8601 = java.time.Instant.ofEpochMilli(t1).toString
      .replace("T", " ").stripSuffix("Z")
    assert(iso.sql(
      s"SELECT sum(v) AS s FROM tc.ns.t TIMESTAMP AS OF '$iso8601'")
      .head().getLong(0) == 30)
    // history: all four generations retained, ascending, current last
    val hist = iso.sql("CALL tc.history('ns.t')").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(hist.map(_._1) == Seq(0L, 1L, 2L, 3L), s"history: $hist")
    assert(hist.count(_._3) == 1 && hist.last._3, s"history: $hist")
    assert(hist.head._2 == 0L) // the created-empty generation
    // vacuum retires ONLY generations whose files it reclaims: the
    // UPDATE superseded gen-1's file, so v1 dies, v2/v3 survive
    assert(iso.sql("CALL tc.vacuum('ns.t')").head().getLong(1) >= 1L)
    assert(iso.sql("CALL tc.history('ns.t')").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 2L, 3L))
    intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1").collect())
    assert(iso.sql("SELECT sum(v) AS s FROM tc.ns.t VERSION AS OF 2")
      .head().getLong(0) == 31)
    assert(iso.table("tc.ns.t").count() == 3)
    // a never-committed generation fails loudly
    intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 99").collect())
    // time-travel relations are read-only
    intercept[Exception](
      iso.sql("INSERT INTO tc.ns.t VERSION AS OF 2 VALUES (9, 9)"))
  }

  test("streaming-sink epoch commits are idempotent under replay") {
    val (iso, wh) = dml("sink")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")
    val dir = s"$wh/ns/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val sw = SegStreamingWrite(dir, schema, truncateEachEpoch = false)
    def staged(tag: String, vals: Seq[Long]): SegCommitMessage = {
      val tmp = s"$dir/.tmp-$tag.gseg"
      SegSource.writeSegment(
        vals.map(v => Array[AnyRef](java.lang.Long.valueOf(v))).toIndexedSeq,
        schema, tmp)
      SegCommitMessage(0, Seq(tmp))
    }
    sw.commit(7L, Array(staged("a", Seq(1L, 2L, 3L))))
    assert(iso.table("tc.ns.t").count() == 3)
    val (genAfterFirst, _) = SegManifest.read(dir).get
    // Spark replays an epoch whose commit it couldn't prove durable:
    // the second commit of epoch 7 must discard its temps, add
    // nothing, and leave the manifest untouched
    sw.commit(7L, Array(staged("b", Seq(9L, 9L))))
    assert(iso.table("tc.ns.t").count() == 3)
    assert(SegManifest.read(dir).get._1 == genAfterFirst)
    assert(SegManifest.vacuum(dir).isEmpty) // replay temps were discarded
    // a NEW epoch appends normally
    sw.commit(8L, Array(staged("c", Seq(4L))))
    assert(iso.table("tc.ns.t").count() == 4)
  }

  test("Complete-mode streaming onto a gseg table replaces the generation per epoch") {
    val (iso, wh) = dml("sinkc")
    import iso.implicits._
    val base = graft.Fs.fastTempDir("graft_sinkc").toString
    try {
      val inDir = s"$base/in"
      iso.sql("CREATE TABLE tc.ns.agg (k BIGINT, n BIGINT) USING gseg")
      Seq(1L, 1L, 2L).toDF("k")
        .coalesce(1).write.mode("append").parquet(inDir)
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        q = iso.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
          .parquet(inDir)
          .groupBy($"k").agg(count(lit(1)).as("n"))
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
          .option("checkpointLocation", s"$base/ckpt")
          .toTable("tc.ns.agg")
        q.processAllAvailable()
        assert(iso.table("tc.ns.agg").orderBy($"k").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
          Seq((1L, 2L), (2L, 1L)))
        Seq(2L, 3L).toDF("k")
          .coalesce(1).write.mode("append").parquet(inDir)
        q.processAllAvailable()
      } finally if (q != null) q.stop()
      // Complete mode REPLACES: counts are totals, never accumulated
      // epoch layers — epoch 1's generation superseded epoch 0's
      assert(iso.table("tc.ns.agg").orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 2L), (2L, 2L), (3L, 1L)))
      // the superseded epoch-0 generation awaits vacuum
      assert(SegManifest.vacuum(s"$wh/ns/agg").nonEmpty)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("CALL rollback re-commits a retained generation as new history") {
    val (iso, wh) = dml("rollback")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), lit(1L).as("v")),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 100) // manifest gen 0
    iso.sql("DELETE FROM tc.ns.t WHERE k < 40")             // gen 1
    iso.sql("UPDATE tc.ns.t SET v = 9 WHERE k >= 90")       // gen 2
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) ==
      50 + 10 * 9)
    // roll forward to the pre-DML state: a NEW generation (3) with
    // gen 0's exact file set — history is never mutated
    val r = iso.sql("CALL tc.rollback('ns.t', 0)").head()
    assert(r.getLong(1) == 0L && r.getLong(2) == 3L, s"rollback: $r")
    assert(iso.table("tc.ns.t").count() == 100)
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) == 100)
    val gens = iso.sql("CALL tc.history('ns.t')").collect()
      .map(r2 => (r2.getLong(0), r2.getBoolean(3))).toSeq
    assert(gens.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(gens.filter(_._2).map(_._1) == Seq(3L))
    // the undone generations stay time-travelable until vacuum...
    assert(iso.sql("SELECT count(*) AS n FROM tc.ns.t VERSION AS OF 2")
      .head().getLong(0) == 60)
    // ...and vacuum reclaims their files + snapshots, keeping both
    // generations that share the live file set (0 and 3)
    assert(iso.sql("CALL tc.vacuum('ns.t')").head().getLong(1) >= 1L)
    assert(iso.sql("CALL tc.history('ns.t')").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 3L))
    assert(iso.table("tc.ns.t").count() == 100)
    // rolling back to a vacuumed generation fails loudly
    intercept[Exception](iso.sql("CALL tc.rollback('ns.t', 2)").collect())
  }

  test("CALL compact merges segments atomically, preserving content and history") {
    val (iso, wh) = dml("compact")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 320).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartition(16),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 320) // manifest gen 0
    val row = iso.sql("CALL tc.compact('ns.t', 2)").head()
    assert(row.getLong(1) == 16 && row.getLong(2) == 2, s"layout: $row")
    assert(SegSource.resolveSegments(s"$wh/ns/t").size == 2)
    val agg = iso.table("tc.ns.t").agg(count(lit(1)), sum($"v")).head()
    assert(agg.getLong(0) == 320)
    assert(agg.getLong(1) == (0 until 320).map(_ * 3L).sum)
    // the fragmented generation stays time-travelable until vacuum
    assert(iso.sql("SELECT count(*) AS n FROM tc.ns.t VERSION AS OF 0")
      .head().getLong(0) == 320)
    assert(iso.sql("CALL tc.vacuum('ns.t')").head().getLong(1) == 16)
    // already-compact tables are a no-op
    val again = iso.sql("CALL tc.compact('ns.t', 2)").head()
    assert(again.getLong(1) == 2 && again.getLong(2) == 2)
  }

  test("CALL vacuum reclaims a crashed commit's orphans through SQL") {
    val (iso, wh) = dml("callvac")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 400).select($"id".as("k"), lit(1L).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    assert(iso.table("tc.ns.t").count() == 400)
    // a clean table has nothing to reclaim
    val clean = iso.sql("CALL tc.vacuum('ns.t')").head()
    assert(clean.getString(0) == "ns.t" && clean.getLong(1) == 0L)
    // strand orphans: kill an UPDATE between staging and swap
    SegDml.commitHook = p =>
      if (p == "staged") throw new RuntimeException("injected crash")
    try intercept[Exception](
      iso.sql("UPDATE tc.ns.t SET v = 2 WHERE k >= 350"))
    finally SegDml.commitHook = _ => ()
    val row = iso.sql("CALL tc.vacuum('ns.t')").head()
    assert(row.getLong(1) >= 1L, s"expected orphans reclaimed, got $row")
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) == 400)
    // unknown procedure / missing table fail loudly
    intercept[Exception](iso.sql("CALL tc.optimize('ns.t')"))
    intercept[Exception](iso.sql("CALL tc.vacuum('ns.missing')"))
    // the catalog advertises its procedures through the listing SPI
    val shown = iso.sql("SHOW PROCEDURES IN tc")
    val procs = shown.select(col("procedure_name")).collect()
      .map(_.getString(0)).toSet
    assert(procs ==
      Set("vacuum", "compact", "history", "rollback", "changes", "clone",
        "tag", "untag", "branch", "drop_branch", "fast_forward", "rebase",
        "set_clustering", "create_index", "drop_index"),
      s"procedures: $procs")
  }

  test("reserved and traversal-unsafe identifiers are rejected") {
    val (iso, wh) = dml("guard")
    import iso.implicits._
    // `_file` as a stored column: rejected at CREATE and at write
    intercept[Exception](
      iso.sql("CREATE TABLE tc.ns.bad (`_file` STRING, k BIGINT) USING gseg"))
    intercept[Exception](
      iso.range(0, 3).select($"id".as("_file"))
        .write.format("gseg").mode("overwrite").save(s"$wh/plainbad"))
    // identifier segments may not traverse out of the warehouse
    intercept[Exception](
      iso.sql(s"CREATE TABLE tc.`..`.esc (k BIGINT) USING gseg"))
    assert(!new java.io.File(s"$wh/../esc").exists())
  }

  test("TRUNCATE TABLE empties but keeps the table loadable; catalog lifecycle works") {
    val (iso, wh) = dml("cat")
    import iso.implicits._
    SegSource.write(iso.range(0, 30).select($"id".as("k")), s"$wh/ns/t")
    iso.sql("TRUNCATE TABLE tc.ns.t")
    assert(iso.table("tc.ns.t").count() == 0)
    // CREATE TABLE persists schema via sidecar; INSERT INTO appends
    iso.sql("CREATE TABLE tc.ns.fresh (a BIGINT, b DOUBLE) USING gseg")
    iso.sql("INSERT INTO tc.ns.fresh VALUES (1, 1.5), (2, 2.5)")
    assert(iso.table("tc.ns.fresh").count() == 2)
    assert(iso.sql("SHOW TABLES IN tc.ns").collect()
      .map(_.getString(1)).toSet.contains("fresh"))
    iso.sql("DROP TABLE tc.ns.fresh")
    assert(!iso.catalog.tableExists("tc.ns.fresh"))
  }

  // ------------------------------------------------ r13: protocol hardening

  test("a torn snapshot fails VERSION AS OF loudly, never a partial read") {
    val (iso, wh) = dml("torn")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")         // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (1), (2), (3)")           // gen 1
    iso.sql("INSERT INTO tc.ns.t VALUES (4)")                     // gen 2
    val dir = s"$wh/ns/t"
    // simulate the pre-r13 torn-write hazard: truncate gen 1's
    // snapshot mid-body (header intact, one name line lost)
    val snap = SegManifest.snapshotPath(dir, 1L)
    val lines = java.nio.file.Files.readAllLines(snap)
    assert(lines.get(0) == "gseg-manifest-v3")
    java.nio.file.Files.write(snap, String.join("\n",
      lines.subList(0, lines.size - 1)).getBytes("UTF-8"))
    // the v2 count check detects the tear: loud failure, not a read
    // of a partial generation
    val e = intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1").collect())
    assert(e.getMessage.contains("torn") ||
      Option(e.getCause).exists(_.getMessage.contains("torn")),
      s"wanted a torn-manifest error, got: ${e.getMessage}")
    // the live table and the intact snapshot still serve
    assert(iso.table("tc.ns.t").count() == 4)
    assert(iso.sql("SELECT count(*) AS n FROM tc.ns.t VERSION AS OF 2")
      .head().getLong(0) == 4)
    // vacuum DELETES the unreadable snapshot instead of throwing
    SegManifest.vacuum(dir)
    assert(!java.nio.file.Files.exists(snap))
    assert(iso.table("tc.ns.t").count() == 4)
  }

  test("a staged-but-never-swapped snapshot is invisible to history and time travel") {
    val (iso, wh) = dml("phantom")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")         // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (1), (2)")                // gen 1
    val dir = s"$wh/ns/t"
    // plant the artifact a crash between snapshot write and manifest
    // swap strands: a well-formed snapshot for gen = live+1 naming a
    // staged file that was never committed
    val phantom = ("gseg-manifest-v2" +: "2" +:
      System.currentTimeMillis.toString +: "1" +: Seq("ghost.gseg"))
      .mkString("\n")
    java.nio.file.Files.write(
      SegManifest.snapshotPath(dir, 2L), phantom.getBytes("UTF-8"))
    // never committed => rejected everywhere
    intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 2").collect())
    assert(iso.sql("CALL tc.history('ns.t')").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(SegManifest.readSnapshot(dir, 2L).isEmpty)
    // TIMESTAMP AS OF far in the future resolves to the LIVE gen,
    // not the phantom
    val cat = new SegCatalog
    cat.initialize("tc",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    assert(cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "t"), (System.currentTimeMillis + 60000) * 1000L)
      .name().endsWith("@v1"))
    // vacuum retires the phantom; the real generations survive
    SegManifest.vacuum(dir)
    assert(!java.nio.file.Files.exists(SegManifest.snapshotPath(dir, 2L)))
    assert(iso.table("tc.ns.t").count() == 2)
  }

  test("concurrent committers: the DML retries across a commuting append, no rows lost") {
    val (iso, wh) = dml("cas")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), ($"id" % 7).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count() // materialize the manifest
    val dir = s"$wh/ns/t"
    // interleave a second committer INSIDE the first one's commit
    // window (after it read the manifest, before its swap) through
    // the fault-injection seam
    @volatile var interleaved = false
    SegDml.commitHook = p =>
      if (p == "staged" && !interleaved) {
        interleaved = true
        // the rival commits first: appends one segment via the
        // manifest protocol (reads the live gen, swaps with CAS)
        iso.sql("INSERT INTO tc.ns.t VALUES (999, 999)")
      }
    // r15 contract: an APPEND landing mid-DML COMMUTES (its files are
    // not DML candidates), so the DML's commit retries the lost CAS
    // and BOTH commits land — no committer fails, no rows lost. The
    // non-commuting interleavings (candidate replaced / re-vectored)
    // are SegConcurrencySpec's loud-guard cases.
    graft.Counters.clear()
    try iso.sql("DELETE FROM tc.ns.t WHERE k >= 90")
    finally SegDml.commitHook = _ => ()
    assert(interleaved)
    assert(graft.Counters.peek("gseg_commit_retries") >= 1L,
      "the DML's commit must have retried the lost CAS")
    // both commits visible: rows 90..99 deleted, the rival's row 999
    // kept (it was never a candidate — the DML planned before it
    // landed; snapshot-isolation write-write without overlap)
    assert(iso.table("tc.ns.t").count() == 91)
    assert(iso.table("tc.ns.t").filter($"k" >= 90).count() == 1)
    SegManifest.vacuum(dir)
    assert(iso.table("tc.ns.t").count() == 91)
  }

  test("vacuum keep_last bounds the window without collapsing it") {
    val (iso, wh) = dml("keep")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")         // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (1)")                     // gen 1
    iso.sql("UPDATE tc.ns.t SET k = 10 WHERE k = 1")              // gen 2
    iso.sql("UPDATE tc.ns.t SET k = 20 WHERE k = 10")             // gen 3
    iso.sql("UPDATE tc.ns.t SET k = 30 WHERE k = 20")             // gen 4
    // keep_last=2: gen 3's file survives for time travel, gens 1-2 go
    assert(iso.sql("CALL tc.vacuum('ns.t', keep_last => 2)")
      .head().getLong(1) >= 1L)
    val hist = iso.sql("CALL tc.history('ns.t')").collect()
      .map(_.getLong(0)).toSeq
    assert(hist.contains(3L) && hist.contains(4L), s"history: $hist")
    assert(!hist.contains(1L) && !hist.contains(2L), s"history: $hist")
    // the kept generation still SERVES (its file was protected)
    assert(iso.sql("SELECT k FROM tc.ns.t VERSION AS OF 3")
      .head().getLong(0) == 20L)
    intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 2").collect())
    assert(iso.table("tc.ns.t").head().getLong(0) == 30L)
  }

  test("TIMESTAMP AS OF resolves by the embedded commit clock, not file mtime") {
    val (iso, wh) = dml("clock")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")         // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (1)")                     // gen 1
    Thread.sleep(30)
    val t1 = System.currentTimeMillis()
    Thread.sleep(30)
    iso.sql("INSERT INTO tc.ns.t VALUES (2)")                     // gen 2
    val dir = s"$wh/ns/t"
    // back-date every snapshot's mtime to the epoch: resolution must
    // not notice (mtime is only the v1-legacy fallback)
    SegManifest.listSnapshots(dir).foreach { case (g, _) =>
      java.nio.file.Files.setLastModifiedTime(
        SegManifest.snapshotPath(dir, g),
        java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    val cat = new SegCatalog
    cat.initialize("tc",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("warehouse", wh)))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("ns"), "t")
    assert(cat.loadTable(ident, t1 * 1000L).name().endsWith("@v1"))
    // and a cut before any commit fails loudly (nothing existed)
    intercept[Exception](cat.loadTable(ident, 500L * 1000L))
    // history reports the embedded clocks (all >> the faked mtimes)
    iso.sql("CALL tc.history('ns.t')").collect().foreach(r =>
      assert(r.getLong(1) > 1000000L, s"clock fell back to mtime: $r"))
  }

  test("CALL compact sort_by preserves the storage-partitioned join layout") {
    val (iso, wh) = dml("sortby")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val kCol = SegSource.PartitionColOption
    // table A: identity-clustered on k, then FRAGMENTED by appends
    // (the streaming-sink shape that motivates compaction)
    val dirA = s"$wh/spj/a"
    iso.range(0, 300).select($"id".as("rid"), ($"id" % 8).as("k"))
      .write.format("gseg").option(kCol, "k").mode("overwrite").save(dirA)
    iso.range(300, 600).select($"id".as("rid"), ($"id" % 8).as("k"))
      .write.format("gseg").option(kCol, "k").mode("append").save(dirA)
    iso.table("tc.spj.a").count() // manifest
    val before = SegSource.resolveSegments(dirA).size
    // clustered compact: one shuffle, one segment per key value
    val r = iso.sql(
      "CALL tc.compact('spj.a', sort_by => 'k')").head()
    assert(r.getLong(1) == before && r.getLong(2) == 8L, s"compact: $r")
    // table B: the other side of the join, same layout
    val dirB = s"$wh/spj/b"
    iso.range(0, 600).select($"id".as("rid2"), ($"id" % 8).as("k"))
      .write.format("gseg").option(kCol, "k").mode("overwrite").save(dirB)
    val a = iso.read.format("gseg").option(kCol, "k").load(dirA)
    val b = iso.read.format("gseg").option(kCol, "k").load(dirB)
    val joined = a.join(b, a("k") === b("k") && a("rid") === b("rid2"))
    val smj = joined.queryExecution.executedPlan.collectFirst {
      case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
    }
    assert(smj.isDefined, "expected a sort-merge join")
    assert(smj.get.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, "compact(sort_by) must keep the join shuffle-free")
    assert(joined.count() == 600)
  }

  test("vacuum reclaims a .compact-tmp dir stranded by a mid-compact crash") {
    val (iso, wh) = dml("cmptmp")
    import iso.implicits._
    SegSource.write(iso.range(0, 20).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // manifest
    val dir = s"$wh/ns/t"
    // strand what a driver crash mid-CALL compact leaves: the temp
    // staging dir with a half-written rewrite inside
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(dir), ".compact-tmp-")
    java.nio.file.Files.write(tmp.resolve("half.gseg"),
      Array[Byte](1, 2, 3))
    // a temp YOUNGER than the grace window may belong to an in-flight
    // commit — vacuum must leave it alone this pass (ADVICE r13)
    SegManifest.vacuum(dir)
    assert(java.nio.file.Files.exists(tmp),
      "vacuum must not reclaim an in-grace staging temp")
    // a crashed commit's strand is old: back-date past the grace
    java.nio.file.Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - SegManifest.tempReclaimGraceMs - 60000))
    SegManifest.vacuum(dir)
    assert(!java.nio.file.Files.exists(tmp))
    assert(iso.table("tc.ns.t").count() == 20)
  }

  test("CTAS is atomic: commit publishes in one swap, failure leaves no table") {
    val (iso, wh) = dml("ctas")
    import iso.implicits._
    iso.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
      .createOrReplaceTempView("graft_ctas_src")
    iso.sql(
      "CREATE TABLE tc.ns.t USING gseg AS SELECT * FROM graft_ctas_src")
    assert(iso.table("tc.ns.t").count() == 100)
    assert(iso.sql("SELECT sum(v) AS s FROM tc.ns.t").head().getLong(0) ==
      (0L until 100L).map(_ * 2).sum)
    // the staged write published through the manifest: dot-hidden
    // names, invisible to the legacy listing, resolved via manifest
    assert(SegSource.listSegments(s"$wh/ns/t").isEmpty)
    assert(SegSource.resolveSegments(s"$wh/ns/t").nonEmpty)
    // CTAS onto an existing table fails; IF NOT EXISTS no-ops
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.t USING gseg AS SELECT 1L AS k, 1L AS v"))
    iso.sql("CREATE TABLE IF NOT EXISTS tc.ns.t USING gseg " +
      "AS SELECT 1L AS k, 1L AS v")
    assert(iso.table("tc.ns.t").count() == 100)
    // a FAILING CTAS (ANSI div-by-zero mid-write) must leave no
    // table and no visible debris
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.boom USING gseg " +
        "AS SELECT k / (k - 50) AS x FROM graft_ctas_src"))
    intercept[Exception](iso.table("tc.ns.boom").count())
    assert(!iso.catalog.tableExists("tc.ns.boom"))
    // DML and maintenance work on the CTAS table like any other
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 90")
    assert(iso.table("tc.ns.t").count() == 90)
  }

  test("RTAS swaps atomically and retains the replaced generation as history") {
    val (iso, wh) = dml("rtas")
    import iso.implicits._
    iso.range(0, 50).select($"id".as("k"), lit(1L).as("v"))
      .createOrReplaceTempView("graft_rtas_a")
    iso.range(0, 30).select($"id".as("k"), lit(2L).as("v"))
      .createOrReplaceTempView("graft_rtas_b")
    iso.sql(
      "CREATE TABLE tc.ns.t USING gseg AS SELECT * FROM graft_rtas_a")
    val genBefore = SegManifest.read(s"$wh/ns/t").get._1
    iso.sql(
      "REPLACE TABLE tc.ns.t USING gseg AS SELECT * FROM graft_rtas_b")
    assert(iso.table("tc.ns.t").count() == 30)
    assert(iso.sql("SELECT sum(v) AS s FROM tc.ns.t").head().getLong(0) == 60)
    // time travel reaches ACROSS the replace: the old generation was
    // retained, not destroyed
    assert(iso.sql(
      s"SELECT count(*) AS n FROM tc.ns.t VERSION AS OF $genBefore")
      .head().getLong(0) == 50)
    // a failing RTAS leaves the current table fully intact
    intercept[Exception](iso.sql(
      "REPLACE TABLE tc.ns.t USING gseg " +
        "AS SELECT k / (k - 10) AS x FROM graft_rtas_b"))
    assert(iso.table("tc.ns.t").count() == 30)
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq == Seq("k", "v"))
    // REPLACE of a missing table rejected; CREATE OR REPLACE accepts
    intercept[Exception](iso.sql(
      "REPLACE TABLE tc.ns.missing USING gseg AS SELECT 1L AS k"))
    iso.sql("CREATE OR REPLACE TABLE tc.ns.t USING gseg " +
      "AS SELECT * FROM graft_rtas_a")
    assert(iso.table("tc.ns.t").count() == 50)
    // vacuum reclaims the replaced generations' files (incl. the
    // dot-hidden ctas names) without touching the live set
    assert(SegManifest.vacuum(s"$wh/ns/t").nonEmpty)
    assert(iso.table("tc.ns.t").count() == 50)
  }

  test("RENAME COLUMN is metadata-only; old segments read through the alias chain") {
    val (iso, wh) = dml("ren")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), ($"id" * 3).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count() // migrate: sidecar + manifest
    val before = SegSource.resolveSegments(s"$wh/ns/t").toSet
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN v TO w")
    // pure metadata: the exact same files serve, now under `w`
    assert(SegSource.resolveSegments(s"$wh/ns/t").toSet == before)
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq == Seq("k", "w"))
    assert(iso.sql("SELECT sum(w) AS s FROM tc.ns.t").head().getLong(0) ==
      (0L until 100L).map(_ * 3).sum)
    // new segments store the NEW name; both generations read together
    iso.sql("INSERT INTO tc.ns.t VALUES (1000, 7)")
    assert(iso.sql("SELECT sum(w) AS s FROM tc.ns.t").head().getLong(0) ==
      (0L until 100L).map(_ * 3).sum + 7)
    // rename CHAIN: w -> u still resolves the original v blocks
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN w TO u")
    assert(iso.sql("SELECT max(u) AS m FROM tc.ns.t WHERE k < 100")
      .head().getLong(0) == 297)
    // zone maps resolve through the alias: a DELETE on the renamed
    // KEY column prunes files exactly as before the rename
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN k TO key")
    graft.Counters.drain()
    iso.sql("DELETE FROM tc.ns.t WHERE key >= 1000")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) == 1L, s"counters: $c")
    assert(iso.table("tc.ns.t").count() == 100)
    // header aggs (metadata-only min/max/count) resolve the alias too
    assert(iso.table("tc.ns.t")
      .agg(max($"key"), sum(lit(1L))).head().getLong(0) == 99L)
  }

  test("rename guards: no reuse of tombstoned or aliased names, atomic multi-change") {
    val (iso, wh) = dml("renguard")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 10).select($"id".as("k"), $"id".as("v"),
        ($"id" * 2).as("x")),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count()
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN v TO w")
    // `v` is now an alias of `w`: re-introducing it would resurrect
    // the stored v blocks under a fresh column
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN v BIGINT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN x TO v"))
    // dropping the renamed column tombstones the WHOLE chain
    iso.sql("ALTER TABLE tc.ns.t DROP COLUMN w")
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN w BIGINT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ADD COLUMN v BIGINT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN x TO w"))
    // renaming to a live name is rejected; the failed multi-change
    // ALTER left NO partial metadata (atomic sidecar commit)
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN x TO k"))
    assert(iso.table("tc.ns.t").schema.fieldNames.toSeq == Seq("k", "x"))
    assert(iso.sql("SELECT sum(x) AS s FROM tc.ns.t").head().getLong(0) == 90)
    // legacy .dropped migration: absorbed into the unified sidecar
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/ns/t/.dropped")))
  }

  test("changefeed classifies insert/delete/update and drops rewrite-carried rows") {
    val (iso, wh) = dml("cf")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), ($"id" * 10).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count()                       // gen 0
    iso.sql("UPDATE tc.ns.t SET v = v + 1 WHERE k >= 90")  // gen 1
    iso.sql("DELETE FROM tc.ns.t WHERE k = 0")             // gen 2
    iso.sql("INSERT INTO tc.ns.t VALUES (1000, 1)")        // gen 3
    val dir = s"$wh/ns/t"
    val schema = iso.table("tc.ns.t").schema
    val feed = SegChangeFeed.changes(iso, dir, schema, 0L, 3L, Seq("k"))
    val rows = feed.collect()
    // file diff bounded by the touched files: the UPDATE touched the
    // top range file, the DELETE the bottom one, the INSERT added one
    // — the two middle files never entered the diff, so the feed's
    // scans read fewer files than the two generations hold
    val read = SegScanMetrics.of(feed, SegScanMetrics.FilesTotal)
    val live = Seq(0L, 3L).map(SegManifest.retained(dir, _, "changefeed").names.size).sum
    assert(read > 0 && read < live, s"read $read of $live files")
    val byType = rows.groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r => (r.getLong(0), r.getLong(1))).toSet).toMap
    assert(byType("insert") == Set((1000L, 1L)))
    assert(byType("delete") == Set((0L, 0L)))
    assert(byType("update_preimage") ==
      (90L until 100L).map(k => (k, k * 10)).toSet)
    assert(byType("update_postimage") ==
      (90L until 100L).map(k => (k, k * 10 + 1)).toSet)
    // rewrite-carried rows (k in the touched boundary files but
    // outside the predicates) emit nothing: total = 1+1+10+10
    assert(feed.count() == 22)
    // pure-compaction diff: every row carried, zero changes
    iso.sql("CALL tc.compact('ns.t', 1)")                  // gen 4
    assert(SegChangeFeed.changes(iso, dir, schema, 3L, 4L, Seq("k"))
      .count() == 0)
    // single-step diff (gen 2 -> 3) sees ONLY the insert
    assert(SegChangeFeed.changes(iso, dir, schema, 2L, 3L, Seq("k"))
      .collect().map(_.getAs[String]("_change_type")).toSeq ==
      Seq("insert"))
    // a vacuumed-away generation fails loudly
    SegManifest.vacuum(dir)
    intercept[IllegalArgumentException](
      SegChangeFeed.changes(iso, dir, schema, 0L, 4L, Seq("k")))
  }

  test("CALL changes reports the segment-level generation diff") {
    val (iso, wh) = dml("cfproc")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count()                       // gen 0
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 95")           // gen 1
    val rows = iso.sql("CALL tc.changes('ns.t', 0, 1)").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    // one file removed (the top range file, 25 rows), one added (its
    // 20-row rewrite) — the three untouched files are absent
    assert(rows.map(_._1).sorted == Seq("added", "removed"),
      s"rows: ${rows.toSeq}")
    val m = rows.toMap
    assert(m("removed") > m("added"), s"rows: ${rows.toSeq}")
    intercept[Exception](
      iso.sql("CALL tc.changes('ns.t', 0, 99)").collect())
  }

  test("PARTITIONED BY catalog tables keep the SPJ layout through INSERT, DML and compact") {
    val (iso, wh) = dml("part")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    iso.sql("CREATE TABLE tc.spj.a (rid BIGINT, k BIGINT) USING gseg " +
      "PARTITIONED BY (k)")
    iso.sql("CREATE TABLE tc.spj.b (rid2 BIGINT, k BIGINT) USING gseg " +
      "PARTITIONED BY (k)")
    iso.range(0, 300).select($"id".as("rid"), ($"id" % 8).as("k"))
      .createOrReplaceTempView("graft_part_src")
    iso.sql("INSERT INTO tc.spj.a SELECT rid, k FROM graft_part_src")
    iso.sql("INSERT INTO tc.spj.b SELECT rid AS rid2, k FROM graft_part_src")
    assert(iso.table("tc.spj.a").count() == 300,
      s"a=${iso.table("tc.spj.a").count()}")
    assert(iso.table("tc.spj.b").count() == 300,
      s"b=${iso.table("tc.spj.b").count()}")
    def shuffleFree(expected: Long): Boolean = {
      val a = iso.table("tc.spj.a")
      val b = iso.table("tc.spj.b")
      val j = a.join(b, a("k") === b("k") && a("rid") === b("rid2"))
      val smj = j.queryExecution.executedPlan.collectFirst {
        case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
      }
      assert(j.count() == expected)
      smj.exists(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty)
    }
    // the catalog-declared layout joins with zero exchanges — no
    // partition_col option anywhere in the query
    assert(shuffleFree(300), "catalog-declared layout must join shuffle-free")
    // the DML rewrite declares the clustered distribution: layout
    // SURVIVES an UPDATE (replacement segments one-key-per-file).
    // k=3's 38 rids move out of the rid=rid2 match, so the expected
    // pair count drops to 262
    iso.sql("UPDATE tc.spj.a SET rid = rid + 1000 WHERE k = 3")
    assert(iso.table("tc.spj.a").filter($"rid" >= 1000).count() == 38)
    assert(shuffleFree(262), "layout must survive the DML rewrite")
    // an unqualified compact on a clustered table defaults to
    // sort_by = the cluster column: the layout survives maintenance
    iso.sql("CALL tc.compact('spj.a', 1)")
    assert(shuffleFree(262), "layout must survive CALL compact")
    // guards: the clustering column cannot be dropped; renaming it
    // renames the clustering too (reads resolve the alias)
    intercept[Exception](iso.sql("ALTER TABLE tc.spj.a DROP COLUMN k"))
    iso.sql("ALTER TABLE tc.spj.a RENAME COLUMN k TO kk")
    assert(iso.table("tc.spj.a").groupBy($"kk").count().count() == 8)
    // rejected shapes: stats-unprovable identity key (DOUBLE), and a
    // temporal transform over a non-temporal type (r15 made
    // STRING/DATE identity, bucket(n, col) and years/months/days/
    // hours first-class — SegClusterSpec / SegTemporalSpec cover them)
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.spj.bad (d DOUBLE, k BIGINT) USING gseg " +
        "PARTITIONED BY (d)"))
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.spj.bad2 (t TIMESTAMP, k BIGINT) USING gseg " +
        "PARTITIONED BY (days(k))"))
  }

  test("CTAS with PARTITIONED BY stages the clustered layout") {
    val (iso, wh) = dml("partctas")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    iso.range(0, 200).select($"id".as("rid"), ($"id" % 4).as("k"))
      .createOrReplaceTempView("graft_pctas_src")
    iso.sql("CREATE TABLE tc.ns.a USING gseg PARTITIONED BY (k) " +
      "AS SELECT rid, k FROM graft_pctas_src")
    iso.sql("CREATE TABLE tc.ns.b USING gseg PARTITIONED BY (k) " +
      "AS SELECT rid AS rid2, k FROM graft_pctas_src")
    val a = iso.table("tc.ns.a")
    val b = iso.table("tc.ns.b")
    val j = a.join(b, a("k") === b("k"))
    assert(j.count() == 10000L) // 4 keys x (50x50) pairs
    assert(j.queryExecution.executedPlan.collectFirst {
      case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
    }.exists(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty), "CTAS PARTITIONED BY must stage the SPJ layout")
  }

  test("table properties expose generation, width and clustering") {
    val (iso, wh) = dml("props")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg " +
      "PARTITIONED BY (k)")
    iso.sql("INSERT INTO tc.ns.t VALUES (1, 10), (2, 20)")
    def props(): Map[String, String] =
      iso.sql("SHOW TBLPROPERTIES tc.ns.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val p1 = props()
    assert(p1("generation") == "1" && p1("clustering") == "k",
      s"props: $p1")
    assert(p1("segments").toInt >= 2) // one per key value
    iso.sql("DELETE FROM tc.ns.t WHERE k = 1")
    assert(props()("generation") == "2")
  }

  test("generation stream tails appends exactly-once across restarts") {
    val (iso, wh) = dml("genstream")
    import iso.implicits._
    SegSource.write(iso.range(0, 50).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // manifest: gen 0
    val dir = s"$wh/ns/t"
    val base = graft.Fs.fastTempDir("graft_genstream").toString
    val schema = iso.table("tc.ns.t").schema
    def start() = iso.readStream.format("gseg").schema(schema).load(dir)
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    def sunk(): Seq[Long] = iso.read.parquet(s"$base/out")
      .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq.sorted
    try {
      var q = start()
      try {
        q.processAllAvailable() // initial snapshot = live generation
        assert(sunk() == (0L until 50L))
        iso.sql("INSERT INTO tc.ns.t VALUES (100), (101)") // gen 1: append
        q.processAllAvailable()
        assert(sunk() == (0L until 50L) ++ Seq(100L, 101L))
      } finally q.stop()
      // a generation lands while no query runs; the restart recovers
      // the GENERATION offset and emits exactly the increment
      iso.sql("INSERT INTO tc.ns.t VALUES (200)") // gen 2
      q = start()
      try {
        q.processAllAvailable()
        assert(sunk() == (0L until 50L) ++ Seq(100L, 101L, 200L),
          "restart replayed or missed a generation")
      } finally q.stop()
    } finally graft.Fs.deleteRecursively(base)
  }

  test("generation stream fails loudly on change commits; skip_change_commits tails appends") {
    val (iso, wh) = dml("genchange")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 40).select($"id".as("k"))
        .repartitionByRange(4, $"k"), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // gen 0
    val dir = s"$wh/ns/t"
    val base = graft.Fs.fastTempDir("graft_genchange").toString
    val schema = iso.table("tc.ns.t").schema
    try {
      // default: a DML rewrite mid-stream kills the query LOUDLY —
      // never silent duplicates or misses (the pre-r13 name-watermark
      // hazard on manifest tables)
      var q = iso.readStream.format("gseg").schema(schema).load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt1").start()
      try {
        q.processAllAvailable()
        iso.sql("DELETE FROM tc.ns.t WHERE k >= 30") // gen 1: CHANGE
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          { q.processAllAvailable(); q.awaitTermination(10000) })
        assert(e.getMessage.contains("CHANGE commit") ||
          Option(e.getCause).exists(_.getMessage.contains("CHANGE commit")))
      } finally q.stop()
      // with skip_change_commits: the change commit's rows never
      // stream, later appends do
      graft.Counters.drain()
      q = iso.readStream.format("gseg").schema(schema)
        .option(SegSource.SkipChangeCommitsOption, "true").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt2").start()
      try {
        q.processAllAvailable() // initial snapshot: post-DELETE table
        iso.sql("UPDATE tc.ns.t SET k = k + 1000 WHERE k < 3") // CHANGE
        iso.sql("INSERT INTO tc.ns.t VALUES (500)")            // append
        q.processAllAvailable()
      } finally q.stop()
      val sunk = iso.read.parquet(s"$base/out")
        .select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSeq.sorted
      // 30 initial + the appended 500; the UPDATE's rewritten rows
      // were skipped whole (Delta's skipChangeCommits contract)
      assert(sunk == (0L until 30L) ++ Seq(500L), s"sunk: $sunk")
      assert(graft.Counters.drain()
        .getOrElse("gseg_stream_gen_change_skipped", 0L) >= 1L)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("a generation stream lagging past the vacuum window fails loudly") {
    val (iso, wh) = dml("genlag")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 40).select($"id".as("k"))
        .repartitionByRange(4, $"k"), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // gen 0
    val dir = s"$wh/ns/t"
    val base = graft.Fs.fastTempDir("graft_genlag").toString
    val schema = iso.table("tc.ns.t").schema
    try {
      // consume up to gen 0, checkpoint, stop
      var q = iso.readStream.format("gseg").schema(schema)
        .option(SegSource.SkipChangeCommitsOption, "true").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // while the stream is down: a rewrite supersedes gen 0's top
      // file and vacuum retires its snapshot — the (0, 2] diff now
      // needs a generation that no longer exists
      iso.sql("UPDATE tc.ns.t SET k = k + 100 WHERE k >= 30") // gen 1
      iso.sql("INSERT INTO tc.ns.t VALUES (500)")             // gen 2
      SegManifest.vacuum(dir)
      assert(SegManifest.readSnapshot(dir, 0L).isEmpty,
        "precondition: gen 0's snapshot must be retired")
      q = iso.readStream.format("gseg").schema(schema)
        .option(SegSource.SkipChangeCommitsOption, "true").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt").start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        try { q.processAllAvailable(); q.awaitTermination(10000) }
        finally q.stop())
      def chain(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
      assert(chain(e).exists(c =>
        Option(c.getMessage).exists(_.contains("not retained"))),
        s"wanted the retention-window error, got: $e")
    } finally graft.Fs.deleteRecursively(base)
  }

  test("changefeed resolves renamed columns across generations") {
    val (iso, wh) = dml("cfren")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 50).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(2, $"k"), s"$wh/ns/t")
    iso.table("tc.ns.t").count()                            // gen 0
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN v TO w")
    iso.sql("UPDATE tc.ns.t SET w = w + 1 WHERE k >= 45")   // gen 1
    // the pre-rename generation's files store blocks under `v`; the
    // feed reads BOTH sides under the current schema (k, w) through
    // the alias chain — a mis-resolved alias would null the pre-side
    // payload and misclassify every carried row as an update
    val feed = SegChangeFeed.changes(iso, s"$wh/ns/t",
      iso.table("tc.ns.t").schema, 0L, 1L, Seq("k"))
    val byType = feed.collect().groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(r => (r.getLong(0), r.getLong(1))).toSet).toMap
    assert(byType.keySet == Set("update_preimage", "update_postimage"),
      s"got: $byType")
    assert(byType("update_preimage") ==
      (45L until 50L).map(k => (k, k * 2)).toSet)
    assert(byType("update_postimage") ==
      (45L until 50L).map(k => (k, k * 2 + 1)).toSet)
  }

  test("a streaming read of a manifest table sees only the live generation") {
    val (iso, wh) = dml("streamread")
    import iso.implicits._
    SegSource.write(
      iso.range(0, 40).select($"id".as("k"), ($"id" % 4).as("v"))
        .repartitionByRange(4, $"k"),
      s"$wh/ns/t")
    iso.table("tc.ns.t").count() // manifest
    // DML replaces files but RETAINS the superseded generation on
    // disk: a listing-based stream would double-read those rows
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 30")
    val dir = s"$wh/ns/t"
    assert(SegSource.listSegments(dir).size >
      SegSource.resolveSegments(dir).size,
      "precondition: superseded files must still be on disk")
    val base = graft.Fs.fastTempDir("graft_streamread").toString
    try {
      val q = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out")
        .start()
      try q.processAllAvailable() finally q.stop()
      // exactly the live generation: 30 rows, max k 29 — no
      // duplicate/stale rows from the retained files
      val out = iso.read.parquet(s"$base/out")
      assert(out.count() == 30)
      assert(out.agg(max($"k")).head().getLong(0) == 29L)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("CREATE TABLE refuses a manifest-only dir (crashed CTAS window)") {
    val (iso, wh) = dml("mfonly")
    import iso.implicits._
    iso.range(0, 10).select($"id".as("k"))
      .createOrReplaceTempView("graft_mfonly_src")
    iso.sql("CREATE TABLE tc.ns.t USING gseg AS " +
      "SELECT * FROM graft_mfonly_src")
    val dir = s"$wh/ns/t"
    // simulate the crash window: CTAS's manifest swap landed, the
    // sidecar write did not — all data files are dot-hidden, the
    // listing is empty, only the manifest says the table exists
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".schema.json"))
    assert(SegSource.listSegments(dir).isEmpty)
    assert(SegManifest.exists(dir))
    // CREATE TABLE must refuse — binding a fresh schema over the
    // committed CTAS data would silently corrupt it (ADVICE r13)
    intercept[Exception](iso.sql("CREATE TABLE tc.ns.t (x BIGINT) USING gseg"))
    // and CTAS must refuse the same way through the staging path
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.t USING gseg AS SELECT 1L AS x"))
    // loadTable recovers: schema re-inferred, data intact
    assert(iso.table("tc.ns.t").count() == 10)
  }

  test("generation-offset checkpoints from a foreign protocol fail loudly") {
    val s = new SegGenMicroBatchStream("/nope", null, Array.empty, false)
    assert(s.deserializeOffset("""{"gen":7}""")
      .asInstanceOf[SegGenOffset].gen == 7L)
    assert(s.deserializeOffset("""{"gen":-1}""")
      .asInstanceOf[SegGenOffset].gen == -1L)
    // a name-watermark offset (path-dir protocol) must not decode to
    // a garbage generation (lenient digit-strip did; ADVICE r13)
    intercept[IllegalStateException](
      s.deserializeOffset("""{"wm64":"c3RyLTAwMDAxLWFiYw=="}"""))
    intercept[Exception](s.deserializeOffset("watermark-00042"))
  }

  test("a foreign process's commit lock blocks the swap; a stale one expires") {
    val (iso, wh) = dml("plock")
    import iso.implicits._
    SegSource.write(iso.range(0, 10).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // manifest: generation 0
    val dir = s"$wh/ns/t"
    val lock = java.nio.file.Paths.get(dir, ".commit-lock")
    val gen0 = SegManifest.read(dir).get._1
    val oldWait = SegManifest.lockWaitMs
    SegManifest.lockWaitMs = 150L
    try {
      // simulate a SECOND DRIVER PROCESS holding the lock (the JVM
      // monitor can't see it — only the O_EXCL file protocol can):
      // a fresh lock file written by "someone else"
      java.nio.file.Files.write(lock,
        s"${System.currentTimeMillis} other-process".getBytes("UTF-8"))
      val e = intercept[SegManifest.CommitConflictException](
        SegManifest.swap(dir, Seq.empty, expectGen = Some(Some(gen0))))
      assert(e.getMessage.contains("commit lock"))
      assert(SegManifest.read(dir).get._1 == gen0, "losing committer wrote nothing")
      // the same lock from a CRASHED committer (embedded clock past
      // expiry) must expire rather than deadlock the table forever
      java.nio.file.Files.write(lock,
        (s"${System.currentTimeMillis - SegManifest.lockExpiryMs - 60000} " +
          "crashed-process").getBytes("UTF-8"))
      val g1 = SegManifest.swap(dir, Seq.empty, expectGen = Some(Some(gen0)))
      assert(g1 == gen0 + 1)
      // the winner released: no lock file remains
      assert(!java.nio.file.Files.exists(lock))
      // a torn/foreign lock body also expires (can't wedge the table)
      java.nio.file.Files.write(lock, "garbage".getBytes("UTF-8"))
      assert(SegManifest.swap(dir, Seq.empty,
        expectGen = Some(Some(g1))) == g1 + 1)
    } finally {
      SegManifest.lockWaitMs = oldWait
      java.nio.file.Files.deleteIfExists(lock)
    }
  }

  test("racing same-JVM committers: one wins, one conflicts, lock never wedges") {
    val (iso, wh) = dml("plock2")
    import iso.implicits._
    SegSource.write(iso.range(0, 10).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count()
    val dir = s"$wh/ns/t"
    val gen0 = SegManifest.read(dir).get._1
    // both committers READ generation 0, then race their swaps: the
    // CAS admits exactly one (unchanged by the file lock, which only
    // serializes the window)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(Future.sequence((1 to 2).map(i =>
      Future(scala.util.Try(
        SegManifest.swap(dir, Seq.empty, expectGen = Some(Some(gen0))))))),
      30.seconds)
    assert(results.count(_.isSuccess) == 1)
    assert(results.count(r => r.isFailure &&
      r.failed.get.isInstanceOf[SegManifest.CommitConflictException]) == 1)
    assert(SegManifest.read(dir).get._1 == gen0 + 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, ".commit-lock")))
  }

  test("time-based vacuum cuts by the embedded commit clock, not mtime or count") {
    val (iso, wh) = dml("tvac")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    def gen(i: Long): Unit =
      iso.range(i * 10, i * 10 + 10).select($"id".as("k"))
        .write.format("gseg").mode("overwrite").save(dir)
    gen(0)
    iso.table("tc.ns.t").count() // manifest: generation 0
    (1L to 3L).foreach(gen) // overwrites: disjoint file sets per gen
    assert(SegManifest.read(dir).get._1 == 3L)
    val hourMs = 60L * 60 * 1000
    // nothing is old enough: a time-bounded vacuum reclaims nothing
    // even though keep_last=1 alone would reclaim gens 0-2
    assert(SegManifest.vacuum(dir, keepLast = 1,
      olderThanMs = Some(hourMs)).isEmpty)
    (0L to 2L).foreach(g =>
      assert(SegManifest.readSnapshot(dir, g).isDefined))
    // back-date the EMBEDDED clock of gens 0 and 1 (line 3 of the v2
    // snapshot body); leave file mtimes fresh — and conversely give
    // gen 2's snapshot an ancient MTIME with a fresh embedded clock:
    // the cut must follow the clock in both directions
    def rewriteClock(g: Long, ms: Long): Unit = {
      val p = java.nio.file.Paths.get(dir, s".manifest.v$g")
      val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
      lines(2) = ms.toString
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    }
    rewriteClock(0L, System.currentTimeMillis - 2 * hourMs)
    rewriteClock(1L, System.currentTimeMillis - 2 * hourMs)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, ".manifest.v2"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis - 24 * hourMs))
    val reclaimed = SegManifest.vacuum(dir, keepLast = 1,
      olderThanMs = Some(hourMs))
    assert(reclaimed.nonEmpty)
    // gens 0-1 (old clocks) retired; gen 2 (young clock, old mtime)
    // and the live gen 3 survive, still travelable
    assert(SegManifest.readSnapshot(dir, 0L).isEmpty)
    assert(SegManifest.readSnapshot(dir, 1L).isEmpty)
    assert(SegManifest.readSnapshot(dir, 2L).isDefined)
    assert(iso.sql("SELECT count(*) AS n FROM tc.ns.t VERSION AS OF 2")
      .head().getLong(0) == 10L)
    assert(iso.table("tc.ns.t").agg(min($"k")).head().getLong(0) == 30L)
    // the SQL surface: CALL vacuum with the horizon reclaims nothing
    // more (idempotent at the same horizon)
    assert(iso.sql(
      s"CALL tc.vacuum('ns.t', keep_last => 1, older_than_ms => $hourMs)")
      .head().getLong(1) == 0L)
  }

  test("multi-column clustering: composite layout, ALTER guards, metadata") {
    val (iso, wh) = dml("mclust")
    import iso.implicits._
    iso.range(0, 300)
      .select($"id".as("r"), ($"id" % 3).as("ka"), ($"id" % 4).as("kb"))
      .createOrReplaceTempView("graft_mc_src")
    iso.sql("CREATE TABLE tc.ns.t USING gseg PARTITIONED BY (ka, kb) " +
      "AS SELECT r, ka, kb FROM graft_mc_src")
    val dir = s"$wh/ns/t"
    // every committed segment is single-valued in BOTH key columns
    val files = SegSource.resolveSegments(dir)
    assert(files.size >= 12, s"expected >=12 composite groups: ${files.size}")
    files.foreach { f =>
      Seq("ka", "kb").foreach { k =>
        val cm = SegSource.headerOf(f).cols.find(_.name == k).get
        assert(cm.hasStats && cm.minBits == cm.maxBits && cm.nNulls == 0,
          s"segment not single-valued in $k: $f")
      }
    }
    // catalog reports both transforms; properties carry the pair
    assert(iso.sql("SHOW TBLPROPERTIES tc.ns.t")
      .filter($"key" === "clustering").head().getString(1) == "ka,kb")
    // INSERT through the catalog keeps the layout (clustered
    // distribution declared by the write)
    iso.sql("INSERT INTO tc.ns.t VALUES (999, 1, 2)")
    SegSource.resolveSegments(dir).foreach { f =>
      val cm = SegSource.headerOf(f).cols.find(_.name == "ka").get
      assert(cm.minBits == cm.maxBits)
    }
    // DML on one composite class rewrites only that class's files
    graft.Counters.drain()
    iso.sql("DELETE FROM tc.ns.t WHERE ka = 2 AND kb = 3")
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_rlo_candidates", -1L) <=
      c.getOrElse("gseg_rlo_files_total", 0L) / 4,
      s"composite zone maps must prune most groups: $c")
    assert(iso.table("tc.ns.t").count() == 301 - 25) // 25 of 300 in class (2,3)
    // DROP of either clustering column is rejected; RENAME follows
    intercept[Exception](iso.sql("ALTER TABLE tc.ns.t DROP COLUMN kb"))
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN kb TO kbx")
    assert(iso.sql("SHOW TBLPROPERTIES tc.ns.t")
      .filter($"key" === "clustering").head().getString(1) == "ka,kbx")
    // the renamed composite layout still recovers (alias-resolved
    // headers): scans group and prune as before
    assert(iso.table("tc.ns.t").filter($"kbx" === 2 && $"ka" === 1)
      .count() == 25 + 1) // class (1,2) plus the inserted row
  }

  test("as-of-schema time travel: VERSION AS OF serves the pinned schema") {
    val (iso, wh) = dml("asofschema")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(
      iso.range(0, 20).select($"id".as("k"), ($"id" * 2).as("qty")),
      dir)
    iso.table("tc.ns.t").count() // manifest: generation 0 (pins k, qty)
    // a data commit AFTER the rename pins the new name at gen 1
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN qty TO amount")
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 200)")
    // live table serves the new name
    assert(iso.table("tc.ns.t").columns.toSeq == Seq("k", "amount"))
    // VERSION AS OF 0 serves the OLD name — and the values stored
    // under it, resolved through the PINNED alias map, not the
    // current one
    val v0 = iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 0")
    assert(v0.columns.toSeq == Seq("k", "qty"))
    assert(v0.agg(sum($"qty")).head().getLong(0) == (0L until 20L).map(_ * 2).sum)
    assert(v0.count() == 20)
    // VERSION AS OF 1 (committed post-rename) serves the new name
    val v1 = iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "amount"))
    assert(v1.count() == 21)

    // RTAS: the replaced generation keeps ITS schema across REPLACE
    iso.range(0, 5).select($"id".as("x"), lit("s").as("label"))
      .createOrReplaceTempView("graft_asof_rtas")
    iso.sql("REPLACE TABLE tc.ns.t USING gseg " +
      "AS SELECT x, label FROM graft_asof_rtas")
    assert(iso.table("tc.ns.t").columns.toSeq == Seq("x", "label"))
    val pre = iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1")
    assert(pre.columns.toSeq == Seq("k", "amount"),
      "pre-REPLACE generation must read under the replaced schema")
    assert(pre.count() == 21)
    // a DROPPED column is readable again in the generations that had
    // it: drop label, travel back to the RTAS generation
    val genRtas = SegManifest.read(dir).get._1
    iso.sql("ALTER TABLE tc.ns.t DROP COLUMN label")
    assert(iso.table("tc.ns.t").columns.toSeq == Seq("x"))
    val back = iso.sql(s"SELECT * FROM tc.ns.t VERSION AS OF $genRtas")
    assert(back.columns.toSeq == Seq("x", "label"))
    assert(back.filter($"label" === "s").count() == 5)
  }

  test("vacuum dry_run reports the reclaim set without touching the table") {
    val (iso, wh) = dml("dryrun")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 40).select($"id".as("k"))
      .repartitionByRange(4, $"k"), dir)
    iso.table("tc.ns.t").count() // gen 0
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 30") // gen 1: one file replaced
    val before = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).toSet
    // dry run through SQL: reports the would-be reclaim, deletes nothing
    val wouldReclaim = iso.sql(
      "CALL tc.vacuum('ns.t', dry_run => true)").head().getLong(1)
    assert(wouldReclaim >= 1)
    val after = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).toSet
    assert(after == before, "dry_run must not delete anything")
    assert(SegManifest.readSnapshot(dir, 0L).isDefined,
      "dry_run must not retire snapshots")
    // the real run reclaims exactly what the dry run promised
    assert(iso.sql("CALL tc.vacuum('ns.t')").head().getLong(1)
      == wouldReclaim)
    assert(iso.table("tc.ns.t").count() == 30)
  }

  test("string predicates evaluate in the reader (startsWith/endsWith/contains)") {
    val (iso, wh) = dml("strpush")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"),
        concat(lit("w"), ($"id" % 10).cast("string"),
          lit("-tag")).as("s")), dir)
    val t = iso.read.format("gseg").load(dir)
    // all three shapes are ACCEPTED by the scan builder (rows die in
    // the reader; Spark re-checks — correctness never depends on it)
    def pushed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val sw = t.filter($"s".startsWith("w3"))
    assert(pushed(sw).contains("StringStartsWith"), pushed(sw).take(400))
    assert(sw.count() == 10)
    assert(t.filter($"s".endsWith("-tag")).count() == 100)
    assert(t.filter($"s".contains("9-t")).count() == 10)
    // null-safety: a null never matches
    SegSource.write(
      iso.range(0, 4).select($"id".as("k"),
        when($"id" % 2 === 0, lit("even")).as("s")), s"$wh/ns/u")
    val u = iso.read.format("gseg").load(s"$wh/ns/u")
    assert(u.filter($"s".startsWith("ev")).count() == 2)
    assert(u.filter($"s".contains("v")).count() == 2)
  }

  test("torn v1/v2 manifests fail with the descriptive error, not an index error") {
    val e1 = intercept[IllegalArgumentException](
      SegManifest.parse(Seq("gseg-manifest-v1"), "test"))
    assert(e1.getMessage.contains("truncated"))
    val e2 = intercept[IllegalArgumentException](
      SegManifest.parse(Seq("gseg-manifest-v1", "notanumber"), "test"))
    assert(e2.getMessage.contains("bad generation"))
    val e3 = intercept[IllegalArgumentException](
      SegManifest.parse(Seq("gseg-manifest-v2", "3"), "test"))
    assert(e3.getMessage.contains("truncated"))
  }

  test("release deletes only the lock it still holds (token check)") {
    val (iso, wh) = dml("ptok")
    import iso.implicits._
    SegSource.write(iso.range(0, 10).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count()
    val dir = s"$wh/ns/t"
    val lock = java.nio.file.Paths.get(dir, ".commit-lock")
    // a holder stalled past expiry whose lock was EXPIRED AND RETAKEN
    // by another committer: its release must not delete the new
    // holder's lock (ADVICE r14 — that reopened the swap window)
    val token = SegManifest.acquireProcessLock(dir)
    java.nio.file.Files.write(lock,
      s"${System.currentTimeMillis} new-holder".getBytes("UTF-8"))
    SegManifest.releaseProcessLock(dir, token)
    assert(java.nio.file.Files.exists(lock),
      "the new holder's lock must survive the stalled holder's release")
    // while the token still matches, release deletes normally
    java.nio.file.Files.write(lock, token.getBytes("UTF-8"))
    SegManifest.releaseProcessLock(dir, token)
    assert(!java.nio.file.Files.exists(lock))
    // releasing when the lock is already gone is a quiet no-op
    SegManifest.releaseProcessLock(dir, token)
  }

  test("vacuum judges generations by the manifest READ UNDER the lock") {
    // the r14 ADVICE race: a foreign-process commit lands between
    // vacuum's manifest read and its lock acquisition — the new
    // generation looks phantom (gen > stale live) and vacuum deletes
    // its snapshot and its just-committed files. The fix reads the
    // manifest INSIDE the lock; this test interleaves exactly that
    // commit while vacuum spins on the foreign holder's lock.
    val (iso, wh) = dml("pvrace")
    import iso.implicits._
    SegSource.write(iso.range(0, 10).select($"id".as("k")), s"$wh/ns/t")
    iso.table("tc.ns.t").count() // gen 0
    val dir = s"$wh/ns/t"
    val p = java.nio.file.Paths.get(dir)
    val lock = p.resolve(".commit-lock")
    val gen0Names = SegManifest.read(dir).get._2
    val oldWait = SegManifest.lockWaitMs
    SegManifest.lockWaitMs = 5000L
    try {
      // the "foreign process" holds the lock, mid-commit
      java.nio.file.Files.write(lock,
        s"${System.currentTimeMillis} foreign-committer".getBytes("UTF-8"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val vac = Future(SegManifest.vacuum(dir)) // spins on the lock
      Thread.sleep(300)
      // the foreign commit LANDS while vacuum waits: generation 1
      // replaces the whole file set with B.gseg (written directly to
      // disk — a separate process's swapLocked, not this JVM's)
      java.nio.file.Files.write(p.resolve("B.gseg"),
        Array[Byte](1, 2, 3))
      val body = ("gseg-manifest-v3\n1\n" + System.currentTimeMillis +
        "\n1\n-\nB.gseg").getBytes("UTF-8")
      java.nio.file.Files.write(p.resolve(".manifest.v1"), body)
      java.nio.file.Files.write(p.resolve(".manifest"), body)
      java.nio.file.Files.delete(lock) // foreign release
      val reclaimed = Await.result(vac, 30.seconds)
      // vacuum saw generation 1 (read under the lock): the committed
      // snapshot and its data survive; gen 0's replaced files reclaim
      assert(java.nio.file.Files.exists(p.resolve("B.gseg")),
        "the just-committed generation's data must survive vacuum")
      assert(SegManifest.readSnapshot(dir, 1).isDefined,
        "the just-committed snapshot must survive vacuum")
      assert(gen0Names.forall(reclaimed.contains),
        s"gen 0's replaced files reclaim; got $reclaimed")
      assert(SegManifest.read(dir).get._1 == 1L)
    } finally {
      SegManifest.lockWaitMs = oldWait
      java.nio.file.Files.deleteIfExists(lock)
    }
  }

  test("ALTER COLUMN TYPE widens INT to BIGINT across generations") {
    val (iso, wh) = dml("widen")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v INT) USING gseg")
    iso.sql("INSERT INTO tc.ns.t VALUES (1, 10), (2, 20)") // gen 1, INT
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN v TYPE BIGINT")
    assert(iso.table("tc.ns.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // post-widen inserts store BIGINT; 3000000000 overflows INT
    iso.sql("INSERT INTO tc.ns.t VALUES (3, 3000000000)") // gen 2, LONG
    // the aggregate SPANS both generations: stored-int blocks promote
    // at the decode seam
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getLong(0) ==
      10L + 20L + 3000000000L)
    // header-agg pushdown promotes stored-int STATS to the current type
    assert(iso.table("tc.ns.t").agg(min($"v"), max($"v")).head() ==
      org.apache.spark.sql.Row(10L, 3000000000L))
    // zone maps still prune across the mixed-type files (BigDecimal
    // comparison is already cross-type)
    graft.Counters.drain()
    assert(iso.table("tc.ns.t").filter($"v" > 100L).count() == 1)
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c")
    // VERSION AS OF the pre-widen generation serves INT (schema pins)
    val old = iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1")
    assert(old.schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(old.select(sum($"v")).head().getLong(0) == 30L)
    // guards: narrowing and cross-family changes stay loud
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN v TYPE INT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN v TYPE DOUBLE"))
    // widening a clustering column is rejected (mixed-type partition
    // keys would poison the reported layout)
    iso.sql("CREATE TABLE tc.ns.c (k INT, v BIGINT) USING gseg " +
      "PARTITIONED BY (k)")
    val e = intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.c ALTER COLUMN k TYPE BIGINT"))
    assert(e.getMessage.contains("clustering"))
  }

  test("tags pin generations (segments + DVs) against vacuum until untagged") {
    val (iso, wh) = dml("tags")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v DOUBLE) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.sql("INSERT INTO tc.ns.t SELECT id, id * 0.5 FROM range(0, 100)")
    iso.sql("DELETE FROM tc.ns.t WHERE k < 10") // gen 2: vector commit
    val dir = s"$wh/ns/t"
    val gen2 = SegManifest.read(dir).get._1
    val snap2 = SegManifest.readSnapshotManifest(dir, gen2).get
    assert(snap2.dvs.nonEmpty, "mor DELETE must have written a vector")
    iso.sql(s"CALL tc.tag('ns.t', 'audit-2026q3', $gen2)")
    // CALL history reports the pin (tail-appended `tags` column)
    assert(iso.sql("CALL tc.history('ns.t')")
      .filter(col("generation") === gen2)
      .head().getAs[String]("tags") == "audit-2026q3")
    // two overwrites push the live pointer past the tagged generation
    // and orphan its files from every keep_last=1 floor but the tag's
    iso.sql("INSERT OVERWRITE tc.ns.t SELECT id, id * 1.0 FROM range(0, 50)")
    iso.sql("INSERT OVERWRITE tc.ns.t SELECT id, id * 2.0 FROM range(0, 50)")
    iso.sql("CALL tc.vacuum('ns.t', keep_last => 1)")
    def onDisk(n: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n))
    assert((snap2.names ++ snap2.dvs.values).forall(onDisk),
      "tagged generation's segments + DVs must survive keep_last=1")
    // VERSION AS OF the tag: the pinned content, masked by ITS vectors
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'audit-2026q3'")
      .count() == 90)
    assert(iso.sql("SELECT sum(v) FROM tc.ns.t VERSION AS OF 'audit-2026q3'")
      .head().getDouble(0) == (10 until 100).map(_ * 0.5).sum)
    // clone-from-tag: an independent fork of the pinned snapshot
    iso.sql("CALL tc.clone('ns.t', 'ns.aud', tag => 'audit-2026q3')")
    assert(iso.table("tc.ns.aud").count() == 90)
    // guards: all-digit names collide with generation numbers;
    // re-pointing a live tag is loud; unknown untag is loud
    intercept[Exception](iso.sql(s"CALL tc.tag('ns.t', '123', $gen2)"))
    // signed numbers parse as generations too ('-' is in the allowed
    // charset but toLong accepts it) — same unreachable-tag collision
    intercept[Exception](iso.sql(s"CALL tc.tag('ns.t', '-5', $gen2)"))
    intercept[Exception](
      iso.sql(s"CALL tc.tag('ns.t', 'audit-2026q3', ${gen2 + 1})"))
    intercept[Exception](iso.sql("CALL tc.untag('ns.t', 'nope')"))
    // untag releases the floor: the NEXT vacuum reclaims everything
    // of gen 2 the live generation doesn't share
    iso.sql("CALL tc.untag('ns.t', 'audit-2026q3')")
    iso.sql("CALL tc.vacuum('ns.t', keep_last => 1)")
    val live = SegManifest.read(dir).get._2.toSet
    assert((snap2.names.toSet -- live).forall(n => !onDisk(n)),
      "untagged generation's segments must be reclaimed")
    assert(snap2.dvs.values.forall(n => !onDisk(n)),
      "untagged generation's vectors must be reclaimed")
    intercept[Exception](
      iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'audit-2026q3'")
        .collect())
    // the clone is UNAFFECTED: independent history, hard-linked bytes
    assert(iso.table("tc.ns.aud").count() == 90)
  }

  test("create_index: ivf and lsh persist gseg index tables; guards " +
      "stay loud") {
    val (iso, wh) = dml("annidx")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.vec " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT) USING gseg")
    val vecs = (0L until 64L).map(i => (i,
      Array.tabulate(8)(j => ((i * 7 + j * 3) % 13).toFloat - 6f),
      (i % 3).toInt))
    vecs.toDF("vec_id", "embedding", "label")
      .repartition(2).writeTo("tc.ns.vec").append()
    // ivf: centroid + assignment tables, exactly one row per vector
    val r = iso.sql("CALL tc.create_index('ns.vec', 'embedding', " +
      "'vec_id', method => 'ivf', cells => 4)").head()
    assert(r.getString(2) == "ns.vec__idx_embedding_assign")
    assert(r.getInt(3) == 4 && r.getLong(4) == 64L)
    assert(iso.table("tc.ns.vec__idx_embedding_cent").count() == 4)
    val assign = iso.table("tc.ns.vec__idx_embedding_assign")
    assert(assign.count() == 64)
    assert(assign.select($"cid").distinct().count() <= 4)
    // assignments are the nearest-centroid verdicts of the PERSISTED
    // centroids (recompute and compare sets)
    val cents = iso.table("tc.ns.vec__idx_embedding_cent")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val fresh = graft.functions.Ivf.assignOn(
      iso.table("tc.ns.vec").select($"vec_id".as("_1"),
        transform($"embedding", x => x.cast("double")).as("_2"))
        .as[(Long, Array[Double])], cents)
    assert(assign.collect().map(_.toSeq).toSet ==
      fresh.collect().map(_.toSeq).toSet)
    // lsh over a second table: deterministic buckets, no plane table
    iso.sql("CREATE TABLE tc.ns.vec2 " +
      "(vec_id BIGINT, embedding ARRAY<FLOAT>) USING gseg")
    vecs.map(v => (v._1, v._2)).toDF("vec_id", "embedding")
      .writeTo("tc.ns.vec2").append()
    val r2 = iso.sql("CALL tc.create_index('ns.vec2', 'embedding', " +
      "'vec_id', method => 'lsh', cells => 12)").head()
    assert(r2.getLong(4) == 64L)
    val buckets = iso.table("tc.ns.vec2__idx_embedding_assign")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    vecs.foreach { case (id, v, _) =>
      assert(buckets(id) ==
        graft.functions.Ivf.lshBucketOf(v.map(_.toDouble), 12)) }
    // the index REGISTERS on the table: SHOW TBLPROPERTIES reveals it
    assert(iso.sql("SHOW TBLPROPERTIES tc.ns.vec").collect()
      .exists(r => r.getString(0) == "gseg.index.embedding" &&
        r.getString(1) == "ivf:4"))
    // a second index on the same column is loud until drop_index
    intercept[Exception](iso.sql(
      "CALL tc.create_index('ns.vec', 'embedding', 'vec_id')"))
    // drop_index removes tables + registration; droppable, rebuildable
    val dr = iso.sql("CALL tc.drop_index('ns.vec', 'embedding')").head()
    assert(dr.getString(2) == "ivf:4")
    intercept[Exception](iso.table("tc.ns.vec__idx_embedding_assign"))
    assert(!iso.sql("SHOW TBLPROPERTIES tc.ns.vec").collect()
      .exists(_.getString(0).startsWith("gseg.index.")))
    intercept[Exception](
      iso.sql("CALL tc.drop_index('ns.vec', 'embedding')"))
    iso.sql("CALL tc.create_index('ns.vec', 'embedding', 'vec_id', " +
      "method => 'ivf', cells => 4)")
    assert(iso.table("tc.ns.vec__idx_embedding_assign").count() == 64)
    // guards: non-vector column, missing key, unknown method, silly
    // cell counts — all loud
    intercept[Exception](iso.sql(
      "CALL tc.create_index('ns.vec', 'label', 'vec_id')"))
    intercept[Exception](iso.sql(
      "CALL tc.create_index('ns.vec', 'embedding', 'nope')"))
    intercept[Exception](iso.sql(
      "CALL tc.create_index('ns.vec', 'embedding', 'vec_id', " +
        "method => 'hnsw')"))
    intercept[Exception](iso.sql(
      "CALL tc.create_index('ns.vec', 'embedding', 'vec_id', " +
        "cells => 0)"))
  }

  test("set_clustering evolves the spec for NEW segments only; each " +
      "file prunes under its own layout") {
    val (iso, wh) = dml("specevolve")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k1 BIGINT, k2 BIGINT, v DOUBLE) " +
      "USING gseg PARTITIONED BY (k1)")
    // half A under identity(k1): single-k1 files, tight k1 zone maps
    iso.range(0, 2000)
      .select(($"id" % 13).as("k1"), ($"id" % 11).as("k2"),
        ($"id" * 1.0).as("v"))
      .writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    val before = SegManifest.read(dir).get._2.toSet
    val r0 = iso.sql("CALL tc.set_clustering('ns.t', 'k2')").head()
    assert(r0.getString(1) == "k1" && r0.getString(2) == "k2")
    // pure metadata: not one file rewritten
    assert(SegManifest.read(dir).get._2.toSet == before)
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster
      == Seq("k2"))
    // half B lays out under identity(k2)
    iso.range(2000, 4000)
      .select(($"id" % 13).as("k1"), ($"id" % 11).as("k2"),
        ($"id" * 1.0).as("v"))
      .writeTo("tc.ns.t").append()
    assert(iso.table("tc.ns.t").count() == 4000)
    // a k1 predicate prunes the OLD files under THEIR layout...
    graft.Counters.drain()
    assert(iso.table("tc.ns.t").filter($"k1" === 5L).count() ==
      (0 until 4000).count(_ % 13 == 5))
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c1")
    // ...and a k2 predicate prunes the NEW files under theirs
    graft.Counters.drain()
    assert(iso.table("tc.ns.t").filter($"k2" === 7L).count() ==
      (0 until 4000).count(_ % 11 == 7))
    val c2 = graft.Counters.drain()
    assert(c2.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c2")
    // INCREMENTAL migration (only_mismatched): only the old-layout
    // files rewrite; files already conforming to the declared spec
    // stay byte-SHARED (their names survive the swap)
    val preNames = SegManifest.read(dir).get._2.toSet
    val conforming = preNames.filter(n =>
      SegSource.fileConformsTo(Seq("k2"), s"$dir/$n"))
    assert(conforming.nonEmpty && conforming != preNames,
      "fixture must be genuinely mixed")
    iso.sql("CALL tc.compact('ns.t', 4, only_mismatched => true)")
    val postNames = SegManifest.read(dir).get._2.toSet
    assert(conforming.subsetOf(postNames),
      "conforming files must stay shared by name")
    assert((preNames -- conforming).forall(n => !postNames.contains(n)),
      "every mismatched file must be replaced")
    // post-migration the scan recovers the identity(k2) layout WHOLE
    // and reports KeyGroupedPartitioning — pruning moves from the
    // per-file zone grain (mixed table) to the key-GROUP grain
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster
      == Seq("k2"))
    graft.Counters.drain()
    assert(iso.table("tc.ns.t").filter($"k2" === 7L).count() ==
      (0 until 4000).count(_ % 11 == 7))
    val c3 = graft.Counters.drain()
    assert(c3.getOrElse("gseg_key_groups", 0L) > 0,
      s"post-migration scan must recover the NEW layout whole: $c3")
    // a second migration pass is a NO-OP: everything conforms, no
    // commit happens (idempotent maintenance, never a rolling rewrite)
    val genAfter = SegManifest.read(dir).get._1
    iso.sql("CALL tc.compact('ns.t', 4, only_mismatched => true)")
    assert(SegManifest.read(dir).get._1 == genAfter,
      "an all-conforming pass must not commit")
    // guards: unknown column is loud; '' drops the clustering
    intercept[Exception](
      iso.sql("CALL tc.set_clustering('ns.t', 'nope')"))
    iso.sql("CALL tc.set_clustering('ns.t', '')")
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster
      .isEmpty)
  }

  test("only_mismatched respects deletion vectors: rewritten files " +
      "shed masks by re-encoding, shared files keep theirs") {
    val (iso, wh) = dml("mismatchdv")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k1 BIGINT, k2 BIGINT, v DOUBLE) " +
      "USING gseg PARTITIONED BY (k1) " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    val dir = s"$wh/ns/t"
    // half A under k1, then a mor DELETE vectors the A files
    iso.range(0, 1000)
      .select(($"id" % 5).as("k1"), ($"id" % 7).as("k2"),
        ($"id" * 1.0).as("v"))
      .writeTo("tc.ns.t").append()
    iso.sql("DELETE FROM tc.ns.t WHERE v < 50.0")
    // spec evolves to k2; half B lands k2-keyed, then a mor DELETE
    // vectors SOME B files too
    iso.sql("CALL tc.set_clustering('ns.t', 'k2')")
    iso.range(1000, 2000)
      .select(($"id" % 5).as("k1"), ($"id" % 7).as("k2"),
        ($"id" * 1.0).as("v"))
      .writeTo("tc.ns.t").append()
    iso.sql("DELETE FROM tc.ns.t WHERE v >= 1950.0")
    val expect = (0 until 2000).map(_ * 1.0)
      .count(x => x >= 50.0 && x < 1950.0)
    assert(iso.table("tc.ns.t").count() == expect)
    val m0 = SegManifest.readManifest(dir).get
    val conforming = m0.names.filter(n =>
      SegSource.fileConformsTo(Seq("k2"), s"$dir/$n")).toSet
    val sharedDvs = m0.dvs.filter { case (seg, _) =>
      conforming.contains(seg) }
    assert(sharedDvs.nonEmpty, "fixture: a conforming file must carry " +
      s"a vector (dvs=${m0.dvs}, conforming=$conforming)")
    iso.sql("CALL tc.compact('ns.t', 4, only_mismatched => true)")
    val m1 = SegManifest.readManifest(dir).get
    // shared files keep their masks — same segment, same vector
    sharedDvs.foreach { case (seg, dv) =>
      assert(m1.names.contains(seg) && m1.dvs.get(seg).contains(dv),
        s"shared vectored file $seg must keep $dv (got ${m1.dvs.get(seg)})")
    }
    // rewritten files shed theirs by re-encoding the masked read: no
    // replacement segment carries a vector, and not one masked row
    // resurrected
    val rewritten = m1.names.toSet -- m0.names.toSet
    assert(rewritten.nonEmpty && rewritten.forall(n => !m1.dvs.contains(n)))
    assert(iso.table("tc.ns.t").count() == expect)
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getDouble(0) ==
      (0 until 2000).map(_ * 1.0).filter(x => x >= 50.0 && x < 1950.0).sum)
  }

  test("writable branches: WAP write-audit-publish with main " +
      "byte-untouched until fast_forward") {
    val (iso, wh) = dml("wap")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v DOUBLE) USING gseg")
    iso.sql("INSERT INTO tc.ns.t SELECT id, id * 1.0 FROM range(0, 50)")
    val dir = s"$wh/ns/t"
    val manifest = java.nio.file.Paths.get(dir, ".manifest")
    // fork: one sidecar line, zero data movement
    val fk = iso.sql("CALL tc.branch('ns.t', 'wap')").head()
    assert(fk.getString(1) == "wap" && fk.getLong(2) == 1L)
    val mainBytes = java.nio.file.Files.readAllBytes(manifest)
    // WAP mode on: writes land on the branch, READS follow it too
    // (Iceberg's spark.wap.branch read semantics — the staged data
    // audits through plain reads of the table)
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    iso.sql("INSERT INTO tc.ns.t SELECT id, id * 2.0 FROM range(50, 80)")
    // main is BYTE-identical (the WAP promise); the in-session read
    // is the branch view
    assert(java.nio.file.Files.readAllBytes(manifest)
      .sameElements(mainBytes))
    assert(iso.table("tc.ns.t").count() == 80)
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'wap'")
      .count() == 80)
    // row-level DML is BRANCH-scoped while WAP is on: the rewrite
    // scan reads the branch head and the commit advances the ref
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 75")
    assert(iso.table("tc.ns.t").count() == 75)
    assert(java.nio.file.Files.readAllBytes(manifest)
      .sameElements(mainBytes), "branch DELETE must not move main")
    // operations that can only commit to MAIN stay refused loudly
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception](iso.sql("CALL tc.compact('ns.t', 2)"))
    assert(msgs(e).exists(_.contains("wap")), msgs(e).mkString("; "))
    // a second branch append in the same cycle advances the head
    iso.sql("INSERT INTO tc.ns.t SELECT id, id * 3.0 FROM range(80, 90)")
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'wap'")
      .count() == 85)
    iso.conf.unset(SegManifest.WapBranchConf)
    // out of WAP mode, the table reads MAIN again — still pre-branch
    assert(iso.table("tc.ns.t").count() == 50)
    // audit passed: publish = ONE pointer swap
    val ff = iso.sql("CALL tc.fast_forward('ns.t', 'wap')").head()
    assert(ff.getLong(2) == 1L && ff.getLong(3) == 4L)
    assert(iso.table("tc.ns.t").count() == 85)
    assert(iso.table("tc.ns.t").agg(sum($"v")).head().getDouble(0) ==
      (0 until 50).map(_ * 1.0).sum + (50 until 75).map(_ * 2.0).sum +
        (80 until 90).map(_ * 3.0).sum)
    // history records the published generations and labels the branch
    val hist = iso.sql("CALL tc.history('ns.t')").collect()
    assert(hist.map(_.getLong(0)).toSet.contains(4L))
    assert(hist.filter(_.getLong(0) == 4L)
      .exists(_.getString(6).contains("wap(branch)")))
    // ---- staged-but-unpublished branches survive vacuum ----
    iso.sql("CALL tc.branch('ns.t', 'audit2')")
    iso.conf.set(SegManifest.WapBranchConf, "audit2")
    iso.sql("INSERT INTO tc.ns.t SELECT id, 0.5 FROM range(90, 95)")
    iso.conf.unset(SegManifest.WapBranchConf)
    val staged = SegManifest.refs(dir)("audit2")._1
    val stagedNames =
      SegManifest.readSnapshotManifest(dir, staged).get.names.toSet
    iso.sql("CALL tc.vacuum('ns.t', keep_last => 1)")
    assert(stagedNames.forall(n => java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, n))),
      "branch-staged segments must survive vacuum")
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 'audit2'")
      .count() == 90)
    // ---- audit failed: drop the branch, vacuum reclaims ----
    iso.sql("CALL tc.drop_branch('ns.t', 'audit2')")
    iso.sql("CALL tc.vacuum('ns.t', keep_last => 1)")
    val liveNames = SegManifest.read(dir).get._2.toSet
    assert((stagedNames -- liveNames).forall(n =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n))),
      "dropped branch's staged segments must be reclaimed")
    assert(iso.table("tc.ns.t").count() == 85) // main never saw them
    // ---- non-fast-forward publish is loud ----
    iso.sql("CALL tc.branch('ns.t', 'slow')")
    iso.conf.set(SegManifest.WapBranchConf, "slow")
    iso.sql("INSERT INTO tc.ns.t SELECT id, 1.0 FROM range(100, 105)")
    iso.conf.unset(SegManifest.WapBranchConf)
    iso.sql("INSERT INTO tc.ns.t SELECT id, 1.0 FROM range(200, 205)")
    val e2 = intercept[Exception](
      iso.sql("CALL tc.fast_forward('ns.t', 'slow')"))
    assert(msgs(e2).exists(_.contains("fast-forward")),
      msgs(e2).mkString("; "))
    // ---- ref-name guards share the tag rules ----
    intercept[Exception](iso.sql("CALL tc.branch('ns.t', '123')"))
    intercept[Exception](iso.sql("CALL tc.branch('ns.t', 'slow')"))
    intercept[Exception](iso.sql("CALL tc.tag('ns.t', 'slow')"))
  }

  test("DECIMAL widens ACROSS the 18-digit long/int128 tag boundary " +
      "metadata-only, exact at wei scale") {
    val (iso, wh) = dml("widen38")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, wei DECIMAL(18,0)) " +
      "USING gseg")
    // gen 1: tag-8 long blocks near the top of the long range
    iso.sql("INSERT INTO tc.ns.t VALUES " +
      "(1, CAST(999999999999999999 AS DECIMAL(18,0))), " +
      "(2, CAST(-1 AS DECIMAL(18,0)))")
    val dir = s"$wh/ns/t"
    val before = SegManifest.read(dir).get._2.toSet
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN wei TYPE DECIMAL(38,0)")
    // crossing 18 digits is STILL pure metadata — no file rewritten
    assert(SegManifest.read(dir).get._2.toSet == before)
    assert(iso.table("tc.ns.t").schema("wei").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    // gen 2: tag-11 int128 blocks at wei scale (8.4e25: the
    // reference's own contract-balance magnitude)
    iso.sql("INSERT INTO tc.ns.t VALUES " +
      "(3, CAST('84000000000000000000000000' AS DECIMAL(38,0)))")
    // the SUM spans tag-8 and tag-11 files: old longs promote at the
    // decode seam, and the result is exact where double would lose
    // low digits (84000001000000000000000000 minus the -1)
    assert(iso.table("tc.ns.t").agg(sum($"wei")).head()
      .getDecimal(0).compareTo(new java.math.BigDecimal(
        "84000000999999999999999998")) == 0)
    // header MIN/MAX merges tag-8 long stats with tag-11 string
    // stats, each promoted to the current DECIMAL(38,0)
    val mm = iso.table("tc.ns.t").agg(min($"wei"), max($"wei")).head()
    assert(mm.getDecimal(0).compareTo(new java.math.BigDecimal("-1")) == 0)
    assert(mm.getDecimal(1).compareTo(new java.math.BigDecimal(
      "84000000000000000000000000")) == 0)
    // DML across the boundary: the copy-on-write rewrite re-encodes
    // the touched pre-widen file as tag 11 under the current type
    iso.sql("DELETE FROM tc.ns.t WHERE k = 2")
    assert(iso.table("tc.ns.t").agg(sum($"wei")).head()
      .getDecimal(0).compareTo(new java.math.BigDecimal(
        "84000000999999999999999999")) == 0)
    // VERSION AS OF pre-widen serves the OLD 18-digit type
    assert(iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1")
      .schema("wei").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 0))
  }

  test("identity clustering on a DECIMAL(38) key: tag-11 string stats " +
      "recover the layout, SPJ stays zero-exchange") {
    val (iso, wh) = dml("dec38spj")
    import iso.implicits._
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // two tables identity-clustered on the same wei-scale key domain
    Seq("a", "b").foreach { t =>
      iso.sql(s"CREATE TABLE tc.ns.$t (wei DECIMAL(38,0), v DOUBLE) " +
        "USING gseg PARTITIONED BY (wei)")
      iso.range(0, 300)
        .select((concat(lit("1000000000000000000000000"),
            lpad(($"id" % 7).cast("string"), 1, "0"))
          .cast("decimal(38,0)")).as("wei"),
          ($"id" * 1.0).as("v"))
        .writeTo(s"tc.ns.$t").append()
    }
    // the keyed writer split runs per wei value; recovery reads the
    // tag-11 unscaled-decimal string stats (min == max per file)
    graft.Counters.drain()
    val j = iso.table("tc.ns.a").join(iso.table("tc.ns.b"), "wei")
    val perKey = (0 until 300).groupBy(_ % 7).view.mapValues(_.size)
    assert(j.count() == perKey.values.map(n => n.toLong * n).sum)
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_key_groups", 0L) > 0,
      s"decimal38 identity layout must recover: $c")
    // zero-exchange: no SHUFFLE in the joined plan (SPJ aligned)
    j.count() // settle AQE
    val shuffles = j.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"decimal38 SPJ must be shuffle-free:\n${
        j.queryExecution.executedPlan}")
  }

  test("ALTER COLUMN TYPE widens FLOAT to DOUBLE and DECIMAL precision") {
    val (iso, wh) = dml("widen2")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, f FLOAT, d DECIMAL(7,2)) " +
      "USING gseg")
    // gen 1: FLOAT + DECIMAL(7,2) blocks (dyadic values: exact at
    // every width, so cross-generation sums are bit-reproducible)
    iso.sql("INSERT INTO tc.ns.t VALUES " +
      "(1, CAST(1.25 AS FLOAT), CAST(10.50 AS DECIMAL(7,2))), " +
      "(2, CAST(2.75 AS FLOAT), CAST(20.25 AS DECIMAL(7,2)))")
    val dir = s"$wh/ns/t"
    val before = SegManifest.read(dir).get._2.toSet
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN f TYPE DOUBLE")
    iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN d TYPE DECIMAL(12,2)")
    // pure metadata: no segment rewritten by either ALTER
    assert(SegManifest.read(dir).get._2.toSet == before)
    assert(iso.table("tc.ns.t").schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(iso.table("tc.ns.t").schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    // gen 2: DOUBLE + DECIMAL(12,2) blocks; 9999999999.25 overflows
    // DECIMAL(7,2)'s 5 integer digits
    iso.sql("INSERT INTO tc.ns.t VALUES " +
      "(3, CAST(4.5 AS DOUBLE), CAST(9999999999.25 AS DECIMAL(12,2)))")
    // the aggregate SPANS generations: stored float/narrow-decimal
    // blocks promote at the decode seam
    assert(iso.table("tc.ns.t").agg(sum($"f")).head().getDouble(0) ==
      1.25 + 2.75 + 4.5)
    assert(iso.table("tc.ns.t").agg(sum($"d")).head()
      .getDecimal(0).compareTo(new java.math.BigDecimal("10000000030.00"))
      == 0)
    // header-agg pushdown promotes stored stats to the current types
    assert(iso.table("tc.ns.t").agg(min($"f"), max($"d")).head() ==
      org.apache.spark.sql.Row(1.25d,
        new java.math.BigDecimal("9999999999.25")))
    // zone maps prune across the mixed-width files (float stats are
    // exact double bits; decimal stats unscaled longs at one scale)
    graft.Counters.drain()
    assert(iso.table("tc.ns.t").filter($"f" > 3.0d).count() == 1)
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c1")
    assert(iso.table("tc.ns.t")
      .filter($"d" > new java.math.BigDecimal("100.00")).count() == 1)
    val c2 = graft.Counters.drain()
    assert(c2.getOrElse("gseg_files_skipped", 0L) > 0, s"counters: $c2")
    // VERSION AS OF the pre-widen generation serves the OLD types
    val old = iso.sql("SELECT * FROM tc.ns.t VERSION AS OF 1")
    assert(old.schema("f").dataType ==
      org.apache.spark.sql.types.FloatType)
    assert(old.schema("d").dataType ==
      org.apache.spark.sql.types.DecimalType(7, 2))
    assert(old.agg(sum($"f")).head().getDouble(0) == 1.25 + 2.75)
    // DML across the widen boundary: the copy-on-write rewrite
    // re-encodes pre-widen blocks under the CURRENT types
    iso.sql("DELETE FROM tc.ns.t WHERE k = 2")
    assert(iso.table("tc.ns.t").agg(sum($"f")).head().getDouble(0) ==
      1.25 + 4.5)
    // guards: narrowing and scale changes stay loud (precision past
    // 18 is legal since tag 11 — SegDmlSpec's decimal38 test covers
    // the boundary crossing)
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN f TYPE FLOAT"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN d TYPE DECIMAL(14,4)"))
    intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.t ALTER COLUMN d TYPE DECIMAL(22,4)"))
  }

  test("compact(target_bytes) rewrites only small segments, shares the rest") {
    val (iso, wh) = dml("sizecompact")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    // 2 LARGE segments (~120 KB each: 100 rows x ~1.2 KB payload)
    iso.range(0, 200)
      .select($"id".as("k"), concat(lit("x" * 1200),
        $"id".cast("string")).as("p"))
      .repartition(2)
      .write.format("gseg").mode("overwrite").save(dir)
    iso.table("tc.ns.t").count() // manifest
    // 20 SMALL segments in one append commit
    iso.range(200, 220)
      .select($"id".as("k"), $"id".cast("string").as("p"))
      .repartition(20)
      .createOrReplaceTempView("graft_small_src")
    iso.sql("INSERT INTO tc.ns.t SELECT k, p FROM graft_small_src")
    val before = SegManifest.read(dir).get._2
    val large = before.filter(n =>
      java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/$n")) >=
        50000)
    assert(large.size == 2 && before.size >= 20)
    graft.Counters.drain()
    val row = iso.sql(
      "CALL tc.compact('ns.t', target_bytes => 50000)").head()
    val c = graft.Counters.drain()
    assert(c.getOrElse("gseg_compact_shared", -1L) == 2L)
    assert(c.getOrElse("gseg_compact_rewritten", -1L) ==
      (before.size - 2).toLong)
    val afterNames = SegManifest.read(dir).get._2
    // the large files' NAMES survive — shared with the previous
    // generation, never rewritten
    assert(large.forall(afterNames.contains))
    // the smalls merged into one cmp- segment
    assert(afterNames.count(_.startsWith("cmp-")) == 1)
    assert(afterNames.size == 3)
    assert(row.getLong(2) == 3L)
    // content identical
    assert(iso.table("tc.ns.t").count() == 220)
    assert(iso.table("tc.ns.t").agg(sum($"k")).head().getLong(0) ==
      (0L until 220L).sum)
    // vacuum reclaims the replaced smalls; the shared larges SURVIVE
    val reclaimed = SegManifest.vacuum(dir)
    assert(large.forall(n => !reclaimed.contains(n)))
    assert(reclaimed.size >= 20)
    assert(iso.table("tc.ns.t").count() == 220)
    // a second size-aware pass is a no-op (one small file left)
    val again = iso.sql(
      "CALL tc.compact('ns.t', target_bytes => 50000)").head()
    assert(again.getLong(1) == again.getLong(2))
  }

  test("rebase: main advances mid-WAP, the branch re-applies and " +
      "publishes BOTH changes; a both-sides file rewrite conflicts " +
      "loudly") {
    val (iso, wh) = dml("rebase")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v DOUBLE) USING gseg")
    iso.range(0, 100).select($"id".as("k"), $"id".cast("double").as("v"))
      .repartition(4).writeTo("tc.ns.t").append()
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    // stage on the branch: drop the k%10=6 class
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 6")
    finally iso.conf.unset(SegManifest.WapBranchConf)
    // a foreign committer advances MAIN mid-audit (disjoint files)
    iso.range(100, 120).select($"id".as("k"), $"id".cast("double").as("v"))
      .repartition(2).writeTo("tc.ns.t").append()
    // not a fast-forward any more — refused with the rebase remedy
    val e = intercept[Exception](
      iso.sql("CALL tc.fast_forward('ns.t', 'wap')").collect())
    assert(e.getMessage.contains("rebase"))
    val rb = iso.sql("CALL tc.rebase('ns.t', 'wap')").head()
    assert(rb.getLong(2) < rb.getLong(3), "base must re-point at live")
    // audit the REBASED head through WAP reads: both sides visible
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try {
      assert(iso.table("tc.ns.t").count() == 110) // 90 + 20
      assert(iso.table("tc.ns.t").filter($"k" === 96).count() == 0)
      assert(iso.table("tc.ns.t").filter($"k" === 106).count() == 1)
    } finally iso.conf.unset(SegManifest.WapBranchConf)
    // now a fast-forward again — publish carries both changes
    iso.sql("CALL tc.fast_forward('ns.t', 'wap')")
    val t = iso.table("tc.ns.t")
    assert(t.count() == 110)
    assert(t.filter($"k" % 10 === 6).collect().map(_.getLong(0)).toSet ==
      Set(106L, 116L), "pre-fork %10=6 rows gone, post-fork ones kept")
    assert(t.agg(org.apache.spark.sql.functions.sum($"v")).head()
      .getDouble(0) == (0 until 120).map(_.toDouble).sum -
        (0 until 100).filter(_ % 10 == 6).map(_.toDouble).sum)
    // idempotent shape: rebase with main at base is a no-op
    val noop = iso.sql("CALL tc.rebase('ns.t', 'wap')").head()
    assert(noop.getLong(2) == noop.getLong(3))
    // CONFLICT: branch rewrites files that main ALSO rewrites — the
    // staged row edits were computed against replaced bytes
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 1")
    finally iso.conf.unset(SegManifest.WapBranchConf)
    iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 2") // main-side rewrite
    val c = intercept[Exception](
      iso.sql("CALL tc.rebase('ns.t', 'wap')").collect())
    assert(c.getMessage.contains("lost-update"),
      s"wrong conflict message: ${c.getMessage}")
    // the refusal left refs intact: drop the audit, main is healthy
    iso.sql("CALL tc.drop_branch('ns.t', 'wap')")
    assert(iso.table("tc.ns.t").filter($"k" % 10 === 1).count() > 0)
  }

  test("rebase carries the branch's deletion vectors onto main's " +
      "appends; a branch dv vs main rewrite of the same file " +
      "conflicts") {
    val (iso, wh) = dml("rebasedv")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v DOUBLE) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(0, 100).select($"id".as("k"), $"id".cast("double").as("v"))
      .repartition(4).writeTo("tc.ns.t").append()
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    // branch: a MERGE-ON-READ delete — dv-only lineage step, every
    // carried file keeps its name
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 6")
    finally iso.conf.unset(SegManifest.WapBranchConf)
    // main appends fresh files: file-disjoint from the dv change
    iso.range(100, 120).select($"id".as("k"), $"id".cast("double").as("v"))
      .repartition(2).writeTo("tc.ns.t").append()
    iso.sql("CALL tc.rebase('ns.t', 'wap')")
    iso.sql("CALL tc.fast_forward('ns.t', 'wap')")
    val t = iso.table("tc.ns.t")
    assert(t.count() == 110, "vectors must carry through the rebase")
    assert(t.filter($"k" === 96).count() == 0)
    assert(t.filter($"k" === 106).count() == 1)
    // CONFLICT: branch re-vectors a file main REWRITES (cow delete
    // sheds names) — the branch's ordinals address replaced bytes
    iso.sql("ALTER TABLE tc.ns.t SET TBLPROPERTIES(" +
      "'gseg.delete.mode'='merge_on_read')")
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 1")
    finally iso.conf.unset(SegManifest.WapBranchConf)
    iso.sql("ALTER TABLE tc.ns.t SET TBLPROPERTIES(" +
      "'gseg.delete.mode'='copy_on_write')")
    iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 2") // main cow rewrite
    val c = intercept[Exception](
      iso.sql("CALL tc.rebase('ns.t', 'wap')").collect())
    assert(c.getMessage.contains("lost-update"))
  }

  test("metadata tables: files is WAP-aware and dv-truthful, refs " +
      "lists lineage, a REAL table named 'files' shadows the view") {
    val (iso, wh) = dml("metatables")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v DOUBLE) USING gseg " +
      "TBLPROPERTIES('gseg.delete.mode'='merge_on_read')")
    iso.range(0, 100).select($"id".as("k"), $"id".cast("double").as("v"))
      .repartition(4).writeTo("tc.ns.t").append()
    iso.sql("DELETE FROM tc.ns.t WHERE k % 10 = 7")
    // files: stored-minus-masked equals the live count; dv flagged
    val f = iso.table("tc.ns.t.files").collect()
    assert(f.map(_.getLong(1)).sum == 100L)
    assert(f.map(r => r.getLong(1) - r.getLong(2)).sum == 90L)
    assert(f.exists(_.getBoolean(4)), "dv files must flag has_dv")
    assert(f.forall(_.getLong(3) > 0L), "bytes must be real sizes")
    // WAP-aware: a branch append shows in the session's files view,
    // main's listing unchanged
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try {
      iso.range(100, 110).select($"id".as("k"),
        $"id".cast("double").as("v")).coalesce(1)
        .writeTo("tc.ns.t").append()
      val fw = iso.table("tc.ns.t.files").collect()
      assert(fw.map(r => r.getLong(1) - r.getLong(2)).sum == 100L,
        "WAP session must list the branch head's files")
    } finally iso.conf.unset(SegManifest.WapBranchConf)
    assert(iso.table("tc.ns.t.files").collect()
      .map(r => r.getLong(1) - r.getLong(2)).sum == 90L)
    // refs: the branch with its lineage length, plus a tag
    iso.sql("CALL tc.tag('ns.t', 'pin')")
    val refs = iso.table("tc.ns.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4))).toSet
    assert(refs == Set(("wap", "branch", 1L), ("pin", "tag", 0L)))
    // snapshots: exactly one row is live (= main's pointer), and the
    // branch head — committed ABOVE the main pointer — is listed too
    val sn = iso.table("tc.ns.t.snapshots").collect()
    assert(sn.count(_.getBoolean(3)) == 1)
    val liveGen = SegManifest.read(s"$wh/ns/t").get._1
    assert(sn.filter(_.getBoolean(3)).head.getLong(0) == liveGen)
    val headGen = SegManifest.refs(s"$wh/ns/t")("wap")._1
    assert(headGen > liveGen &&
      sn.exists(r => r.getLong(0) == headGen && !r.getBoolean(3)),
      "the staged branch head must be visible as a retained snapshot")
    // the view names are RESERVED under an existing parent: creating
    // a real table there is refused loudly (already-exists), never
    // silently shadowed...
    intercept[Exception](
      iso.sql("CREATE TABLE tc.ns.t.files (x BIGINT) USING gseg"))
    // ...but a PRE-EXISTING real directory at the name (made by path
    // writes before the parent was ever a table) wins the resolution
    SegSource.write(iso.range(0, 3).select($"id".as("x")),
      s"$wh/ns/t/files")
    assert(iso.table("tc.ns.t.files").columns.toSeq == Seq("x"),
      "a real table must shadow the metadata view")
    // a bare NAMESPACE is never a parent: cat.ns.files with no table
    // named ns fails loudly, and CREATE of a plain table named
    // 'files' in a namespace stays legal
    intercept[Exception](iso.table("tc.ns.files").collect())
    iso.sql("CREATE TABLE tc.ns.files (y BIGINT) USING gseg")
    assert(iso.table("tc.ns.files").columns.toSeq == Seq("y"))
  }
}
