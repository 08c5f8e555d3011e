package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The consumable changefeed surface (SegCdf): batch read options and
  * the adversarial cases the driver rows don't exercise — append
  * fast-path evidence, clusterCols key fallback, unchanged-row
  * suppression, duplicate-key degradation, loud error shapes. */
class SegCdfSpec extends SparkSpec {
  import org.apache.spark.sql.SparkSession

  private def dml(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_cdfspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    (iso, wh)
  }

  private def feed(iso: SparkSession, dir: String, from: Long, to: Long,
      keys: Option[String] = Some("k")) = {
    var r = iso.read.format("gseg")
      .option(SegCdf.FromOption, from.toString)
      .option(SegCdf.ToOption, to.toString)
    keys.foreach(k => r = r.option(SegCdf.KeysOption, k))
    r.load(dir)
  }

  test("batch changefeed read: per-commit classes with _commit_generation") {
    val (iso, wh) = dml("batch")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(
      iso.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(4, $"k"), dir)
    iso.table("tc.ns.t").count() // gen 0
    iso.sql("UPDATE tc.ns.t SET v = v + 1 WHERE k >= 80")   // gen 1
    iso.sql("DELETE FROM tc.ns.t WHERE k >= 90")            // gen 2
    iso.sql("INSERT INTO tc.ns.t VALUES (200, 7), (201, 8)") // gen 3
    val f = feed(iso, dir, 1, 3).cache()
    try {
      // per-commit classes: gen1 updates 20 keys, gen2 deletes 10
      // (carrying the UPDATED values), gen3 inserts 2
      def cls(t: String) = f.filter($"_change_type" === t)
      assert(cls("update_preimage").count() == 20)
      assert(cls("update_postimage").count() == 20)
      assert(cls("delete").count() == 10)
      assert(cls("insert").count() == 2)
      assert(cls("update_preimage").agg(min($"_commit_generation"),
        max($"_commit_generation")).head() match {
        case r => r.getLong(0) == 1 && r.getLong(1) == 1
      })
      assert(cls("delete").agg(min($"_commit_generation")).head()
        .getLong(0) == 2)
      assert(cls("insert").agg(min($"_commit_generation")).head()
        .getLong(0) == 3)
      // deleted rows carry the post-gen1 values: v = 2k+1
      assert(cls("delete").filter($"v" =!= $"k" * 2 + 1).count() == 0)
      // unchanged rewrite-carried rows emit NOTHING: keys < 80 never
      // appear even though their files may have been rewritten
      assert(f.filter($"k" < 80 && $"_change_type" =!= "insert")
        .count() == 0)
      // from=0 includes the creation commit as inserts
      assert(feed(iso, dir, 0, 0)
        .filter($"_change_type" === "insert").count() == 100)
    } finally f.unpersist()
  }

  test("append commits take the no-join fast path; DML steps bucket") {
    val (iso, wh) = dml("fastpath")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 50).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count() // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1)") // gen 1: pure append
    graft.Counters.drain()
    assert(feed(iso, dir, 1, 1).count() == 1)
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_cdf_append_files", 0L) >= 1)
    assert(c1.getOrElse("gseg_cdf_diff_steps", 0L) == 0,
      s"append must not run the bucketed diff: $c1")
    iso.sql("DELETE FROM tc.ns.t WHERE k = 5") // gen 2: change commit
    graft.Counters.drain()
    assert(feed(iso, dir, 2, 2).collect()
      .map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("delete", 5L)))
    // the plan may materialize more than once; what's pinned is that
    // the bucketed diff ran at all for a change commit
    val c2 = graft.Counters.drain()
    assert(c2.getOrElse("gseg_cdf_diff_steps", 0L) >= 1, s"$c2")
  }

  test("keys fall back to the declared clustering; keyless fails loudly") {
    val (iso, wh) = dml("keys")
    import iso.implicits._
    iso.range(0, 40).select($"id".as("k"), ($"id" % 4).as("v"))
      .createOrReplaceTempView("graft_cdfk_src")
    iso.sql("CREATE TABLE tc.ns.t USING gseg PARTITIONED BY (k) " +
      "AS SELECT k, v FROM graft_cdfk_src")
    val dir = s"$wh/ns/t"
    iso.sql("UPDATE tc.ns.t SET v = v + 10 WHERE k = 3")
    // no changefeed_keys option: the PARTITIONED BY column serves
    val f = feed(iso, dir, 1, 1, keys = None)
    assert(f.filter($"_change_type" === "update_postimage").count() == 1)
    // an unclustered table without the option fails loudly
    val dir2 = s"$wh/ns/u"
    SegSource.write(iso.range(0, 5).select($"id".as("k")), dir2)
    iso.table("tc.ns.u").count()
    val e = intercept[Exception](
      iso.read.format("gseg").option(SegCdf.FromOption, "0")
        .load(dir2).count())
    assert(e.getMessage.contains("no key columns") ||
      Option(e.getCause).exists(_.getMessage.contains("no key columns")))
    // a bogus key column fails loudly too
    val e2 = intercept[Exception](
      feed(iso, dir, 1, 1, keys = Some("nope")).count())
    assert(e2.getMessage.contains("not in the schema") ||
      Option(e2.getCause).exists(_.getMessage.contains("not in the schema")))
  }

  test("duplicate keys degrade to multiset matching, never wrong pairings") {
    val (iso, wh) = dml("dups")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    // key 1 appears TWICE with different payloads (uniqueness
    // contract violated on purpose)
    Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("k", "v")
      .coalesce(1).write.format("gseg").mode("overwrite").save(dir)
    iso.table("tc.ns.t").count() // gen 0
    iso.sql("DELETE FROM tc.ns.t WHERE v = 11") // gen 1 rewrites the file
    val f = feed(iso, dir, 1, 1)
    // one of key 1's two rows is gone: the diff must emit exactly one
    // delete (v=11) and nothing else — the carried (1,10) and (2,20)
    // match away as unchanged
    assert(f.collect().map(r => (r.getString(2), r.getLong(1))).toSeq
      .sorted == Seq(("delete", 11L)))
  }

  test("timestamp bounds resolve by the embedded commit clock") {
    val (iso, wh) = dml("ts")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 10).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count()                   // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1)") // gen 1
    iso.sql("INSERT INTO tc.ns.t VALUES (101, 2), (102, 3)") // gen 2
    // pin the three commit clocks to known instants (line 3 of the
    // v3 snapshot body; the live manifest is not consulted —
    // listSnapshots reads snapshots)
    def pinClock(g: Long, ms: Long): Unit = {
      val p = java.nio.file.Paths.get(dir, s".manifest.v$g")
      val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
      lines(2) = ms.toString
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    }
    pinClock(0, 1000L); pinClock(1, 2000L); pinClock(2, 3000L)
    // [1500, 2500] → exactly generation 1's commit (Delta's
    // starting/endingTimestamp semantics: at-or-after / at-or-before)
    val f = iso.read.format("gseg")
      .option(SegCdf.FromTimestampOption, "1500")
      .option(SegCdf.ToTimestampOption, "2500")
      .option(SegCdf.KeysOption, "k")
      .load(dir)
    assert(f.collect().map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("insert", 100L)))
    // _commit_timestamp carries the EMBEDDED clock of the change's
    // generation (micros of the pinned 2000 ms)
    assert(f.select(unix_micros(col("_commit_timestamp"))).head()
      .getLong(0) == 2000L * 1000L)
    // out-of-range timestamps fail loudly, not silently empty
    val e = intercept[Exception](iso.read.format("gseg")
      .option(SegCdf.FromTimestampOption, "99999")
      .option(SegCdf.KeysOption, "k").load(dir).count())
    assert(e.getMessage.contains("at or after") ||
      Option(e.getCause).exists(_.getMessage.contains("at or after")))
  }

  test("_commit_timestamp filter pushdown skips whole commits at " +
      "plan time") {
    val (iso, wh) = dml("tspush")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 10).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count()                   // gen 0
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1)") // gen 1
    iso.sql("INSERT INTO tc.ns.t VALUES (101, 2)") // gen 2
    def pinClock(g: Long, ms: Long): Unit = {
      val p = java.nio.file.Paths.get(dir, s".manifest.v$g")
      val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
      lines(2) = ms.toString
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    }
    pinClock(0, 1000L); pinClock(1, 2000L); pinClock(2, 3000L)
    // the whole range planned, but a _commit_timestamp bound excludes
    // generations 0 and 2 AT PLAN TIME — their steps never open
    graft.Counters.clear()
    val f = iso.read.format("gseg")
      .option(SegCdf.FromOption, "0").option(SegCdf.ToOption, "2")
      .option(SegCdf.KeysOption, "k")
      .load(dir)
      .filter(col("_commit_timestamp") >=
        lit(new java.sql.Timestamp(1500L)) &&
        col("_commit_timestamp") <= lit(new java.sql.Timestamp(2500L)))
    assert(f.collect().map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("insert", 100L)))
    assert(graft.Counters.peek("gseg_cdf_steps_skipped") +
      graft.Counters.peek("gseg_cdf_gens_skipped") >= 2L,
      "the ts-excluded generations must be skipped at plan time")
  }

  test("streaming startingVersion skips the initial snapshot") {
    val (iso, wh) = dml("sver")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 50).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count()                   // gen 0 (50 rows)
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1)") // gen 1
    iso.sql("INSERT INTO tc.ns.t VALUES (101, 2)") // gen 2
    val base = graft.Fs.fastTempDir("graft_cdf_sver").toString
    try {
      val q = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .option(SegCdf.ReadChangefeedOption, "true")
        .option(SegCdf.FromOption, "1")
        .option(SegCdf.KeysOption, "k")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out").start()
      try q.processAllAvailable() finally q.stop()
      val out = iso.read.parquet(s"$base/out")
      // generations 1 and 2 only — the 50-row initial snapshot must
      // NOT appear (Delta's startingVersion contract)
      assert(out.count() == 2)
      assert(out.select("k").collect().map(_.getLong(0)).toSet ==
        Set(100L, 101L))
      assert(out.filter(col("_change_type") =!= "insert").count() == 0)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("changefeed across a RENAME COLUMN serves current names") {
    val (iso, wh) = dml("ren")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(
      iso.range(0, 20).select($"id".as("k"), ($"id" * 2).as("v"))
        .repartitionByRange(2, $"k"), dir)
    iso.table("tc.ns.t").count() // gen 0 stores blocks under 'v'
    iso.sql("ALTER TABLE tc.ns.t RENAME COLUMN v TO w")
    iso.sql("UPDATE tc.ns.t SET w = w + 100 WHERE k >= 15") // gen 1
    // the diff reads gen-0 files (stored name 'v') and gen-1 files
    // (stored name 'w') through the alias-resolved headers; the
    // change frame speaks the CURRENT name
    val f = feed(iso, dir, 1, 1)
    assert(f.columns.contains("w") && !f.columns.contains("v"))
    val pre = f.filter($"_change_type" === "update_preimage")
    val post = f.filter($"_change_type" === "update_postimage")
    assert(pre.count() == 5 && post.count() == 5)
    // pre-images carry the values stored under the OLD name
    assert(pre.agg(sum($"w")).head().getLong(0) ==
      (15L until 20L).map(_ * 2).sum)
    assert(post.agg(sum($"w")).head().getLong(0) ==
      (15L until 20L).map(_ * 2 + 100).sum)
  }

  test("max_gens_per_trigger drains deep history as bounded batches") {
    val (iso, wh) = dml("admit")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 10).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count() // gen 0
    (1 to 3).foreach(i =>
      iso.sql(s"INSERT INTO tc.ns.t VALUES (${100 + i}, $i)")) // gens 1-3
    val base = graft.Fs.fastTempDir("graft_cdf_admit").toString
    try {
      val q = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .option(SegCdf.ReadChangefeedOption, "true")
        .option(SegCdf.KeysOption, "k")
        .option(SegCdf.MaxGensPerTriggerOption, "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out").start()
      try q.processAllAvailable() finally q.stop()
      val out = iso.read.parquet(s"$base/out")
      // everything arrives (the engine keeps triggering to latest)...
      assert(out.count() == 13)
      // ...but the capped catch-up: the initial snapshot pinned to
      // the EARLIEST admissible generation (0, not live), and each
      // later commit in its own batch — 4 distinct generations
      assert(out.select("_commit_generation").distinct().count() == 4)
      assert(out.filter(col("_commit_generation") === 0).count() == 10)
      // the file-level generation stream honors the same cap
      val q2 = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .option(SegCdf.MaxGensPerTriggerOption, "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt2")
        .option("path", s"$base/out2").start()
      try q2.processAllAvailable() finally q2.stop()
      assert(iso.read.parquet(s"$base/out2").count() == 13)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("changefeed past the retention window fails loudly") {
    val (iso, wh) = dml("ret")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 30).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count()
    iso.sql("DELETE FROM tc.ns.t WHERE k < 10")  // gen 1
    iso.sql("DELETE FROM tc.ns.t WHERE k < 20")  // gen 2
    SegManifest.vacuum(dir) // retires gens 0 and 1
    val e = intercept[Exception](feed(iso, dir, 1, 2).count())
    assert(e.getMessage.contains("not retained") ||
      Option(e.getCause).exists(_.getMessage.contains("not retained")))
  }

  test("capped stream's initial snapshot clamps to a RETAINED generation") {
    val (iso, wh) = dml("clamp")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 10).select($"id".as("k"), $"id".as("v")),
      dir)
    iso.table("tc.ns.t").count() // gen 0
    iso.range(20, 25).select($"id".as("k"), $"id".as("v"))
      .write.format("gseg").mode("overwrite").save(dir) // gen 1 (CHANGE)
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1)") // gen 2
    iso.sql("INSERT INTO tc.ns.t VALUES (101, 2)") // gen 3
    SegManifest.vacuum(dir) // gen 0's replaced files reclaim -> v0 retired
    assert(SegManifest.readSnapshot(dir, 0).isEmpty, "gen 0 retired")
    assert(SegManifest.readSnapshot(dir, 1).isDefined, "gen 1 retained")
    // with max_gens_per_trigger=1 and no starting bound, the first
    // admitted offset would be generation 0 — vacuumed. The clamp
    // pins the initial snapshot to the earliest RETAINED generation
    // (1) instead of failing a stream an uncapped one would start
    // (ADVICE r14), and the later commits still drain per-batch.
    val base = graft.Fs.fastTempDir("graft_cdf_clamp").toString
    try {
      val q = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .option(SegCdf.ReadChangefeedOption, "true")
        .option(SegCdf.KeysOption, "k")
        .option(SegCdf.MaxGensPerTriggerOption, "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out").start()
      try q.processAllAvailable() finally q.stop()
      val out = iso.read.parquet(s"$base/out")
      assert(out.count() == 7) // 5 snapshot inserts + 2 appends
      assert(out.select("_commit_generation").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
      assert(out.filter(col("_change_type") =!= "insert").count() == 0)
      // the file-level generation stream takes the same clamp
      val q2 = iso.readStream.format("gseg")
        .schema(iso.table("tc.ns.t").schema)
        .option(SegCdf.MaxGensPerTriggerOption, "1")
        .load(dir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$base/ckpt2")
        .option("path", s"$base/out2").start()
      try q2.processAllAvailable() finally q2.stop()
      assert(iso.read.parquet(s"$base/out2").count() == 7)
    } finally graft.Fs.deleteRecursively(base)
  }

  test("CDF pruning: pruned insert reads, class and generation skipping") {
    val (iso, wh) = dml("prune")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    SegSource.write(iso.range(0, 40)
      .select($"id".as("k"), $"id".as("v"), ($"id" * 2).as("w"),
        $"id".cast("string").as("s"))
      .repartitionByRange(4, $"k"), dir)
    iso.table("tc.ns.t").count()                        // gen 0
    iso.sql("UPDATE tc.ns.t SET v = v + 100 WHERE k >= 30") // gen 1
    iso.sql("DELETE FROM tc.ns.t WHERE k < 5")              // gen 2
    iso.sql("INSERT INTO tc.ns.t VALUES (100, 1, 2, 'x')")  // gen 3
    def feed = iso.read.format("gseg")
      .schema(iso.table("tc.ns.t").schema)
      .option(SegCdf.FromOption, "1").option(SegCdf.ToOption, "3")
      .option(SegCdf.KeysOption, "k").load(dir)
    def scanOf(df: org.apache.spark.sql.DataFrame): SegCdfScan =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[SegCdfScan]
      }.get
    // COLUMN PRUNING: a 2-of-4-column consumer's scan reads 2 columns
    val pruned = feed.select($"k", $"_change_type")
    assert(scanOf(pruned).readSchema().fieldNames.toSeq ==
      Seq("k", "_change_type"))
    assert(pruned.count() == 10 + 10 + 5 + 1) // pre+post+del+ins
    // CLASS SKIPPING: a delete-only consumer never plans the gen-3
    // APPEND step (inserts only), and diff buckets materialize no
    // update pairs
    graft.Counters.drain()
    val dels = feed.filter($"_change_type" === "delete")
    assert(dels.count() == 5)
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_cdf_steps_skipped", 0L) >= 1L,
      s"counters: $c1")
    assert(dels.select("k").collect().map(_.getLong(0)).toSet ==
      (0L until 5L).toSet)
    // GENERATION SKIPPING: _commit_generation = 3 plans ONE step;
    // generations 1 and 2 are never listed
    graft.Counters.drain()
    val g3 = feed.filter($"_commit_generation" === 3)
    assert(g3.count() == 1)
    val c2 = graft.Counters.drain()
    // a cdf scan is row-only, so the action plans it once
    assert(c2.getOrElse("gseg_cdf_gens_skipped", 0L) == 2L,
      s"counters: $c2")
    assert(c2.getOrElse("gseg_cdf_diff_steps", 0L) == 0L,
      s"generations 1-2 must never be listed: $c2")
    // values survive pruning + promotion: postimages carry the update
    val post = feed.filter($"_change_type" === "update_postimage")
      .select($"v")
    assert(post.collect().map(_.getLong(0)).toSet ==
      (30L until 40L).map(_ + 100).toSet)
  }

  test("BINARY payloads classify correctly through the diff (the " +
      "array-rep normalization seam)") {
    val (iso, wh) = dml("bin")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    // payload is a BINARY column: without SegCdfDiffReader.norm the
    // identity-based Array[Byte] equality would classify EVERY
    // carried row as updated (payloadEq false) — and binary KEYS
    // would never pair at all (key-map lookups by hashCode)
    SegSource.write(
      iso.range(0, 40).select($"id".as("k"),
        encode(concat(lit("p"), $"id"), "UTF-8").as("payload"))
        .repartitionByRange(2, $"k"), dir)
    iso.table("tc.ns.t").count() // gen 0 (manifest migration)
    // gen 1: rewrite that changes 5 payloads and CARRIES the rest of
    // the touched file byte-identically
    iso.sql("UPDATE tc.ns.t SET payload = encode('changed', 'UTF-8') " +
      "WHERE k >= 35")
    val f = feed(iso, dir, 1, 1).cache()
    try {
      assert(f.filter($"_change_type" === "update_preimage").count() == 5)
      assert(f.filter($"_change_type" === "update_postimage").count() == 5)
      // carried rows of the rewritten file emit NOTHING: binary
      // payload equality is by VALUE
      assert(f.filter($"_change_type".isin("insert", "delete")).count()
        == 0)
      assert(f.filter($"_change_type" === "update_postimage")
        .select(decode($"payload", "UTF-8")).collect()
        .forall(_.getString(0) == "changed"))
    } finally { f.unpersist(); () }
  }

  test("branch changefeed: batch read walks the branch lineage with " +
      "explicit predecessors; main commits invisible; lineage " +
      "rewrite under a checkpointed offset fails loudly") {
    val (iso, wh) = dml("branch")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg")
    iso.range(0, 50).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartition(2).writeTo("tc.ns.t").append() // main gen 1
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    // branch commit A: append 50..59; then MAIN takes gen 2 (poison)
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.range(50, 60).select($"id".as("k"), ($"id" * 2).as("v"))
      .coalesce(1).writeTo("tc.ns.t").append()
    finally iso.conf.unset(SegManifest.WapBranchConf)
    iso.range(1000, 1010).select($"id".as("k"), lit(0L).as("v"))
      .coalesce(1).writeTo("tc.ns.t").append() // main-only
    // branch commit B: delete k >= 55 (branch-scoped rewrite)
    iso.conf.set(SegManifest.WapBranchConf, "wap")
    try iso.sql("DELETE FROM tc.ns.t WHERE k >= 55")
    finally iso.conf.unset(SegManifest.WapBranchConf)
    // lineage recorded: two branch commits since the fork base
    val (head, bse, chain) = SegManifest.refsFull(dir)("wap")
    assert(chain.size == 2 && chain.last == head && bse < chain.head)
    // batch read over the whole branch lineage: commit A's inserts
    // (50..59), commit B's deletes (55..59) — the main poison
    // (1000..1009) never appears, and each row carries its branch gen
    val f = iso.read.format("gseg")
      .option(SegCdf.FromOption, "0")
      .option(SegCdf.KeysOption, "k")
      .option(SegCdf.BranchOption, "wap")
      .load(dir)
      .persist()
    try {
      assert(f.filter(col("k") >= 1000).count() == 0,
        "main-only rows leaked into the branch changefeed")
      val ins = f.filter(col("_change_type") === "insert")
        .select("k").collect().map(_.getLong(0)).toSet
      assert(ins == (50L until 60L).toSet, s"inserts: $ins")
      val del = f.filter(col("_change_type") === "delete")
        .select("k").collect().map(_.getLong(0)).toSet
      assert(del == (55L until 60L).toSet, s"deletes: $del")
      assert(f.select(col(SegCdf.CommitGenCol)).distinct().collect()
        .map(_.getLong(0)).toSet == chain.toSet)
    } finally { f.unpersist(); () }
    // offsets off the current lineage fail LOUDLY after a rewrite:
    // fast_forward is refused here (main advanced), rebase rewrites
    // the chain to the single rebased commit
    val preRebase = chain.head
    iso.sql("CALL tc.rebase('ns.t', 'wap')")
    val (_, _, chain2) = SegManifest.refsFull(dir)("wap")
    assert(chain2.size == 1 && !chain2.contains(preRebase))
    val stream = new SegCdfMicroBatchStream(dir,
      iso.table("tc.ns.t").schema, Seq("k"), 2, branch = Some("wap"))
    val err = intercept[Exception](stream.planInputPartitions(
      SegGenOffset(preRebase), SegGenOffset(chain2.head)))
    assert(err.getMessage.contains("lineage"),
      s"wrong message: ${err.getMessage}")
    // post-rebase audit state: base data + branch changes + main's
    // poison rows (rebase re-applied the delta onto live)
    val audit = iso.sql("SELECT k FROM tc.ns.t VERSION AS OF 'wap'")
      .collect().map(_.getLong(0)).toSet
    assert(audit == ((0L until 55L) ++ (1000L until 1010L)).toSet)
  }

  test("branch stream admission control caps by LINEAGE STEPS (gens " +
      "are sparse on the shared number line)") {
    val (iso, wh) = dml("brcap")
    import iso.implicits._
    val dir = s"$wh/ns/t"
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")
    iso.range(0, 10).select($"id".as("k")).coalesce(1)
      .writeTo("tc.ns.t").append()
    iso.sql("CALL tc.branch('ns.t', 'wap')")
    // three branch commits, a main commit interleaving the gen line
    def stage(lo: Int, hi: Int): Unit = {
      iso.conf.set(SegManifest.WapBranchConf, "wap")
      try iso.range(lo, hi).select($"id".as("k")).coalesce(1)
        .writeTo("tc.ns.t").append()
      finally iso.conf.unset(SegManifest.WapBranchConf)
    }
    stage(10, 20)
    iso.range(500, 510).select($"id".as("k")).coalesce(1)
      .writeTo("tc.ns.t").append() // main: bumps the shared counter
    stage(20, 30); stage(30, 40)
    val (head, bse, chain) = SegManifest.refsFull(dir)("wap")
    assert(chain.size == 3)
    val st = new SegCdfMicroBatchStream(dir,
      iso.table("tc.ns.t").schema, Seq("k"), 2,
      maxGensPerTrigger = Some(1L), branch = Some("wap"))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // from the fork base, each admitted offset is the NEXT lineage
    // step — never base+1 (which may be a main-only generation)
    var off = bse
    chain.foreach { g =>
      val nxt = st.latestOffset(SegGenOffset(off),
        ReadLimit.allAvailable()).asInstanceOf[SegGenOffset].gen
      assert(nxt == g, s"admitted $nxt, expected lineage step $g")
      off = nxt
    }
    // drained: offset stays at head
    assert(st.latestOffset(SegGenOffset(off), ReadLimit.allAvailable())
      .asInstanceOf[SegGenOffset].gen == head)
    // an explicit starting bound whose numeric predecessor is a
    // MAIN-only generation still plans (the fresh-stream lo =
    // start-1 is legitimate even off the lineage)
    val st2 = new SegCdfMicroBatchStream(dir,
      iso.table("tc.ns.t").schema, Seq("k"), 2,
      startingGen = Some(chain.head), branch = Some("wap"))
    val parts = st2.planInputPartitions(
      SegGenOffset(chain.head - 1), SegGenOffset(head))
    assert(parts.nonEmpty, "starting-bound branch replay must plan")
  }
}
