package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r15 clustering surfaces: string/date IDENTITY keys (the read side
  * r14's string zone maps built), `bucket(n, col)` transforms
  * (FunctionCatalog-resolved, v4 header stamps), layout survival
  * under DML, the guards, and the v4 NDV sketch statistics. */
class SegClusterSpec extends SparkSpec {

  private def dml(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_clusterspec_$tag").toString
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
  private def hasSmj(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst {
      case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
    }.isDefined

  test("STRING identity layout: keyed writes join without an exchange") {
    val (iso, _) = dml("sid")
    val dA = graft.Fs.fastTempDir("graft_sidA").toString
    val dB = graft.Fs.fastTempDir("graft_sidB").toString
    val left = iso.range(1000).select(
      concat(lit("grp-"), (col("id") % 8).cast("string")).as("g"),
      col("id").as("v"))
    val right = iso.range(400).select(
      concat(lit("grp-"), (col("id") % 8).cast("string")).as("g"),
      (col("id") * 2).as("w"))
    left.write.format("gseg").option(SegSource.PartitionColOption, "g")
      .mode("overwrite").save(dA)
    right.write.format("gseg").option(SegSource.PartitionColOption, "g")
      .mode("overwrite").save(dB)
    // one single-value segment per key (v3 string stats prove it)
    assert(SegSource.listSegments(dA).size == 8)
    SegSource.listSegments(dA).foreach { f =>
      val c = SegSource.headerOf(f).cols.find(_.name == "g").get
      assert(c.minStr.isDefined && c.minStr == c.maxStr)
    }
    val a = iso.read.format("gseg")
      .option(SegSource.PartitionColOption, "g").load(dA)
    val b = iso.read.format("gseg")
      .option(SegSource.PartitionColOption, "g").load(dB)
    val j = a.join(b, "g")
    assert(hasSmj(j), "expected a sort-merge join")
    assert(shuffles(j) == 0,
      s"string-keyed SPJ still shuffled:\n${j.queryExecution.executedPlan}")
    assert(j.count() == 1000L * 400 / 8)
  }

  test("DATE identity layout: keyed writes join without an exchange") {
    val (iso, _) = dml("did")
    val dA = graft.Fs.fastTempDir("graft_didA").toString
    val dB = graft.Fs.fastTempDir("graft_didB").toString
    val day0 = lit(java.sql.Date.valueOf("2024-01-01"))
    iso.range(1000).select(
      date_add(day0, (col("id") % 5).cast("int")).as("d"), col("id").as("v"))
      .write.format("gseg").option(SegSource.PartitionColOption, "d")
      .mode("overwrite").save(dA)
    iso.range(300).select(
      date_add(day0, (col("id") % 5).cast("int")).as("d"),
      (col("id") * 2).as("w"))
      .write.format("gseg").option(SegSource.PartitionColOption, "d")
      .mode("overwrite").save(dB)
    val j = iso.read.format("gseg")
      .option(SegSource.PartitionColOption, "d").load(dA)
      .join(iso.read.format("gseg")
        .option(SegSource.PartitionColOption, "d").load(dB), "d")
    assert(shuffles(j) == 0,
      s"date-keyed SPJ still shuffled:\n${j.queryExecution.executedPlan}")
    assert(j.count() == 1000L * 300 / 5)
  }

  test("non-ASCII string key degrades the layout whole — never wrongly") {
    val (iso, _) = dml("nonascii")
    val dA = graft.Fs.fastTempDir("graft_naA").toString
    // one key value is non-ASCII: its files carry NO string stats
    // (the v3 ASCII-exactness precondition), so the scan must drop
    // the declared layout for the WHOLE table — a partial key would
    // advertise a partitioning the files don't hold
    iso.range(100).select(
      when(col("id") % 2 === 0, lit("café")).otherwise(lit("plain")).as("g"),
      col("id").as("v"))
      .write.format("gseg").option(SegSource.PartitionColOption, "g")
      .mode("overwrite").save(dA)
    val a = iso.read.format("gseg")
      .option(SegSource.PartitionColOption, "g").load(dA)
    val j = a.groupBy("g").agg(count(lit(1)).as("n"))
    // results stay right; the grouping simply shuffles
    assert(j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("café" -> 50L, "plain" -> 50L))
    val scan = a.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.scan.asInstanceOf[SegScan]
    }.get
    assert(scan.outputPartitioning().isInstanceOf[
      org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
  }

  test("bucket(n, col): catalog tables SPJ exchange-free, DML survives") {
    val (iso, wh) = dml("bkt")
    iso.sql("CREATE TABLE tc.ns.a (k BIGINT, v BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.sql("CREATE TABLE tc.ns.b (k BIGINT, w BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("graft_bkt_a")
    iso.range(500).select(col("id").as("k"), (col("id") * 7).as("w"))
      .createOrReplaceTempView("graft_bkt_b")
    iso.sql("INSERT INTO tc.ns.a SELECT k, v FROM graft_bkt_a")
    iso.sql("INSERT INTO tc.ns.b SELECT k, w FROM graft_bkt_b")
    // the writer stamped each segment's bucket id into the v4 header
    val stamps = SegSource.listSegments(s"$wh/ns/a")
      .flatMap(f => SegSource.headerOf(f).props.get("bucket.k"))
    assert(stamps.nonEmpty && stamps.forall(_.startsWith("8:")))
    assert(stamps.map(_.stripPrefix("8:").toInt).toSet == (0 until 8).toSet)
    def j = iso.table("tc.ns.a").join(iso.table("tc.ns.b"), "k")
    assert(hasSmj(j) && shuffles(j) == 0,
      s"bucketed SPJ still shuffled:\n${j.queryExecution.executedPlan}")
    assert(j.count() == 500)
    // high-cardinality DML: the rewrite re-declares the bucket
    // distribution, so the layout survives copy-on-write
    iso.sql("DELETE FROM tc.ns.a WHERE k % 10 = 3")
    iso.sql("UPDATE tc.ns.a SET v = v + 1 WHERE k = 11")
    assert(shuffles(j) == 0,
      s"layout lost after DML:\n${j.queryExecution.executedPlan}")
    assert(j.count() == (0L until 500L).count(_ % 10 != 3))
    assert(j.agg(sum(col("v"))).head().getLong(0) ==
      (0L until 500L).filter(_ % 10 != 3).map(_ * 3).sum + 1)
    // Delta/Iceberg-style observability: the declared transform
    assert(iso.table("tc.ns.a").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }.isDefined)
  }

  test("bucket(n, col) on a STRING key") {
    val (iso, wh) = dml("bkts")
    iso.sql("CREATE TABLE tc.ns.s (name STRING, v BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(4, name))")
    iso.range(400).select(
      concat(lit("user-"), col("id").cast("string")).as("name"),
      col("id").as("v")).createOrReplaceTempView("graft_bkts_src")
    iso.sql("INSERT INTO tc.ns.s SELECT name, v FROM graft_bkts_src")
    val stamps = SegSource.listSegments(s"$wh/ns/s")
      .flatMap(f => SegSource.headerOf(f).props.get("bucket.name"))
    assert(stamps.map(_.stripPrefix("4:").toInt).toSet.subsetOf(
      (0 until 4).toSet) && stamps.nonEmpty)
    // string hashing agrees between writer and the V2 function
    val fn = SegBucketFunction(org.apache.spark.sql.types.StringType)
    SegSource.listSegments(s"$wh/ns/s").foreach { f =>
      val h = SegSource.headerOf(f)
      val id = h.props("bucket.name").stripPrefix("4:").toInt
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](4,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            h.cols.find(_.name == "name").get.minStr.get)))
      assert(fn.produceResult(row) == id)
    }
    assert(iso.table("tc.ns.s").count() == 400)
  }

  test("clustering guards: bad transforms, drops, renames, duplicates") {
    val (iso, _) = dml("guards")
    // unsupported transform / type rejected loudly
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.g1 (k BIGINT, v DOUBLE) USING gseg " +
        "PARTITIONED BY (bucket(8, v))"))
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.g2 (k BIGINT, v DOUBLE) USING gseg " +
        "PARTITIONED BY (v)")) // identity over DOUBLE: no provable stats
    // a temporal transform over a non-temporal column (days(ts)
    // itself is first-class since r15 — SegTemporalSpec)
    intercept[Exception](iso.sql(
      "CREATE TABLE tc.ns.g3 (k BIGINT, t TIMESTAMP) USING gseg " +
        "PARTITIONED BY (days(k))"))
    // DROP of a bucketed clustering column rejected; RENAME follows
    iso.sql("CREATE TABLE tc.ns.g4 (k BIGINT, v BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(4, k))")
    iso.sql("INSERT INTO tc.ns.g4 VALUES (1, 10), (2, 20)")
    val e = intercept[Exception](
      iso.sql("ALTER TABLE tc.ns.g4 DROP COLUMN k"))
    assert(e.getMessage.contains("clustering"))
    iso.sql("ALTER TABLE tc.ns.g4 RENAME COLUMN k TO key")
    assert(iso.table("tc.ns.g4").select(sum(col("key"))).head().getLong(0)
      == 3L)
    // the spec in the sidecar renamed INSIDE the bucket transform,
    // and new writes keep stamping under the new name
    iso.sql("INSERT INTO tc.ns.g4 VALUES (3, 30)")
    val dir = iso.table("tc.ns.g4").queryExecution.optimizedPlan
    assert(SegMeta.read(java.nio.file.Paths.get(
      iso.conf.get("spark.sql.catalog.tc.warehouse") + "/ns/g4"))
      .get.settings.cluster == Seq("bucket(4,key)"))
  }

  test("v4 NDV sketches: header HLLs merge to table-level distinct counts") {
    import spark.implicits._
    val dir = graft.Fs.fastTempDir("graft_ndv").toString
    // 10k rows, known cardinalities: k has 10k distinct, g has 97,
    // s has 1000 distinct strings; spread over 8 files so the
    // estimate must MERGE per-file registers
    spark.range(10000).select(
      col("id").as("k"),
      (col("id") % 97).as("g"),
      concat(lit("s"), (col("id") % 1000).cast("string")).as("s"))
      .repartition(8)
      .write.format("gseg").mode("overwrite").save(dir)
    val schema = spark.read.format("gseg").load(dir).schema
    val scan = SegScan(dir, schema, Array.empty, None)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == 10000L)
    val byName = st.columnStats().asInstanceOf[java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]]
    def ndv(n: String): Long = {
      val e = byName.entrySet().iterator()
      while (e.hasNext) {
        val kv = e.next()
        if (kv.getKey.fieldNames()(0) == n) {
          assert(kv.getValue.distinctCount().isPresent)
          return kv.getValue.distinctCount().getAsLong
        }
      }
      fail(s"no column stats for $n")
    }
    // p=10 HLL: ~3.2% standard error; allow 10%
    assert(math.abs(ndv("k") - 10000.0) / 10000.0 < 0.10, s"k ndv=${ndv("k")}")
    assert(math.abs(ndv("g") - 97.0) / 97.0 < 0.10, s"g ndv=${ndv("g")}")
    assert(math.abs(ndv("s") - 1000.0) / 1000.0 < 0.10, s"s ndv=${ndv("s")}")
    // a LEGACY (v2) file in the set contributes no sketch: claiming an
    // NDV from the others would undercount — the column reports none
    val legacy = s"$dir/legacy.gseg"
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    o.write(Array[Byte]('G', 'S', 'E', 'G')); o.writeByte(2)
    o.writeInt(1); o.writeInt(3)
    for (nm <- Seq("k", "g", "s")) {
      val b = nm.getBytes("UTF-8")
      o.writeInt(b.length); o.write(b)
      if (nm == "s") { // string col: 1 bitmap byte + len + 2 bytes
        o.writeByte(3); o.writeLong(1 + 4 + 2); o.writeLong(0); o.writeByte(0)
      } else {
        o.writeByte(0); o.writeLong(1 + 8); o.writeLong(0)
        o.writeByte(1); o.writeLong(424242L); o.writeLong(424242L)
      }
    }
    o.writeByte(0); o.writeLong(424242L) // k block
    o.writeByte(0); o.writeLong(424242L) // g block
    o.writeByte(0); o.writeInt(2); o.write("zz".getBytes("UTF-8")) // s block
    o.flush()
    java.nio.file.Files.write(java.nio.file.Paths.get(legacy), bo.toByteArray)
    // a file is in the table only once a generation names it
    SegManifest.swap(dir, SegManifest.read(dir).get._2 :+ "legacy.gseg")
    val st2 = SegScan(dir, schema, Array.empty, None).estimateStatistics()
    val it = st2.columnStats().entrySet().iterator()
    while (it.hasNext) {
      val kv = it.next()
      assert(!kv.getValue.distinctCount().isPresent,
        s"${kv.getKey.fieldNames()(0)} must decline NDV over a legacy file")
    }
    assert(st2.numRows().getAsLong == 10001L) // rows stay exact
  }

  test("CBO sees gseg NDV: catalyst attribute stats carry distinctCount") {
    val (iso, _) = dml("cbo")
    iso.conf.set("spark.sql.cbo.enabled", "true")
    val dir = graft.Fs.fastTempDir("graft_cbo").toString
    iso.range(5000).select(col("id").as("k"), (col("id") % 13).as("dim"))
      .write.format("gseg").mode("overwrite").save(dir)
    val df = iso.read.format("gseg").load(dir)
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }.get
    val stats = rel.computeStats()
    val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
    assert(byName.contains("dim"), s"no attribute stats: $stats")
    val ndv = byName("dim").distinctCount.get.toLong
    assert(math.abs(ndv - 13.0) / 13.0 < 0.20, s"dim ndv=$ndv")
  }

  test("compact keeps bucket layouts via cluster_local writes") {
    val (iso, wh) = dml("bktcmp")
    iso.sql("CREATE TABLE tc.ns.a (k BIGINT, v BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.sql("CREATE TABLE tc.ns.b (k BIGINT, w BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.range(500).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("graft_bc_a")
    iso.range(300).select(col("id").as("k"), (col("id") * 7).as("w"))
      .createOrReplaceTempView("graft_bc_b")
    iso.sql("INSERT INTO tc.ns.a SELECT k, v FROM graft_bc_a WHERE k < 250")
    iso.sql("INSERT INTO tc.ns.a SELECT k, v FROM graft_bc_a WHERE k >= 250")
    iso.sql("INSERT INTO tc.ns.b SELECT k, w FROM graft_bc_b")
    val before = SegSource.resolveSegments(s"$wh/ns/a").size
    assert(before > 8, s"two commits should fragment: $before files")
    // compact a BUCKET-clustered table: the rewrite cannot declare the
    // bucket distribution on its path-based tmp write (no
    // FunctionCatalog there — pinned below), so it runs cluster_local:
    // coalesce bounds tasks, the writer's flush sort forms the
    // single-bucket stamped runs, and the layout SURVIVES maintenance
    iso.sql("CALL tc.compact('ns.a', 1)")
    val after = SegSource.resolveSegments(s"$wh/ns/a")
    assert(after.size <= 8, s"expected <= 8 single-bucket files: $after")
    after.foreach { f =>
      val h = SegSource.headerOf(f)
      assert(h.props.get("bucket.k").exists(_.startsWith("8:")),
        s"unstamped compacted segment $f: ${h.props}")
    }
    def j = iso.table("tc.ns.a").join(iso.table("tc.ns.b"), "k")
    assert(hasSmj(j) && shuffles(j) == 0,
      s"bucket SPJ lost after compact:\n${j.queryExecution.executedPlan}")
    assert(j.count() == 300)
    assert(iso.table("tc.ns.a").count() == 500)
    // path-based bucket writes: cluster_local works; without it the
    // bucket transform is unresolvable and must fail LOUDLY (pins the
    // Spark behavior the compact workaround exists for)
    val d2 = graft.Fs.fastTempDir("graft_pbw").toString
    iso.range(50).select(col("id").as("k"))
      .write.format("gseg")
      .option(SegSource.PartitionColOption, "bucket(4,k)")
      .option(SegSource.ClusterLocalOption, "true")
      .mode("overwrite").save(d2)
    SegSource.listSegments(d2).foreach { f =>
      assert(SegSource.headerOf(f).props.contains("bucket.k"))
    }
    assert(iso.read.format("gseg").load(d2).count() == 50)
    intercept[Exception](iso.range(10).select(col("id").as("k"))
      .write.format("gseg")
      .option(SegSource.PartitionColOption, "bucket(4,k)")
      .mode("overwrite").save(graft.Fs.fastTempDir("graft_pbw2").toString))
  }

  test("reported stats drive join planning: a small gseg dim broadcasts") {
    // the CBO surface end-to-end at PLAN level: the scan's
    // estimateStatistics (exact rows, pruned bytes, v4 NDV) is what
    // Spark's join sizing reads — a small gseg dimension must come in
    // UNDER the broadcast threshold with no hint, while the big side
    // stays the probe side. (Without reported stats a V2 relation
    // defaults to sizeInBytes=MaxValue and NOTHING ever broadcasts.)
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    val dBig = graft.Fs.fastTempDir("graft_bc_big").toString
    val dDim = graft.Fs.fastTempDir("graft_bc_dim").toString
    iso.range(200000)
      .select(col("id").as("k"), (col("id") % 13).as("dim_id"),
        col("id").cast("string").as("payload"))
      .repartition(4)
      .write.format("gseg").mode("overwrite").save(dBig)
    iso.range(13).select(col("id").as("dim_id"),
      concat(lit("d"), col("id").cast("string")).as("name"))
      .write.format("gseg").mode("overwrite").save(dDim)
    val j = iso.read.format("gseg").load(dBig)
      .join(iso.read.format("gseg").load(dDim), "dim_id")
    val bhj = j.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.isDefined,
      s"small dim did not broadcast:\n${j.queryExecution.executedPlan}")
    assert(j.count() == 200000L)
    // and the optimizer-visible NDV on the dim key is the real 13
    iso.conf.set("spark.sql.cbo.enabled", "true")
    val rel = iso.read.format("gseg").load(dDim)
      .queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      }.get
    val ndv = rel.computeStats().attributeStats
      .map { case (a, s) => a.name -> s }.apply("dim_id")
      .distinctCount.get.toLong
    assert(math.abs(ndv - 13.0) / 13.0 < 0.20, s"dim_id ndv=$ndv")
  }

  test("CALL compact(cluster_by) re-keys a table's layout in place") {
    val (iso, wh) = dml("recluster")
    // partner tables to prove each layout with a zero-exchange join
    iso.sql("CREATE TABLE tc.ns.pid (k BIGINT, w BIGINT) USING gseg " +
      "PARTITIONED BY (k)")
    iso.sql("CREATE TABLE tc.ns.pbk (k BIGINT, u BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.range(200).select((col("id") % 10).as("k"), col("id").as("w"))
      .createOrReplaceTempView("graft_rc_pid")
    iso.range(300).select(col("id").as("k"), col("id").as("u"))
      .createOrReplaceTempView("graft_rc_pbk")
    iso.sql("INSERT INTO tc.ns.pid SELECT k, w FROM graft_rc_pid")
    iso.sql("INSERT INTO tc.ns.pbk SELECT k, u FROM graft_rc_pbk")
    // the subject table starts UNCLUSTERED (plain path write)
    val dir = s"$wh/ns/t"
    iso.range(300).select((col("id") % 10).as("k"), (col("id") * 2).as("v"))
      .repartition(3)
      .write.format("gseg").mode("overwrite").save(dir)
    iso.table("tc.ns.t").count() // migrate: manifest + sidecar
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster.isEmpty)

    // 1. re-cluster to IDENTITY(k): persisted, SPJ-able, DML-durable
    iso.sql("CALL tc.compact('ns.t', cluster_by => 'k')")
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster ==
      Seq("k"))
    def jId = iso.table("tc.ns.t").join(iso.table("tc.ns.pid"), "k")
    assert(hasSmj(jId) && shuffles(jId) == 0,
      s"identity re-cluster not SPJ-able:\n${jId.queryExecution.executedPlan}")
    assert(jId.count() == 300L * 20) // 30 rows per k-class x 20 partner
    iso.sql("DELETE FROM tc.ns.t WHERE k = 7")
    assert(shuffles(jId) == 0, "layout must survive DML after re-cluster")
    assert(jId.count() == 270L * 20)

    // 2. re-cluster to BUCKET(8, k): stamps + bucket SPJ
    iso.sql("CALL tc.compact('ns.t', cluster_by => 'bucket(8,k)')")
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster ==
      Seq("bucket(8,k)"))
    SegSource.resolveSegments(dir).foreach { f =>
      assert(SegSource.headerOf(f).props.get("bucket.k")
        .exists(_.startsWith("8:")), s"unstamped $f")
    }
    def jBk = iso.table("tc.ns.t").join(iso.table("tc.ns.pbk"), "k")
    assert(hasSmj(jBk) && shuffles(jBk) == 0,
      s"bucket re-cluster not SPJ-able:\n${jBk.queryExecution.executedPlan}")
    assert(jBk.count() == 270L) // k in 0..9 minus 7: 9 classes x 30 dups? no:
    // pbk holds k = 0..299 unique, t holds 270 rows with k in 0..9\{7} —
    // each t row matches exactly one pbk row

    // 3. DE-cluster: empty spec clears the layout
    iso.sql("CALL tc.compact('ns.t', cluster_by => '')")
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster.isEmpty)
    assert(iso.table("tc.ns.t").count() == 270)

    // guards
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', cluster_by => 'missing')"))
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', cluster_by => 'v, v')"))
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', cluster_by => 'k', target_bytes => 1000)"))
  }

  test("bucket-grain pruning: point lookups open only the value's bucket") {
    val (iso, wh) = dml("bktprune")
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT, v BIGINT) USING gseg " +
      "PARTITIONED BY (bucket(8, k))")
    iso.range(2000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("graft_bp_src")
    iso.sql("INSERT INTO tc.ns.t SELECT k, v FROM graft_bp_src")
    val t = iso.table("tc.ns.t")
    // present key: exactly one row; 7 of 8 groups provably empty
    graft.Counters.drain()
    assert(t.filter(col("k") === 1234L).count() == 1)
    val c1 = graft.Counters.drain()
    assert(c1.getOrElse("gseg_bucket_groups_pruned", 0L) >= 7L,
      s"counters: $c1")
    // absent key: zero rows, same pruning (the bucket is opened and
    // the row grain kills — a bloom would close even that; different
    // tool, s41)
    graft.Counters.drain()
    assert(t.filter(col("k") === 999999L).count() == 0)
    assert(graft.Counters.drain()
      .getOrElse("gseg_bucket_groups_pruned", 0L) >= 7L)
    // IN over two keys: at most their two buckets open
    graft.Counters.drain()
    assert(t.filter(col("k").isin(10L, 1500L)).count() == 2)
    assert(graft.Counters.drain()
      .getOrElse("gseg_bucket_groups_pruned", 0L) >= 6L)
    // range predicates cannot bucket-prune (hash layout): conservative
    assert(t.filter(col("k") < 100L).count() == 100)
  }

  test("zorder re-layout file-prunes on BOTH dimensions; appends stay " +
      "z-clustered; DML preserves the declared layout") {
    val (iso, wh) = dml("zorder")
    import iso.implicits._
    iso.sql("CREATE TABLE tc.ns.t (x BIGINT, y BIGINT, v DOUBLE) " +
      "USING gseg")
    // a 128x128 grid: after a SINGLE-column sort (the overwrite
    // below arrives x-ordered), every file spans the full y domain —
    // the second dimension cannot prune at all
    iso.range(0, 128 * 128)
      .select(($"id" / 128).cast("bigint").as("x"), ($"id" % 128).as("y"),
        ($"id" * 0.5).as("v"))
      .orderBy($"x").repartitionByRange(16, $"x")
      .writeTo("tc.ns.t").append()
    val dir = s"$wh/ns/t"
    def skipped(f: => Long): Long = {
      graft.Counters.drain()
      f
      graft.Counters.drain().getOrElse("gseg_files_skipped", 0L)
    }
    val t = () => iso.table("tc.ns.t")
    // x-sorted layout: x prunes, y cannot (each file holds every y)
    assert(skipped(t().filter($"x" === 7L).count()) > 0)
    assert(skipped(t().filter($"y" === 7L).count()) == 0,
      "x-sorted files should span the whole y domain")
    // re-lay in z-order
    iso.sql("CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,y)')")
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster ==
      Seq("zorder(x,y)"), "the declared layout must persist")
    assert(t().count() == 128L * 128L)
    assert(t().agg(sum($"v")).head().getDouble(0) ==
      (0 until 128 * 128).map(_ * 0.5).sum)
    // the z-laid table prunes on EITHER dimension
    val sx = skipped(t().filter($"x" === 7L).count())
    val sy = skipped(t().filter($"y" === 7L).count())
    assert(sx > 0, "first dimension must still prune under zorder")
    assert(sy > 0, "SECOND dimension must prune under zorder — " +
      "the whole point of the layout")
    // point lookups on both dims keep very few files (z-locality)
    val sxy = skipped(
      t().filter($"x" === 7L && $"y" === 7L).count())
    assert(sxy >= sx.max(sy), s"2-dim filter prunes at least as much " +
      s"($sxy vs $sx/$sy)")
    // appends ride the declared layout: the task writer Morton-sorts
    // its buffer, so new segments are z-clustered too (locally)
    iso.range(0, 256)
      .select(lit(200L).as("x"), ($"id" % 128).as("y"),
        lit(1.0).as("v"))
      .repartition(1).writeTo("tc.ns.t").append()
    assert(t().count() == 128L * 128L + 256L)
    // DML under the zorder layout: rewrite succeeds, layout spec
    // survives, answers stay right
    iso.sql("DELETE FROM tc.ns.t WHERE x = 200")
    assert(t().count() == 128L * 128L)
    assert(SegMeta.read(java.nio.file.Paths.get(dir)).get.settings.cluster ==
      Seq("zorder(x,y)"))
    // guards: zorder is sole, two distinct int columns
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,y),x')"))
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,x)')"))
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,v)')"))
    intercept[Exception](iso.sql(
      "CALL tc.compact('ns.t', 16, cluster_by => 'zorder(x,nope)')"))
    // dropping a z-component would orphan the declared layout
    intercept[Exception](iso.sql("ALTER TABLE tc.ns.t DROP COLUMN y"))
    // widening one is FINE (morton is over values, not types) —
    // pinned in SegInterplaySpec's zorder+widen case
  }
}
