package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one implementation of Spark's stored-procedure SPI for gseg:
  * every `CALL <catalog>.<name>(...)` binds to this class over its
  * [[SegProcedures.Entry]]. The shared work happens here once —
  * parameters, non-determinism (procedures read and write filesystem
  * state), argument access ([[SegProcedures.Args]]), String →
  * UTF8String output cells and the [[LocalScan]] carrying the rows. */
final class SegProcedure(cat: SegCatalog, entry: SegProcedures.Entry)
    extends UnboundProcedure {
  override def name(): String = entry.name
  override def description(): String = entry.description

  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = entry.name
      override def description(): String = entry.description
      override def parameters(): Array[ProcedureParameter] =
        entry.params.toArray
      override def isDeterministic: Boolean = false // filesystem state

      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val args = new SegProcedures.Args(entry.name, input)
        val rows = entry.body(cat, args).map { r =>
          new GenericInternalRow(r.productIterator.map {
            case s: String => UTF8String.fromString(s)
            case v => v
          }.toArray[Any]): InternalRow
        }.toArray
        java.util.List.of[Scan](SegProcedures.localScan(entry.out,
          s"gseg ${entry.name}", rows)).iterator()
      }
    }
}

/** The ordered table of gseg's table-maintenance procedures: one
  * [[Entry]] each (name, description, parameters, output schema,
  * body). [[SegCatalog]]'s `loadProcedure`, `listProcedures` and its
  * unknown-procedure error all read [[All]], so a new procedure is
  * one entry here. */
object SegProcedures {
  /** One procedure: `body` runs on the driver at `CALL` time and
    * returns its output rows as tuples of String / Long / Int /
    * Boolean cells in `out`'s column order. */
  final case class Entry(name: String, description: String,
      params: Seq[ProcedureParameter], out: StructType,
      body: (SegCatalog, Args) => Seq[Product])

  /** A call's arguments, positional in the entry's parameter order.
    * An optional argument is absent when it is null or missing from
    * the row. */
  final class Args(proc: String, input: InternalRow) {
    def string(i: Int): String = input.getUTF8String(i).toString
    def long(i: Int): Long = input.getLong(i)
    def present(i: Int): Boolean = input.numFields > i && !input.isNullAt(i)
    def optInt(i: Int): Option[Int] =
      Option.when(present(i))(input.getInt(i))
    def optLong(i: Int): Option[Long] = Option.when(present(i))(long(i))
    def optDouble(i: Int): Option[Double] =
      Option.when(present(i))(input.getDouble(i))
    def optString(i: Int): Option[String] =
      Option.when(present(i))(string(i))
    def flag(i: Int): Boolean = present(i) && input.getBoolean(i)

    /** Argument `i` as a dotted table identifier (`ns.t`, `a.b.t`).
      * Every dot-separated part must be non-empty — the split keeps
      * trailing empty parts, so `'ns.t.'` fails like `'ns..t'`. */
    def ident(i: Int, what: String): Identifier = {
      val t = string(i)
      val parts = t.split("\\.", -1)
      require(parts.forall(_.nonEmpty),
        s"gseg $proc: bad $what identifier '$t'")
      Identifier.of(parts.init, parts.last)
    }
    def table(i: Int): Identifier = ident(i, "table")
  }

  /** Driver-computed rows as a [[LocalScan]] — the result of every
    * procedure and the scan of the metadata tables
    * ([[SegMetaTable]]); Spark plans it as a LocalTableScanExec. */
  def localScan(schema: StructType, desc: String,
      data: Array[InternalRow]): LocalScan = new LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = schema
    override def description(): String = desc
  }

  private def param(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()
  private def param(name: String, t: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default).build()
  private def out(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })

  /** `CALL <catalog>.vacuum('ns.table')` → one row
    * (table STRING, reclaimed_files BIGINT). Reclaims segments
    * outside the live generation manifest: the orphans a crashed
    * commit strands on either side of its swap (staged-but-unswapped,
    * or swapped-out-but-unGC'd) plus stale staging temps. Safe at any
    * time under the single-writer contract — nothing outside the
    * manifest is reader-reachable. Driver-side by design:
    * vacuum is a metadata operation (one manifest read + one directory
    * listing + unlink of unreferenced files) — there is nothing to
    * distribute even at 100 TB, where the listing is the same one any
    * commit already pays. */
  private val vacuum = Entry("vacuum",
    "reclaim gseg segments outside the live generation manifest",
    Seq(
      param("table", StringType),
      // retention bound: keep the live generation plus the N-1 most
      // recent committed ones time-travelable; default 1 = live only
      param("keep_last", IntegerType, "1"),
      // time retention horizon: generations younger than this age
      // (by their EMBEDDED commit clock) survive regardless of
      // keep_last — operators schedule vacuum by time
      param("older_than_ms", LongType, "CAST(NULL AS BIGINT)"),
      // report-only mode: list what a real run would reclaim
      param("dry_run", BooleanType, "false")),
    out("table" -> StringType, "reclaimed_files" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val keepLast = args.optInt(1).getOrElse(1)
      val olderThan = args.optLong(2)
      val dryRun = args.flag(3)
      val dir = cat.tableDir(args.table(0))
      val reclaimed =
        SegManifest.vacuum(dir.toString, keepLast, olderThan, dryRun)
      Seq((tbl, reclaimed.size.toLong))
    })

  /** `CALL <catalog>.compact('ns.table', target_segments)` → one row
    * (table STRING, before_files BIGINT, after_files BIGINT). The
    * OPTIMIZE shape for gseg catalog tables: streaming sinks and
    * incremental DML fragment a table into many small segments — every
    * file is a task, a header parse and a listing entry, so at 100 TB a
    * million 1 MB files scan an order of magnitude slower than eight
    * thousand 128 MB ones. The rewrite is a DISTRIBUTED Spark job
    * (read the live generation → coalesce(target) — a shuffle-free
    * merge of existing partitions, one output pass — → stage as a
    * plain path-based write in a hidden temp dir), and the COMMIT is
    * the same atomic manifest swap every gseg commit uses; the
    * fragmented generation stays time-travelable until vacuum. A no-op
    * when the table already has ≤ target segments. Plain compaction
    * merges arbitrary partitions, so a table laid out for
    * storage-partitioned joins (one key value per segment) would lose
    * that layout — the scan then degrades to unknown partitioning
    * (never wrong, only shuffled). The CLUSTERED variant closes that:
    * `sort_by => 'k'` re-stages through the identity-clustered write
    * path (required distribution + in-partition sort on the key, one
    * shuffle — the [[graft.operators.Compaction]] sortCols trade), so
    * each output segment again holds exactly one key value and the
    * storage-partitioned-join layout SURVIVES compaction
    * (KeyGroupedPartitioning, zero exchanges under the s18 join
    * shape); `target_segments` is then a hint the key cardinality
    * overrides. */
  private val compact = Entry("compact",
    "merge a gseg table's segments down to target_segments files " +
      "(atomic manifest-swap commit; old generation retained until vacuum)",
    Seq(
      param("table", StringType),
      param("target_segments", IntegerType, "1"),
      param("sort_by", StringType, "CAST(NULL AS STRING)"),
      // SIZE-AWARE policy: rewrite ONLY segments smaller than this
      // byte threshold, leave big files SHARED between generations —
      // what keeps a continuously-appended table's file count
      // bounded without rewriting the table (copy-on-write stays
      // cheap as the table ages)
      param("target_bytes", LongType, "CAST(NULL AS BIGINT)"),
      // RE-CLUSTER: rewrite the whole table under a NEW declared
      // clustering (comma list of `col` / `bucket(n,col)` specs;
      // empty string DE-clusters) and persist it — the Iceberg
      // "replace partition field" shape: one call re-keys a table's
      // layout without recreating it, and every later write/DML
      // maintains the new layout
      param("cluster_by", StringType, "CAST(NULL AS STRING)"),
      // PURGE policy: rewrite ONLY segments whose deletion-vector
      // ratio (deleted rows / stored rows) reached this threshold —
      // materialize heavy masks back to clean segments, leave
      // lightly-vectored and clean files shared. The merge-on-read
      // maintenance loop: DELETEs accrue vectors cheaply, compact
      // folds them in once they cost readers real skip work
      param("min_deleted_ratio", DoubleType, "CAST(NULL AS DOUBLE)"),
      // incremental SPEC MIGRATION: rewrite ONLY segments that fail
      // the per-file conformance witness for the declared clustering
      // (after CALL set_clustering) — conforming files stay shared,
      // and a second pass is a no-op
      param("only_mismatched", BooleanType, "false")),
    out("table" -> StringType, "before_files" -> LongType,
      "after_files" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val target = args.optInt(1).getOrElse(1)
      require(target >= 1, s"gseg compact: target_segments $target < 1")
      val sortBy = args.optString(2)
      val targetBytes = args.optLong(3)
      targetBytes.foreach(tb => require(tb > 0,
        s"gseg compact: target_bytes $tb <= 0"))
      val clusterBy = args.optString(4)
      val minRatio = args.optDouble(5)
      minRatio.foreach(r => require(r > 0.0 && r <= 1.0,
        s"gseg compact: min_deleted_ratio $r outside (0, 1]"))
      val onlyMismatched = args.flag(6)
      // re-layout of a SUBSET is incoherent (shared files would
      // keep the old layout): cluster_by always rewrites whole
      require(clusterBy.isEmpty ||
        (targetBytes.isEmpty && minRatio.isEmpty && !onlyMismatched),
        "gseg compact: cluster_by re-lays the WHOLE table and " +
          "cannot combine with target_bytes/min_deleted_ratio/" +
          "only_mismatched")
      val ident = args.table(0)
      val dir = cat.tableDir(ident)
      val schema = cat.loadTable(ident).schema() // ensures manifest
      val meta = SegMeta.read(dir).getOrElse(
        SegMeta.TableMeta(schema, Set.empty, Map.empty))
      // the NEW clustering, validated like CREATE TABLE's
      val newCluster: Option[Seq[String]] = clusterBy.map(cb =>
        SegSettings.checkCluster(SegSource.splitClusterSpecs(cb), schema,
          "compact cluster_by"))
      // a PARTITIONED BY table compacts CLUSTERED by default — an
      // unqualified CALL compact must not quietly destroy the
      // layout the table declared; cluster_by overrides everything
      val sortByEff: Seq[String] = newCluster.getOrElse(
        sortBy.map(SegSource.splitClusterSpecs)
          .getOrElse(meta.settings.cluster))
      sortByEff.foreach(c => SegSource.parseZOrder(c) match {
        case Some((a, b)) =>
          require(schema.fieldNames.contains(a) &&
            schema.fieldNames.contains(b),
            s"gseg compact: zorder column of '$c' is not in the schema")
        case None => require(schema.fieldNames.contains(
          SegSource.ClusterKey.parse(c).col),
          s"gseg compact: sort_by column '$c' is not in the schema")
      })
      val liveGen = SegManifest.read(dir.toString).map(_._1)
      val liveDvs = SegManifest.readManifest(dir.toString)
        .map(_.dvs).getOrElse(Map.empty)
      val live = SegSource.resolveSegments(dir.toString)
      def dvRatio(f: String): Double = {
        val name = Paths.get(f).getFileName.toString
        liveDvs.get(name) match {
          case None => 0.0
          case Some(dv) => SegDv.countOf(s"$dir/$dv").toDouble /
            math.max(1, SegSource.resolvedHeaderOf(f).nRows)
        }
      }
      // incremental spec migration needs a witnessable spec: a
      // declared (or sort_by) clustering, never zorder (no per-file
      // conformance evidence exists for a morton sort)
      if (onlyMismatched) {
        require(sortByEff.nonEmpty,
          "gseg compact: only_mismatched needs a declared clustering " +
            "(or sort_by) to check conformance against")
        require(!sortByEff.exists(SegSource.parseZOrder(_).isDefined),
          "gseg compact: zorder has no per-file conformance witness " +
            "— migrate a zorder layout with a whole-table cluster_by")
      }
      // selective policies compose as a UNION: a segment rewrites
      // when it is small (target_bytes) OR heavily vectored
      // (min_deleted_ratio) OR laid out under a superseded spec
      // (only_mismatched); everything else stays SHARED (names
      // survive the swap — at 100 TB the difference between a
      // bounded maintenance pass and a weekly table copy)
      val selective = targetBytes.isDefined || minRatio.isDefined ||
        onlyMismatched
      val (toRewrite, shared) =
        if (!selective) (live, Nil)
        else live.partition(f =>
          targetBytes.exists(tb => Files.size(Paths.get(f)) < tb) ||
            minRatio.exists(r => dvRatio(f) >= r) ||
            (onlyMismatched &&
              !SegSource.fileConformsTo(sortByEff, f)))
      graft.Counters.add("gseg_compact_rewritten", toRewrite.size.toLong)
      graft.Counters.add("gseg_compact_shared", shared.size.toLong)
      // a selective pass is a no-op when nothing selected, or when
      // the single selected file has no vector to purge (nothing to
      // merge either — EXCEPT a mismatched file, whose rewrite IS
      // the point); full compaction keeps the original condition
      def selectiveNoop: Boolean = toRewrite.isEmpty ||
        (toRewrite.size == 1 && dvRatio(toRewrite.head) == 0.0 &&
          !(onlyMismatched &&
            !SegSource.fileConformsTo(sortByEff, toRewrite.head)))
      val after =
        if (newCluster.isEmpty &&
            ((selective && selectiveNoop) ||
             (!selective && live.size <= target &&
               sortByEff.isEmpty)))
          live.size.toLong // nothing worth merging: no-op, no commit
        else {
          val spark = org.apache.spark.sql.SparkSession.active
          val tmp = Files.createTempDirectory(dir, ".compact-tmp-")
          try {
            val reader = spark.read.format("gseg").schema(schema)
            val src = (if (!selective) reader
              else reader.option(SegSource.PinnedFilesOption,
                toRewrite.map(f => Paths.get(f).getFileName.toString)
                  .mkString(",")))
              .load(dir.toString)
            // the table's blooms and budgets ride along as write
            // options; each layout below sets its own clustering
            def rewrite(df: org.apache.spark.sql.DataFrame, cluster: String) =
              df.write.format("gseg").options(meta.settings.props)
                .option(SegSource.PartitionColOption, cluster)
                .mode("overwrite")
            sortByEff match {
              case Nil =>
                // distributed, shuffle-free: existing partitions
                // merge into `target` output tasks in one
                // read+write pass
                rewrite(src.coalesce(target), "").save(tmp.toString)
              case Seq(zs) if SegSource.parseZOrder(zs).isDefined =>
                // Z-ORDER re-layout: one global range shuffle on the
                // Morton code (graft.operators.ZOrder.morton2 — the
                // same interleave the task writer's flush sort
                // uses), so files hold DISJOINT contiguous z-ranges
                // and zone maps on BOTH raw columns come out tight.
                // Recovery is stats-only — scans ignore the spec.
                val (za, zb) = SegSource.parseZOrder(zs).get
                val zc = graft.operators.ZOrder.morton2(
                  org.apache.spark.sql.functions.col(za),
                  org.apache.spark.sql.functions.col(zb))
                rewrite(src.withColumn("_z", zc)
                  .repartitionByRange(target,
                    org.apache.spark.sql.functions.col("_z"))
                  .sortWithinPartitions(
                    org.apache.spark.sql.functions.col("_z"))
                  .drop("_z"), zs).save(tmp.toString)
              case cs if cs.exists { c =>
                  val k = SegSource.ClusterKey.parse(c)
                  k.buckets.isDefined || k.unit.isDefined ||
                    k.trunc.isDefined
                } =>
                // BUCKET/TEMPORAL layouts: a path-based write cannot
                // resolve the transform (no FunctionCatalog on the
                // save() path), so the rewrite runs CLUSTER-LOCAL —
                // coalesce bounds the task count and the writer's
                // flush-time key sort forms the single-bucket,
                // stamped runs; the table is ALREADY bucket-laid,
                // so merging within the layout needs no shuffle
                rewrite(src.coalesce(target), cs.mkString(","))
                  .option(SegSource.ClusterLocalOption, "true")
                  .save(tmp.toString)
              case cs =>
                // layout-preserving: the identity-clustered write
                // path (required distribution + in-partition sort)
                // rolls one segment per key value — min==max stats
                // the SPJ scan groups by, exactly the layout the
                // keyed writer produced originally
                rewrite(src, cs.mkString(",")).save(tmp.toString)
            }
            val rewritten = SegSource.listSegments(tmp.toString)
            val sharedNames =
              shared.map(f => Paths.get(f).getFileName.toString)
            // re-clustering pins the NEW layout into the commit's
            // snapshot (as-of-schema semantics) and persists it in
            // the sidecar AFTER the commit point, mirroring CTAS
            val newMeta = newCluster.map(nc =>
              meta.copy(settings = meta.settings.copy(cluster = nc)))
            SegManifest.commitStaged(dir.toString,
              SegManifest.stampedPrefix("cmp"),
              SegManifest.Staged.flat(rewritten), commutes = false,
              branchScoped = false, expectGen = Some(liveGen),
              metaOverride = newMeta.map(SegMeta.render)) { _ =>
              SegManifest.Kept(sharedNames)
            }
            newMeta.foreach(SegMeta.write(dir, _))
            (sharedNames.size + rewritten.size).toLong
          } finally graft.Fs.deleteRecursively(tmp)
        }
      Seq((tbl, live.size.toLong, after))
    })

  /** `CALL <catalog>.history('ns.table')` → one row per RETAINED
    * generation (generation BIGINT, committed_at_ms BIGINT, n_segments
    * BIGINT, is_current BOOLEAN), ascending — the observability half of
    * time travel: which `VERSION AS OF` targets still exist, when each
    * committed (the snapshot's clock, same one TIMESTAMP AS OF
    * resolves by), and how wide each generation was. Metadata-only. */
  private val history = Entry("history",
    "retained generations of a gseg table (time-travel targets)",
    Seq(param("table", StringType)),
    out("generation" -> LongType, "committed_at_ms" -> LongType,
      "n_segments" -> LongType, "is_current" -> BooleanType,
      // merge-on-read observability (appended at the tail so the
      // pre-r15 positional consumers keep reading): how many
      // segments carry a deletion vector, and the masked-row total
      // — the numbers a min_deleted_ratio compact decision reads
      "n_deletion_vectors" -> LongType, "n_deleted_rows" -> LongType,
      // named refs pinning this generation (tail-appended like the
      // dv columns: pre-r16 positional consumers keep reading) —
      // the operator's answer to "why didn't vacuum reclaim this?"
      "tags" -> StringType),
    (cat, args) => {
      val dir = cat.tableDir(args.table(0))
      val current = SegManifest.read(dir.toString).map(_._1)
      // named refs on each generation: tags verbatim, branch HEADS
      // as 'name(branch)' — one column answers "why is this
      // generation retained, and which ref reads it"
      val tagsByGen = (SegManifest.tags(dir.toString).toSeq ++
        SegManifest.refs(dir.toString).toSeq.map { case (n, (h, _)) =>
          s"$n(branch)" -> h })
        .groupMap(_._2)(_._1).view.mapValues(_.sorted.mkString(","))
        .toMap
      SegManifest.listSnapshots(dir.toString)
        .map { case (gen, ms) =>
          val m = SegManifest.readSnapshotManifest(dir.toString, gen)
          val deleted = m.map(_.dvs.values.map(d =>
            SegDv.countOf(s"$dir/$d").toLong).sum).getOrElse(0L)
          (gen, ms, m.map(_.names.size.toLong).getOrElse(0L),
            current.contains(gen),
            m.map(_.dvs.size.toLong).getOrElse(0L),
            deleted,
            tagsByGen.getOrElse(gen, ""))
        }
    })

  /** `CALL <catalog>.rollback('ns.table', generation)` → one row
    * (table STRING, rolled_back_to BIGINT, new_generation BIGINT). The
    * undo button time travel enables: re-commit a RETAINED generation's
    * exact file set as a NEW generation (one atomic manifest swap — the
    * forward-rolling recovery every lakehouse ships, never a mutation
    * of history: the bad generations stay in the ledger and
    * time-travelable until vacuum, which also reclaims their files once
    * nothing live references them). Fails loudly when the target
    * snapshot is gone (never committed, or retired by vacuum) or when
    * any of its files has been reclaimed. */
  private val rollback = Entry("rollback",
    "re-commit a retained generation's file set as the live generation",
    Seq(param("table", StringType), param("generation", LongType)),
    out("table" -> StringType, "rolled_back_to" -> LongType,
      "new_generation" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val gen = args.long(1)
      val ident = args.table(0)
      val dir = cat.tableDir(ident)
      val snap = SegManifest.retained(dir.toString, gen, "rollback")
      val names = snap.names
      val missing = (names ++ snap.dvs.values)
        .filterNot(n => Files.exists(dir.resolve(n)))
      require(missing.isEmpty,
        s"gseg rollback: generation $gen is no longer materialized — " +
          s"missing segment(s): ${missing.mkString(", ")}")
      val liveGen = SegManifest.read(dir.toString).map(_._1)
      // the restored generation's OWN deletion-vector map, replaced
      // wholesale: a live vector the old generation didn't have
      // must not keep masking its rows (the changefeed reads that
      // as resurrection — deliberate rollback semantics)
      val newGen = SegManifest.swap(dir.toString, names,
        expectGen = Some(liveGen), dvs = Some(snap.dvs))
      Seq((tbl, gen, newGen))
    })

  /** `CALL <catalog>.changes('ns.table', from_gen, to_gen)` → one row
    * per segment file that DIFFERS between two retained generations
    * (file STRING, change STRING ∈ {added, removed}, n_rows BIGINT),
    * sorted. This is the metadata HALF of the changefeed: copy-on-write
    * shares untouched files between generations, so the diff is bounded
    * by what the intervening commits rewrote — at 100 TB a 2-file DML
    * answers in two header reads, never a table scan. The row-level
    * half (inserted/deleted/updated ROWS) is
    * [[SegChangeFeed.changes]]: a distributed full-outer join of the
    * two pinned reads over exactly these files — a procedure returning
    * driver-side rows could not carry it, a join can. */
  private val changes = Entry("changes",
    "segment-level diff between two retained gseg generations",
    Seq(param("table", StringType), param("from_gen", LongType),
      param("to_gen", LongType)),
    out("file" -> StringType, "change" -> StringType,
      "n_rows" -> LongType),
    (cat, args) => {
      val fromGen = args.long(1)
      val toGen = args.long(2)
      val ident = args.table(0)
      val dir = cat.tableDir(ident).toString
      val fromM = SegManifest.retained(dir, fromGen, "changes")
      val toM = SegManifest.retained(dir, toGen, "changes")
      val from = fromM.names.toSet
      val to = toM.names.toSet
      // a carried segment whose DELETION VECTOR changed is part of
      // the diff (merge-on-read DELETE / rollback resurrection);
      // n_rows reports the ORDINAL DELTA, not the file size
      def dvCount(m: SegManifest.Manifest, n: String): Long =
        m.dvs.get(n).map(d => SegDv.countOf(s"$dir/$d").toLong)
          .getOrElse(0L)
      val dvChanged = (from & to).toSeq.sorted
        .filter(n => fromM.dvs.get(n) != toM.dvs.get(n))
        .map(n => (n, "dv_changed",
          math.abs(dvCount(toM, n) - dvCount(fromM, n))))
      val diff =
        (from -- to).toSeq.sorted.map(n => (n, "removed",
          SegSource.headerOf(s"$dir/$n").nRows.toLong)) ++
          (to -- from).toSeq.sorted.map(n => (n, "added",
            SegSource.headerOf(s"$dir/$n").nRows.toLong)) ++
          dvChanged
      diff
    })

  /** `CALL <catalog>.clone('ns.src', 'ns.dst' [, generation])` → one row
    * (source, target, cloned_generation, files, linked, copied).
    *
    * ZERO-COPY table clone (Delta's SHALLOW CLONE, hard-link flavor):
    * the chosen generation's segments and deletion vectors HARD-LINK
    * into the new table's directory — at 100 TB a clone costs one inode
    * operation per file and zero data movement, and the experiment /
    * staging / what-if workflow it exists for gets a fully independent
    * table: segments are IMMUTABLE by construction (every gseg mutation
    * writes new names), so the shared bytes can never change under
    * either side, and vacuum on one side only unlinks ITS directory's
    * name — the inode survives while the other link exists. Cross-
    * filesystem targets fall back to a real copy per file (counted
    * honestly in the output row).
    *
    * What the clone carries: the generation's file set, its deletion-
    * vector map, and its PINNED table metadata (schema, aliases,
    * tombstones, clustering, gseg.* properties — the as-of-schema pin,
    * so a clone of a pre-rename generation reads under the old names
    * exactly like VERSION AS OF does). The clone starts at generation 0
    * with its own independent history.
    *
    * Protocol (CTAS's shape): files land under dot-hidden `.ctas-cl-`
    * names (invisible to path listings), the manifest swap PUBLISHES
    * them atomically, the sidecar lands after the commit point. A crash
    * strands only invisible links for the target's vacuum. */
  private val cloneTable = Entry("clone",
    "zero-copy (hard-link) clone of a gseg table generation",
    Seq(param("source", StringType), param("target", StringType),
      param("generation", LongType, "CAST(NULL AS BIGINT)"),
      param("tag", StringType, "CAST(NULL AS STRING)")),
    out("source" -> StringType, "target" -> StringType,
      "cloned_generation" -> LongType, "files" -> LongType,
      "linked" -> LongType, "copied" -> LongType),
    (cat, args) => {
      val src = args.string(0)
      val dst = args.string(1)
      val srcIdent = args.ident(0, "source")
      val dstIdent = args.ident(1, "target")
      val srcDir = cat.tableDir(srcIdent).toString
      val dstDir = cat.newTableDir(dstIdent)
      cat.loadTable(srcIdent) // ensures manifest + sidecar (migration)
      // generation selection: explicit number, a NAMED TAG, or (the
      // default) the live generation — never both spellings at once
      val byGen = args.present(2)
      val byTag = args.present(3)
      require(!(byGen && byTag),
        "gseg clone: pass generation OR tag, not both")
      val gen =
        if (byGen) args.long(2)
        else if (byTag) {
          val t = args.string(3)
          SegManifest.tags(srcDir).getOrElse(t,
            throw new IllegalArgumentException(
              s"gseg clone: no tag '$t' on $src"))
        }
        else SegManifest.readManifest(srcDir).map(_.gen).getOrElse(
          throw new IllegalStateException(
            s"gseg clone: no generation manifest at $srcDir"))
      val snap = SegManifest.retained(srcDir, gen, "clone")
      // the generation's PINNED metadata (as-of-schema) — fall back
      // to the current sidecar for legacy pre-pin snapshots
      val meta = SegManifest.readSnapshotMeta(srcDir, gen)
        .orElse(SegMeta.read(java.nio.file.Paths.get(srcDir)))
        .getOrElse(throw new IllegalStateException(
          s"gseg clone: no table metadata for $src"))
      // target must not exist (CREATE TABLE's existence contract)
      if (SegManifest.isTable(dstDir))
        throw new TableAlreadyExistsException(dstIdent)
      Files.createDirectories(dstDir)
      val stamp = java.util.UUID.randomUUID.toString.take(8)
      var linked = 0L
      var copied = 0L
      def bring(name: String, i: Int, ext: String): String = {
        val out = f".ctas-cl-$stamp-$i%05d$ext"
        val s = java.nio.file.Paths.get(srcDir, name)
        val t = dstDir.resolve(out)
        try { Files.createLink(t, s); linked += 1 }
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            // cross-device / no-hardlink filesystem: real copy
            Files.copy(s, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            copied += 1
        }
        out
      }
      val sorted = snap.names.sorted
      val nameMap = sorted.zipWithIndex.map { case (n, i) =>
        n -> bring(n, i, ".gseg")
      }.toMap
      val dvMap = snap.dvs.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((seg, dv), i) => nameMap(seg) -> bring(dv, i, ".gdv")
      }.toMap
      // THE publish point: the clone's generation 0, metadata pinned
      SegManifest.swap(dstDir.toString, nameMap.values.toSeq,
        expectGen = Some(None), metaOverride = Some(SegMeta.render(meta)),
        dvs = Some(dvMap))
      SegMeta.write(dstDir, meta) // after the commit point, like CTAS
      graft.Counters.add("gseg_clone_files", (linked + copied))
      graft.Counters.add("gseg_clone_linked", linked)
      Seq((src, dst, gen, (linked + copied), linked, copied))
    })

  /** `CALL <catalog>.tag('ns.table', 'name' [, generation])` → pins a
    * retained generation under a NAME: a retention floor vacuum honors
    * until `CALL untag` releases it, and a `VERSION AS OF '<name>'` /
    * `CALL clone(tag => ...)` target. `generation` defaults to the live
    * one — "tag what I see now". See [[SegManifest.setTag]] for the
    * validation contract (committed + retained only, no all-digit
    * names, no silent re-pointing). */
  private val tag = Entry("tag",
    "pin a retained generation under a name (vacuum retention floor)",
    Seq(param("table", StringType), param("tag", StringType),
      param("generation", LongType, "CAST(NULL AS BIGINT)")),
    out("table" -> StringType, "tag" -> StringType,
      "generation" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val tg = args.string(1)
      val ident = args.table(0)
      cat.loadTable(ident) // ensures manifest + sidecar (migration)
      val dir = cat.tableDir(ident).toString
      val gen = args.optLong(2).getOrElse(
        SegManifest.read(dir).map(_._1).getOrElse(
          throw new IllegalStateException(
            s"gseg tag: no generation manifest at $dir")))
      SegManifest.setTag(dir, tg, gen)
      Seq((tbl, tg, gen))
    })

  /** `CALL <catalog>.untag('ns.table', 'name')` → releases a tag; the
    * generation it pinned becomes reclaimable by the NEXT vacuum unless
    * another retention floor still covers it. */
  private val untag = Entry("untag",
    "release a named snapshot tag (the generation becomes reclaimable)",
    Seq(param("table", StringType), param("tag", StringType)),
    out("table" -> StringType, "tag" -> StringType,
      "released_generation" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val tg = args.string(1)
      val dir = cat.tableDir(args.table(0)).toString
      val g = SegManifest.removeTag(dir, tg)
      Seq((tbl, tg, g))
    })

  /** `CALL <catalog>.branch('ns.table', 'name')` → fork a WRITABLE
    * branch at the live generation (one `.refs` sidecar line — zero
    * data movement at any table size). With the session conf
    * `spark.gseg.wap.branch = 'name'` set, every subsequent write lands
    * on the branch and main-pointer commits are refused loudly; audit
    * the staged data via `VERSION AS OF 'name'`, then publish with
    * `CALL fast_forward` — the write-audit-publish workflow (the
    * ADVANCING half of the Iceberg branch/tag ref model; [[SegManifest
    * .setTag]] is the non-advancing half). */
  private val branch = Entry("branch",
    "fork a writable branch at the live generation (WAP staging)",
    Seq(param("table", StringType), param("branch", StringType)),
    out("table" -> StringType, "branch" -> StringType,
      "forked_at" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val br = args.string(1)
      val ident = args.table(0)
      cat.loadTable(ident) // ensures manifest + sidecar (migration)
      val dir = cat.tableDir(ident).toString
      val at = SegManifest.createBranch(dir, br)
      Seq((tbl, br, at))
    })

  /** `CALL <catalog>.drop_branch('ns.table', 'name')` → abandon a
    * branch; its staged generations lose their retention floor and the
    * NEXT vacuum reclaims them (the audit-failed path of WAP). */
  private val dropBranch = Entry("drop_branch",
    "abandon a branch (its staged generations become reclaimable)",
    Seq(param("table", StringType), param("branch", StringType)),
    out("table" -> StringType, "branch" -> StringType,
      "head_was" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val br = args.string(1)
      val dir = cat.tableDir(args.table(0)).toString
      val h = SegManifest.dropBranch(dir, br)
      Seq((tbl, br, h))
    })

  /** `CALL <catalog>.fast_forward('ns.table', 'name')` → publish a
    * branch: move MAIN to the branch head, one pointer swap. Legal only
    * while main still sits at the fork base — if main advanced since,
    * the merge is no fast-forward and fails loudly (recreate the branch
    * from the new live generation to rebase). The branch survives,
    * re-based at its own head, ready for the next WAP cycle. */
  private val fastForward = Entry("fast_forward",
    "publish a branch: fast-forward main to the branch head",
    Seq(param("table", StringType), param("branch", StringType)),
    out("table" -> StringType, "branch" -> StringType,
      "from_generation" -> LongType, "to_generation" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val br = args.string(1)
      val dir = cat.tableDir(args.table(0)).toString
      val (from, to) = SegManifest.fastForward(dir, br)
      Seq((tbl, br, from, to))
    })

  /** `CALL <catalog>.rebase('ns.table', 'name')` → re-point a branch's
    * fork base at the CURRENT live generation, re-applying its staged
    * base→head changes on top of main's commits since the fork — the
    * NON-fast-forward WAP path (`fast_forward` refuses when main
    * advanced; this is the remedy that keeps the staged audit instead
    * of discarding it). File-grain lost-update validation, same as
    * branch-scoped DML: a file BOTH sides rewrote/re-vectored since the
    * fork conflicts loudly, listing the files. Main's pointer never
    * moves — audit the rebased head, then `fast_forward` publishes both
    * sides' changes. See [[SegManifest.rebase]]. */
  private val rebase = Entry("rebase",
    "re-apply a branch's staged changes onto the current live " +
      "generation (the non-fast-forward WAP remedy)",
    Seq(param("table", StringType), param("branch", StringType)),
    out("table" -> StringType, "branch" -> StringType,
      "old_base" -> LongType, "new_base" -> LongType,
      "new_head" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val br = args.string(1)
      val dir = cat.tableDir(args.table(0)).toString
      val (oldBase, newBase, newHead) = SegManifest.rebase(dir, br)
      Seq((tbl, br, oldBase, newBase, newHead))
    })

  /** `CALL <catalog>.set_clustering('ns.table', 'spec1,spec2' | '')` →
    * PARTITION-SPEC EVOLUTION, Iceberg-style: change the DECLARED
    * clustering as pure metadata. NEW segments lay out under the new
    * spec (the write-side distribution reads the sidecar at plan
    * time); EXISTING segments are untouched — not one byte rewritten —
    * and keep pruning under the layout they were written with, because
    * gseg's pruning is per-FILE evidence (zone maps, bucket stamps,
    * run stats travel in each segment's own header), never a
    * table-level assumption. At 100 TB this is THE re-layout lever:
    * changing a table's clustering costs one sidecar write, old data
    * keeps its old locality, and `CALL compact` migrates files to the
    * current spec opportunistically (its default sort is the DECLARED
    * clustering). Mixed-layout tables degrade only where a single
    * layout is required: storage-partitioned joins report
    * UnknownPartitioning until compaction unifies the spec. The empty
    * string drops the clustering. Accepts the same spec grammar as
    * CREATE's PARTITIONED BY and compact's cluster_by (identity,
    * bucket(n,col), years/months/days/hours(col), truncate(w,col),
    * zorder(a,b)). */
  private val setClustering = Entry("set_clustering",
    "evolve the declared clustering (new segments only; pure metadata)",
    Seq(param("table", StringType), param("cluster_by", StringType)),
    out("table" -> StringType, "old_clustering" -> StringType,
      "new_clustering" -> StringType),
    (cat, args) => {
      val tbl = args.string(0)
      val cb = args.string(1)
      val ident = args.table(0)
      cat.loadTable(ident) // ensures manifest + sidecar (migration)
      val dir = cat.tableDir(ident)
      val meta = SegMeta.read(dir).getOrElse(
        throw new IllegalStateException(
          s"gseg set_clustering: no sidecar at $dir"))
      // same spec grammar and validation as compact's cluster_by
      val after = meta.settings.set(SegSettings.Cluster.key, cb, meta.schema)
      SegMeta.write(dir, meta.copy(settings = after)) // ONE commit
      Seq((tbl, meta.settings.cluster.mkString(","),
        after.cluster.mkString(",")))
    })

  /** `CALL <catalog>.create_index('ns.t', '<vector col>', '<key col>',
    * method => 'ivf'|'lsh', cells => n)` → DECLARATIVE ANN INDEX over a
    * gseg vector table, persisted AS gseg tables under the same commit
    * protocol as the data they index:
    *  - ivf: k-means cells — `<t>__idx_<col>_cent` (cid, centroid
    *    ARRAY<FLOAT>) and `<t>__idx_<col>_assign` (key, cid). Training
    *    is deterministic (smallest-key init + Lloyd); assignment is one
    *    broadcast map-only pass.
    *  - lsh: sign-random-projection buckets — `<t>__idx_<col>_assign`
    *    (key, bucket), `cells` = signature bits. Hyperplanes derive
    *    deterministically from (plane, dim), so no plane table exists
    *    to drift: any maintainer recomputes identical buckets.
    * MAINTENANCE is incremental from the table's row-level changefeed:
    * tail `read_changefeed`, MERGE-delete touched keys from the assign
    * table, re-insert assignments for rows live after the batch —
    * exactly the [[graft.streaming.StreamGates]] cdf-index recipe, cost
    * = commit churn, never corpus (the sim_ivf_indexed gate drives
    * INSERT/UPDATE/DELETE + a checkpoint restart through it and pins
    * set-parity with a from-scratch rebuild). At 100 TB: search probes
    * `nprobe/nlist` of the corpus through the assign join instead of
    * scanning everything, and a maintenance tick costs the commit, not
    * the table. */
  private val createIndex = Entry("create_index",
    "build a persisted ANN index (ivf cells or lsh buckets) over a " +
      "vector column",
    Seq(param("table", StringType), param("column", StringType),
      param("key", StringType), param("method", StringType, "'ivf'"),
      param("cells", IntegerType, "16")),
    out("table" -> StringType, "method" -> StringType,
      "index_table" -> StringType, "cells" -> IntegerType,
      "n_indexed" -> LongType),
    (cat, args) => {
      val tbl = args.string(0)
      val colN = args.string(1)
      val keyN = args.string(2)
      val method = args.optString(3).getOrElse("ivf")
      val cells = args.optInt(4).getOrElse(16)
      require(cells > 0 && cells <= 64,
        s"gseg create_index: cells must be in 1..64, got $cells")
      val ident = args.table(0)
      val spark = org.apache.spark.sql.SparkSession.active
      import spark.implicits._
      val fqn = s"${cat.name()}.$tbl"
      cat.loadTable(ident) // ensures manifest + sidecar (migration)
      val tblDir = cat.tableDir(ident)
      val meta0 = SegMeta.read(tblDir).getOrElse(
        throw new IllegalStateException(
          s"gseg create_index: no sidecar at $tblDir"))
      val key = SegSettings.Index.key + colN
      require(!meta0.settings.props.contains(key),
        s"gseg create_index: '$colN' already carries index " +
          s"'${meta0.settings.props(key)}' — CALL drop_index first")
      val df = spark.table(fqn)
      val vf = df.schema.fields.find(_.name == colN).getOrElse(
        throw new IllegalArgumentException(
          s"gseg create_index: no column '$colN' in $tbl"))
      require(vf.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }, s"gseg create_index: '$colN' must be ARRAY<FLOAT>, got " +
        vf.dataType.simpleString)
      val kf = df.schema.fields.find(_.name == keyN).getOrElse(
        throw new IllegalArgumentException(
          s"gseg create_index: no key column '$keyN' in $tbl"))
      require(kf.dataType == LongType ||
        kf.dataType == org.apache.spark.sql.types.IntegerType,
        s"gseg create_index: key '$keyN' must be integral, got " +
          kf.dataType.simpleString)
      val vecs = df.select(
          org.apache.spark.sql.functions.col(keyN).cast("bigint")
            .as("_1"),
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.col(colN),
            x => x.cast("double")).as("_2"))
        .as[(Long, Array[Double])]
      def fq(sfx: String) =
        (ident.namespace :+ s"${ident.name}__idx_${colN}_$sfx").mkString(".")
      val assignFqn = s"${cat.name()}.${fq("assign")}"
      val n: Long = method match {
        case "ivf" =>
          val cents = graft.functions.Ivf.trainCentroidsAnyIds(vecs, cells)
          spark.sql(s"CREATE TABLE ${cat.name()}.${fq("cent")} " +
            "(cid INT, centroid ARRAY<FLOAT>) USING gseg")
          cents.zipWithIndex
            .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
            .toDF("cid", "centroid")
            .writeTo(s"${cat.name()}.${fq("cent")}").append()
          // identity-clustered by cid: search probes nprobe cells,
          // so the layout lets zone maps drop whole FILES of
          // unprobed cells — the index prunes I/O, not just compute
          spark.sql(s"CREATE TABLE $assignFqn " +
            s"(key BIGINT, cid INT) USING gseg PARTITIONED BY (cid)")
          graft.functions.Ivf.assignOn(vecs, cents)
            .writeTo(assignFqn).append()
          spark.table(assignFqn).count()
        case "lsh" =>
          spark.sql(s"CREATE TABLE $assignFqn " +
            s"(key BIGINT, bucket BIGINT) USING gseg " +
            "PARTITIONED BY (bucket)")
          graft.functions.Ivf.lshAssignOn(vecs, cells)
            .writeTo(assignFqn).append()
          spark.table(assignFqn).count()
        case other => throw new UnsupportedOperationException(
          s"gseg create_index: unknown method '$other' " +
            "(methods: ivf, lsh)")
      }
      // register the index on the TABLE (gseg.index.<col>) so SHOW
      // TBLPROPERTIES reveals it and drop_index can resolve it
      SegMeta.write(tblDir, meta0.copy(settings =
        meta0.settings.set(key, s"$method:$cells", meta0.schema)))
      Seq((tbl, method, fq("assign"), cells, n))
    })

  /** `CALL <catalog>.drop_index('ns.t', '<vector col>')` → remove the
    * ANN index over a column: drops the persisted `__idx_<col>_*`
    * tables and clears the `gseg.index.<col>` registration — the
    * inverse of `create_index`. Loud on a column that carries no
    * index. */
  private val dropIndex = Entry("drop_index",
    "drop a persisted ANN index (tables + registration)",
    Seq(param("table", StringType), param("column", StringType)),
    out("table" -> StringType, "column" -> StringType,
      "method_was" -> StringType),
    (cat, args) => {
      val tbl = args.string(0)
      val colN = args.string(1)
      val ident = args.table(0)
      val tblDir = cat.tableDir(ident)
      val meta = SegMeta.read(tblDir).getOrElse(
        throw new IllegalStateException(
          s"gseg drop_index: no sidecar at $tblDir"))
      val key = SegSettings.Index.key + colN
      val reg = meta.settings.props.getOrElse(key,
        throw new IllegalArgumentException(
          s"gseg drop_index: '$colN' carries no index on $tbl"))
      Seq("cent", "assign").foreach { sfx =>
        // dropTable is false-on-absent — right for lsh's no-cent case
        cat.dropTable(Identifier.of(ident.namespace,
          s"${ident.name}__idx_${colN}_$sfx"))
      }
      SegMeta.write(tblDir, meta.copy(settings = meta.settings.unset(key)))
      Seq((tbl, colN, reg))
    })

  /** Every procedure, in `SHOW PROCEDURES` order. */
  val All: Seq[Entry] = Seq(vacuum, compact, history, rollback, changes,
    cloneTable, tag, untag, branch, dropBranch, fastForward, rebase,
    setClustering, createIndex, dropIndex)

  private val byName: Map[String, Entry] = All.map(e => e.name -> e).toMap

  /** The procedure `name`, bound to `cat`; unknown names fail listing
    * every procedure the catalog has. */
  def load(cat: SegCatalog, name: String): SegProcedure =
    new SegProcedure(cat, byName.getOrElse(name,
      throw new UnsupportedOperationException(
        s"gseg: no procedure '$name' " +
          s"(have: ${All.map(_.name).mkString(", ")})")))
}
