package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The CONSUMABLE changefeed surface: row-level CDC through plain
  * `spark.read` / `spark.readStream` — no Scala API required
  * (that remains [[SegChangeFeed]], whose Catalyst full-outer-join
  * plan is still the right tool for huge endpoint diffs).
  *
  *   - BATCH: `spark.read.format("gseg")
  *       .option("changefeed_from", 1).option("changefeed_to", 3)
  *       .option("changefeed_keys", "k").load(dir)` returns one row
  *     per change with Delta CDF's `_change_type` vocabulary plus
  *     `_commit_generation` — PER-COMMIT semantics (`table_changes`):
  *     the union of single-step diffs over [from, to], so an
  *     update-then-delete across commits shows both, unlike the
  *     endpoint-collapsed [[SegChangeFeed.changes]].
  *   - STREAMING: `spark.readStream.format("gseg")
  *       .option("read_changefeed", "true")...` — the first batch is
  *     the initial snapshot AS INSERTS (Delta CDF-stream semantics),
  *     every later micro-batch the per-generation row diff, so a DML
  *     commit arrives as its update/delete rows instead of killing
  *     the stream (the generation-offset source's documented gap).
  *     Offsets are committed generations ([[SegGenOffset]]);
  *     recovery replans identical diffs from retained snapshots —
  *     exactly-once across restarts, failing loudly past the vacuum
  *     retention window.
  *
  * Execution model (why this scales, and what it costs — stated
  * honestly):
  *   - an APPEND commit (nothing removed) needs no join: its added
  *     files' rows stream as `insert`, one partition per file, zero
  *     overhead — the dominant streaming case.
  *   - a CHANGE commit diffs (removed files, added files) — both
  *     bounded by the commit's churn, never the table. The rows must
  *     MEET on the key to classify update-vs-carried, and a V2 scan
  *     cannot emit a Catalyst join, so the diff runs as a
  *     HASH-BUCKETED in-source join: `changefeed_buckets` (default 8)
  *     partitions per step, each reading the step's changed files and
  *     keeping only keys hashing to its bucket. That re-reads each
  *     changed file once per bucket — read amplification x buckets ON
  *     THE CHURN ONLY (a DML that touched 2 of 80 000 files re-reads
  *     2 files 8 times; the 79 998 others are never opened), in
  *     exchange for per-bucket memory bounded at churn/buckets. The
  *     counters record both path choices; batch consumers who cannot
  *     accept the amplification use [[SegChangeFeed.changes]].
  *
  * Key contract: `changefeed_keys` (comma list) identifies a row;
  * falls back to the table's declared clustering columns. Duplicate
  * keys degrade gracefully (multiset matching per key: unmatched
  * leftovers emit as delete/insert), but the pre/post pairing is only
  * meaningful under the uniqueness contract every keyed CDC has. */
object SegCdf {
  val FromOption = "changefeed_from"
  val ToOption = "changefeed_to"
  /** Timestamp (epoch millis) alternatives to the generation bounds:
    * resolved against the commit clocks EMBEDDED in retained
    * snapshots — `from` picks the earliest generation committed at or
    * after the instant, `to` the latest committed at or before it
    * (Delta's startingTimestamp/endingTimestamp semantics). */
  val FromTimestampOption = "changefeed_from_timestamp"
  val ToTimestampOption = "changefeed_to_timestamp"
  val KeysOption = "changefeed_keys"
  val ReadChangefeedOption = "read_changefeed"
  val BucketsOption = "changefeed_buckets"
  /** Follow a BRANCH head instead of main: offsets walk the branch's
    * committed lineage (the `.refs` chain), so a WAP audit's staged
    * commits stream per-commit BEFORE publish — the ANN-index
    * maintenance recipe can follow the audit. Main-only commits are
    * invisible to the stream; a lineage REWRITE under a consumed
    * checkpoint (fast_forward / rebase mid-stream) fails loudly,
    * never silently skips. */
  val BranchOption = "changefeed_branch"
  /** Streaming ADMISSION CONTROL: cap each micro-batch at N
    * generations (Delta's maxFilesPerTrigger shape, at commit grain)
    * — a stream starting against a long-retained history drains it
    * as bounded batches instead of one giant catch-up batch. Applies
    * to both the CDF stream and the file-level generation stream. */
  val MaxGensPerTriggerOption = "max_gens_per_trigger"
  val CommitGenCol = "_commit_generation"
  /** Commit instant of the change's generation (the snapshot's
    * embedded clock) — Delta CDF's `_commit_timestamp`. */
  val CommitTsCol = "_commit_timestamp"

  def isCdfRead(props: java.util.Map[String, String]): Boolean =
    props.containsKey(FromOption) ||
      props.containsKey(FromTimestampOption) ||
      "true".equalsIgnoreCase(props.get(ReadChangefeedOption))

  /** Resolve the generation bounds from whichever pair of options is
    * present (generation wins over timestamp when both are given). */
  private[sources] def resolveBounds(dir: String,
      from: Option[String], fromTs: Option[String],
      to: Option[String], toTs: Option[String])
      : (Option[Long], Option[Long]) = {
    lazy val snaps = SegManifest.listSnapshots(dir) // (gen, clock) asc
    val f = from.map(_.toLong).orElse(fromTs.map { t =>
      val ts = t.toLong
      snaps.filter(_._2 >= ts).map(_._1).minOption.getOrElse(
        throw new IllegalArgumentException(
          s"gseg changefeed: no retained generation committed at or " +
            s"after timestamp $ts (latest: " +
            s"${snaps.lastOption.map(_._2).getOrElse("none")})"))
    })
    val u = to.map(_.toLong).orElse(toTs.map { t =>
      val ts = t.toLong
      snaps.filter(_._2 <= ts).map(_._1).maxOption.getOrElse(
        throw new IllegalArgumentException(
          s"gseg changefeed: no retained generation committed at or " +
            s"before timestamp $ts (earliest: " +
            s"${snaps.headOption.map(_._2).getOrElse("none")})"))
    })
    (f, u)
  }

  /** Table schema + (`_change_type`, `_commit_generation`,
    * `_commit_timestamp`) — Delta CDF's metadata trio. */
  def outputSchema(table: StructType): StructType =
    StructType(table.fields :+
      StructField(SegChangeFeed.ChangeTypeCol, StringType, nullable = false) :+
      StructField(CommitGenCol, LongType, nullable = false) :+
      StructField(CommitTsCol,
        org.apache.spark.sql.types.TimestampType, nullable = false))

  /** Strip the CDF metadata columns if present (getTable receives the
    * inferSchema result, which already carries them). */
  def tableSchemaOf(s: StructType): StructType =
    StructType(s.fields.filterNot(f =>
      f.name == SegChangeFeed.ChangeTypeCol || f.name == CommitGenCol ||
        f.name == CommitTsCol))

  /** A generation's commit instant in MICROS (the internal timestamp
    * representation), from the snapshot's embedded clock. */
  private[sources] def commitUsOf(dir: String, g: Long): Long =
    SegManifest.commitClock(dir, g).map(_ * 1000L).getOrElse(
      throw new IllegalStateException(
        s"gseg changefeed: no commit clock for generation $g of $dir"))

  /** Key columns: the option wins; a PARTITIONED BY table falls back
    * to its declared clustering. Loud otherwise — keyless row CDC
    * would silently misclassify every rewrite as delete+insert. */
  def resolveKeys(dir: String, table: StructType,
      opt: Option[String]): Seq[String] = {
    val keys = opt.map(SegSource.splitCols).getOrElse(
      SegMeta.read(java.nio.file.Paths.get(dir))
        // the UNDERLYING columns: a bucket(n, col) layout keys CDC
        // rows by col, not by its bucket id
        .map(_.settings.cluster.map(c => SegSource.ClusterKey.parse(c).col))
        .getOrElse(Nil))
    require(keys.nonEmpty,
      s"gseg changefeed: no key columns — pass ${KeysOption}=col[,col] " +
        "or declare PARTITIONED BY on the table")
    keys.foreach(k => require(table.fieldNames.contains(k),
      s"gseg changefeed: key column '$k' is not in the schema"))
    keys
  }

  /** Admission-control clamp for a stream's FIRST batch (no starting
    * bound): the initial-snapshot batch pins the snapshot of the
    * admitted offset, so that offset must be a RETAINED generation —
    * `lo + m` blindly can land on a generation vacuum already retired
    * (keep_last default is 1) and the stream would fail to start even
    * though an uncapped stream on the same table starts fine from
    * live (ADVICE r14). Picks the earliest retained generation at or
    * above the cap (deep history still drains as bounded batches when
    * older snapshots survive), falling back to live. */
  private[sources] def clampInitialToRetained(dir: String,
      capped: Long, live: Long): Long =
    if (capped >= live || SegManifest.readSnapshot(dir, capped).isDefined)
      capped
    else SegManifest.listSnapshots(dir).map(_._1) // ascending
      .find(_ >= capped).getOrElse(live)

  /** The four `_change_type` values, for planning-time admissibility. */
  private[sources] val AllTags =
    Seq("insert", "delete", "update_preimage", "update_postimage")

  /** Conservative planning-time check: can a row with metadata
    * (`_commit_generation` = g, `_change_type` = tag) satisfy `f`?
    * Data-column predicates and unknown shapes answer TRUE (the scan
    * returns every filter as residual, so skipping is an optimization
    * that must only fire on a provable no). */
  private[sources] def mayMatchMeta(f: org.apache.spark.sql.sources.Filter,
      g: Long, tag: String, commitUs: Option[Long] = None): Boolean = {
    import org.apache.spark.sql.sources._
    def genOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    // `_commit_timestamp` literals arrive as java.sql.Timestamp (or
    // Instant under datetimeJava8API) — compare in micros, the same
    // clock the generation snapshots embed
    def usOf(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
      case _ => None
    }
    f match {
      case EqualTo(CommitGenCol, v) => genOf(v).forall(_ == g)
      case In(CommitGenCol, vs) => vs.exists(v => genOf(v).forall(_ == g))
      case GreaterThan(CommitGenCol, v) => genOf(v).forall(g > _)
      case GreaterThanOrEqual(CommitGenCol, v) => genOf(v).forall(g >= _)
      case LessThan(CommitGenCol, v) => genOf(v).forall(g < _)
      case LessThanOrEqual(CommitGenCol, v) => genOf(v).forall(g <= _)
      case EqualTo(CommitTsCol, v) =>
        commitUs.flatMap(us => usOf(v).map(_ == us)).getOrElse(true)
      case GreaterThan(CommitTsCol, v) =>
        commitUs.flatMap(us => usOf(v).map(us > _)).getOrElse(true)
      case GreaterThanOrEqual(CommitTsCol, v) =>
        commitUs.flatMap(us => usOf(v).map(us >= _)).getOrElse(true)
      case LessThan(CommitTsCol, v) =>
        commitUs.flatMap(us => usOf(v).map(us < _)).getOrElse(true)
      case LessThanOrEqual(CommitTsCol, v) =>
        commitUs.flatMap(us => usOf(v).map(us <= _)).getOrElse(true)
      case EqualTo(a, v: String) if a == SegChangeFeed.ChangeTypeCol =>
        v == tag
      case In(a, vs) if a == SegChangeFeed.ChangeTypeCol =>
        vs.contains(tag)
      case And(l, r) =>
        mayMatchMeta(l, g, tag, commitUs) && mayMatchMeta(r, g, tag, commitUs)
      case Or(l, r) =>
        mayMatchMeta(l, g, tag, commitUs) || mayMatchMeta(r, g, tag, commitUs)
      case _ => true
    }
  }

  /** A pushed filter the planner can use: references only the three
    * filterable metadata columns, in shapes [[mayMatchMeta]] judges. */
  private[sources] def supportedCdfFilter(
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(CommitGenCol, _) | In(CommitGenCol, _) |
           GreaterThan(CommitGenCol, _) | GreaterThanOrEqual(CommitGenCol, _) |
           LessThan(CommitGenCol, _) | LessThanOrEqual(CommitGenCol, _) => true
      case EqualTo(CommitTsCol, _) | GreaterThan(CommitTsCol, _) |
           GreaterThanOrEqual(CommitTsCol, _) | LessThan(CommitTsCol, _) |
           LessThanOrEqual(CommitTsCol, _) => true
      case EqualTo(a, _) if a == SegChangeFeed.ChangeTypeCol => true
      case In(a, _) if a == SegChangeFeed.ChangeTypeCol => true
      case And(l, r) => supportedCdfFilter(l) && supportedCdfFilter(r)
      case Or(l, r) => supportedCdfFilter(l) && supportedCdfFilter(r)
      case _ => false
    }
  }

  /** Output mapping for a PRUNED read: per required field, the table
    * ordinal (Left, into `cols`) or the metadata code (Right: 0 =
    * `_change_type`, 1 = `_commit_generation`, 2 = `_commit_timestamp`). */
  private[sources] def outMapping(cols: StructType, required: StructType)
      : Array[Either[Int, Int]] =
    required.fields.map { f =>
      f.name match {
        case n if n == SegChangeFeed.ChangeTypeCol => Right(0)
        case CommitGenCol => Right(1)
        case CommitTsCol => Right(2)
        case n => Left(cols.fieldIndex(n))
      }
    }

  /** Partitions for ONE generation step (g-1 → g): the per-commit
    * row diff. Append commits take the no-join fast path; `tagOk`
    * (from the pushed `_change_type`/generation filters) skips whole
    * append steps a delete-only consumer never needs. */
  /** The (prev, gen) commit steps of a branch since its fork base,
    * ascending, plus the current head — what a branch-scoped
    * changefeed walks instead of the dense main generation line. */
  private[sources] def branchSteps(dir: String,
      branch: String): (Long, Long, Seq[(Long, Long)]) = {
    val (head, base, chain) = SegManifest.refsFull(dir).getOrElse(branch,
      throw new IllegalArgumentException(
        s"gseg changefeed: no branch '$branch' at $dir — CALL branch " +
          "first"))
    (head, base, (base +: chain.dropRight(1)).zip(chain))
  }

  private[sources] def stepPartitions(dir: String, g: Long,
      buckets: Int, tagOk: String => Boolean = _ => true,
      prevGen: Option[Long] = None)
      : Seq[InputPartition] = {
    val curM = SegManifest.retained(dir, g, "changefeed")
    // generation 0's "changes" are its creation: a diff against
    // empty; a branch step names its explicit lineage predecessor
    val prevM = prevGen.getOrElse(g - 1) match {
      case p if p < 0 => SegManifest.Manifest(-1L, None, Nil)
      case p => SegManifest.retained(dir, p, "changefeed")
    }
    val cur = curM.names.toSet
    val prev = prevM.names.toSet
    val us = commitUsOf(dir, g)
    def dvPath(m: SegManifest.Manifest, n: String): Option[String] =
      m.dvs.get(n).map(d => s"$dir/$d")
    // DELETION-VECTOR deltas on CARRIED segments: a merge-on-read
    // DELETE changes no file set — the commit's changes live entirely
    // in the vector map. One partition per changed segment; the
    // reader emits the newly masked ordinals as deletes (and, after
    // rollback restored a smaller vector, unmasked ones as inserts).
    val dvChanged = (cur & prev).toSeq.sorted
      .filter(n => curM.dvs.get(n) != prevM.dvs.get(n))
    val dvParts: Seq[InputPartition] =
      if (dvChanged.isEmpty || !(tagOk("delete") || tagOk("insert"))) Nil
      else {
        graft.Counters.add("gseg_cdf_dv_files", dvChanged.size.toLong)
        dvChanged.map(n => SegCdfDvPartition(s"$dir/$n",
          dvPath(prevM, n), dvPath(curM, n), g, us))
      }
    // rows already vector-deleted BEFORE a rewrite replaced their
    // segment were deleted in an EARLIER generation: both sides of
    // the segment-set diff read under their own generation's vectors
    val removedN = (prev -- cur).toSeq.sorted
    val addedN = (cur -- prev).toSeq.sorted
    val removed = removedN.map(n => s"$dir/$n")
    val added = addedN.map(n => s"$dir/$n")
    val fileParts: Seq[InputPartition] = if (removed.isEmpty) {
      if (added.isEmpty || !tagOk("insert")) {
        // an APPEND step emits ONLY inserts: a consumer whose pushed
        // filters exclude inserts at this generation never opens it
        if (added.nonEmpty)
          graft.Counters.add("gseg_cdf_steps_skipped", 1L)
        Nil
      } else {
        graft.Counters.add("gseg_cdf_append_files", added.size.toLong)
        added.map(f => SegCdfAppendPartition(f, g, us,
          dvPath(curM, f.substring(dir.length + 1))))
      }
    } else {
      if (!AllTags.exists(tagOk)) {
        graft.Counters.add("gseg_cdf_steps_skipped", 1L)
        Nil
      } else {
        graft.Counters.add("gseg_cdf_diff_files",
          (removed.size + added.size).toLong)
        graft.Counters.add("gseg_cdf_diff_steps", 1L)
        (0 until buckets).map(b =>
          SegCdfDiffPartition(removed, added, g, b, buckets, us,
            removedN.map(dvPath(prevM, _)), addedN.map(dvPath(curM, _))))
      }
    }
    dvParts ++ fileParts
  }
}

/** One added file of an APPEND commit: every row is an `insert`.
  * `dv` masks rows already deleted in this generation (impossible
  * for a freshly appended file today, carried for honesty). */
case class SegCdfAppendPartition(file: String, gen: Long, commitUs: Long,
    dv: Option[String] = None)
  extends InputPartition

/** The initial-snapshot batch of a CDF STREAM: the whole live
  * generation at stream start, emitted as `insert` rows — net of the
  * generation's deletion vectors (a masked row is not live). */
case class SegCdfInitialPartition(file: String, gen: Long, commitUs: Long,
    dv: Option[String] = None)
  extends InputPartition

/** One hash bucket of a CHANGE commit's row diff. `removedDvs` /
  * `addedDvs` align with `removed` / `added`: each side's rows read
  * under its OWN generation's deletion vectors, so rows deleted in an
  * earlier generation never re-classify here. */
case class SegCdfDiffPartition(removed: Seq[String], added: Seq[String],
    gen: Long, bucket: Int, nBuckets: Int, commitUs: Long,
    removedDvs: Seq[Option[String]] = Nil,
    addedDvs: Seq[Option[String]] = Nil)
  extends InputPartition

/** One carried segment whose deletion vector CHANGED at `gen`: the
  * merge-on-read DELETE's changefeed representation. Newly masked
  * ordinals are `delete` rows; ordinals a rollback UNMASKED are
  * `insert` rows (resurrection). Cost: one pruned pass over the
  * segment — strictly less than the copy-on-write alternative, which
  * would put the whole segment on both sides of the row diff. */
case class SegCdfDvPartition(file: String, prevDv: Option[String],
    curDv: Option[String], gen: Long, commitUs: Long)
  extends InputPartition

/** `required` is the PRUNED output schema (any subset/order of table
  * columns + the three metadata columns); `pushed` the accepted
  * metadata filters — readers use them to SKIP work (insert readers
  * prune the segment read to the requested table columns; diff
  * readers skip materializing non-requested change classes), and
  * Spark re-checks every filter post-scan (all are returned as
  * residual), so under-emission is the only effect. */
case class SegCdfReaderFactory(table: StructType, keyCols: Seq[String],
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case SegCdfAppendPartition(f, g, us, dv) =>
        new SegCdfInsertReader(f, table, required, g, us, dv)
      case SegCdfInitialPartition(f, g, us, dv) =>
        new SegCdfInsertReader(f, table, required, g, us, dv)
      case d: SegCdfDiffPartition =>
        new SegCdfDiffReader(d, table, keyCols, required,
          tag => pushed.forall(
            SegCdf.mayMatchMeta(_, d.gen, tag, Some(d.commitUs))))
      case d: SegCdfDvPartition =>
        new SegCdfDvReader(d, table, required,
          tag => pushed.forall(
            SegCdf.mayMatchMeta(_, d.gen, tag, Some(d.commitUs))))
    }
}

/** Tags every row of one segment `insert` at generation `gen` —
  * reading ONLY the requested table columns (the segment reader seeks
  * past pruned blocks, so a 3-of-40-column CDF consumer pays 3
  * columns' bytes on the dominant insert path). */
class SegCdfInsertReader(file: String, table: StructType,
    required: StructType, gen: Long, commitUs: Long,
    dv: Option[String] = None)
    extends PartitionReader[InternalRow] {
  private val tableReq = StructType(required.fields.filter(f =>
    table.fieldNames.contains(f.name)))
  private val inner =
    new SegPartitionReader(file, tableReq, Array.empty, dv = dv)
  private val mapping = SegCdf.outMapping(tableReq, required)
  private val meta: Array[Any] =
    Array[Any](UTF8String.fromString("insert"), gen, commitUs)
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = {
    val r = inner.get()
    val a = new Array[Any](mapping.length)
    var i = 0
    while (i < mapping.length) {
      a(i) = mapping(i) match {
        case Left(ti) =>
          if (r.isNullAt(ti)) null else r.get(ti, tableReq(ti).dataType)
        case Right(m) => meta(m)
      }
      i += 1
    }
    new GenericInternalRow(a)
  }
  override def close(): Unit = inner.close()
}

/** One bucket of a change commit's diff: hash-joins the removed
  * (pre) and added (post) rows whose keys land in this bucket.
  * Memory = this bucket's share of the commit's churn (never the
  * table); rows per key match as a multiset queue, so a violated
  * uniqueness contract degrades to delete+insert instead of wrong
  * pairings. Unchanged rewrite-carried rows (key matched, payload
  * equal) emit NOTHING — the changefeed contract.
  *
  * Pruning honesty: the diff CLASSIFIES by full-row payload equality,
  * so its reads stay FULL-WIDTH regardless of projection (pruning the
  * comparison would misreport a row changed only in unprojected
  * columns as carried). What pruning does buy here: the OUTPUT rows
  * carry only the requested columns, and change classes the pushed
  * filters exclude (`tagOk`) are never materialized — a delete-only
  * consumer builds no update pairs. The full-width cost is bounded by
  * the commit's churn, never the table. */
class SegCdfDiffReader(p: SegCdfDiffPartition, table: StructType,
    keyCols: Seq[String], required: StructType,
    tagOk: String => Boolean) extends PartitionReader[InternalRow] {
  private val keyIdx = keyCols.map(table.fieldIndex)
  private val nonKeyIdx =
    table.fieldNames.indices.filterNot(keyIdx.contains)

  // SUPPORTED-TYPES INVARIANT: bucketing by Seq[Any].hashCode and
  // pairing payloads with == is correct for every VALUE-based
  // internal rep gseg stores — Long/Int/Double/Float/Boolean and
  // UTF8String, timestamps/dates as their Long/Int internals, v6
  // Decimal (semantic equals/hashCode; one column = one
  // (precision, scale), so equal values hash equal). The array-backed
  // reps — v6 BinaryType → Array[Byte] and v6 ARRAY<FLOAT> →
  // ArrayData, both identity-based for hashCode/== — are NORMALIZED
  // through [[norm]] below before any hash or comparison — extend
  // [[SegSource.tag]] only together with norm (the r14 VERDICT
  // hygiene contract, now load-bearing).
  /** Identity-based reps → value-based wrappers, for key bucketing,
    * key-map lookups and payload pairing: Array[Byte] (BinaryType)
    * and ArrayData (gseg's only array column is ARRAY<FLOAT>, so
    * toFloatArray is total) become immutable ArraySeqs whose
    * hashCode/equals run over the elements. Every scalar rep passes
    * through. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a.toFloatArray())
    case x => x
  }
  private def keyOf(r: InternalRow): Seq[Any] =
    keyIdx.map(i => if (r.isNullAt(i)) null
      else norm(r.get(i, table(i).dataType)))
  private def inBucket(k: Seq[Any]): Boolean =
    java.lang.Math.floorMod(k.hashCode, p.nBuckets) == p.bucket
  private def copyOf(r: InternalRow): InternalRow = {
    val a = new Array[Any](table.length)
    var i = 0
    while (i < table.length) {
      // raw reps here (rows are EMITTED from these copies — a
      // GenericInternalRow must keep Array[Byte] for BinaryType);
      // norm applies only at compare/hash seams
      a(i) = if (r.isNullAt(i)) null else r.get(i, table(i).dataType)
      i += 1
    }
    new GenericInternalRow(a)
  }
  private def payloadEq(a: InternalRow, b: InternalRow): Boolean =
    nonKeyIdx.forall { i =>
      val av = if (a.isNullAt(i)) null else norm(a.get(i, table(i).dataType))
      val bv = if (b.isNullAt(i)) null else norm(b.get(i, table(i).dataType))
      if (av == null) bv == null else av == bv
    }

  /** Rows of `files`, one reader at a time. `hasNext` is IDEMPOTENT
    * (buffered lookahead — `r.next()` advances the reader, so a naive
    * wrapper would skip a row per double-check) and the reader closes
    * as soon as its file drains (ADVICE r14). */
  private def rowsOf(files: Seq[String],
      dvs: Seq[Option[String]]): Iterator[InternalRow] =
    files.iterator.zipWithIndex.flatMap { case (f, fi) =>
      val r = new SegPartitionReader(f, table, Array.empty,
        dv = if (dvs.isEmpty) None else dvs(fi))
      new Iterator[InternalRow] {
        private var pending: InternalRow = _
        private var closed = false
        def hasNext: Boolean = {
          if (pending != null) return true
          if (closed) return false
          if (r.next()) { pending = r.get(); true }
          else { r.close(); closed = true; false }
        }
        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException(f)
          val out = pending
          pending = null
          out
        }
      }
    }

  private val mapping = SegCdf.outMapping(table, required)
  private def out(r: InternalRow, tag: String): InternalRow = {
    val a = new Array[Any](mapping.length)
    var i = 0
    while (i < mapping.length) {
      a(i) = mapping(i) match {
        case Left(ti) =>
          if (r.isNullAt(ti)) null else r.get(ti, table(ti).dataType)
        case Right(0) => UTF8String.fromString(tag)
        case Right(1) => p.gen
        case Right(_) => p.commitUs
      }
      i += 1
    }
    new GenericInternalRow(a)
  }

  // the diff, materialized per bucket (bounded by churn/buckets);
  // non-requested change classes are never materialized (tagOk)
  private val it: Iterator[InternalRow] = {
    val pre = new scala.collection.mutable.HashMap[
      Seq[Any], scala.collection.mutable.Queue[InternalRow]]()
    rowsOf(p.removed, p.removedDvs).foreach { r =>
      val k = keyOf(r)
      if (inBucket(k))
        pre.getOrElseUpdate(k, scala.collection.mutable.Queue.empty)
          .enqueue(copyOf(r))
    }
    val wantIns = tagOk("insert")
    val wantPre = tagOk("update_preimage")
    val wantPost = tagOk("update_postimage")
    val wantDel = tagOk("delete")
    val changes = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    rowsOf(p.added, p.addedDvs).foreach { r =>
      val k = keyOf(r)
      if (inBucket(k)) pre.get(k).flatMap(q =>
          if (q.isEmpty) None else Some(q.dequeue())) match {
        case None => if (wantIns) changes += out(r, "insert")
        case Some(old) =>
          if ((wantPre || wantPost) && !payloadEq(old, r)) {
            if (wantPre) changes += out(old, "update_preimage")
            if (wantPost) changes += out(r, "update_postimage")
          } // equal: the rewrite carried the row — no change
      }
    }
    if (wantDel) pre.valuesIterator.foreach(q =>
      q.foreach(old => changes += out(old, "delete")))
    changes.iterator
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** One carried segment whose deletion vector changed at `gen`
  * ([[SegCdfDvPartition]]): streams the segment ONCE (pruned to the
  * requested table columns — position classification needs no
  * payload comparison, unlike the rewrite diff) and emits the newly
  * masked ordinals as `delete` rows, the newly UNMASKED ones
  * (rollback resurrection) as `insert` rows. Ordinals ascend on both
  * sides, so the walk is two lockstep pointers — no hashing, no
  * buffering. */
class SegCdfDvReader(p: SegCdfDvPartition, table: StructType,
    required: StructType, tagOk: String => Boolean)
    extends PartitionReader[InternalRow] {
  private val tableReq = StructType(required.fields.filter(f =>
    table.fieldNames.contains(f.name)))
  private val mapping = SegCdf.outMapping(tableReq, required)

  private val prev: Array[Int] =
    p.prevDv.map(SegDv.read).getOrElse(Array.emptyIntArray)
  private val cur: Array[Int] =
    p.curDv.map(SegDv.read).getOrElse(Array.emptyIntArray)
  // cur \ prev = newly deleted; prev \ cur = resurrected
  private def diff(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) { out(k) = a(i); k += 1 }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }
  private val dels: Array[Int] =
    if (tagOk("delete")) diff(cur, prev) else Array.emptyIntArray
  private val inss: Array[Int] =
    if (tagOk("insert")) diff(prev, cur) else Array.emptyIntArray

  // unmasked, unfiltered: emission index == stored ordinal
  private val inner =
    new SegPartitionReader(p.file, tableReq, Array.empty)
  private var ord = -1
  private var di = 0
  private var ii = 0
  private var current: InternalRow = _

  private def out(r: InternalRow, tag: String): InternalRow = {
    val a = new Array[Any](mapping.length)
    var i = 0
    while (i < mapping.length) {
      a(i) = mapping(i) match {
        case Left(ti) =>
          if (r.isNullAt(ti)) null else r.get(ti, tableReq(ti).dataType)
        case Right(0) => UTF8String.fromString(tag)
        case Right(1) => p.gen
        case Right(_) => p.commitUs
      }
      i += 1
    }
    new GenericInternalRow(a)
  }

  override def next(): Boolean = {
    while ((di < dels.length || ii < inss.length) && inner.next()) {
      ord += 1
      if (di < dels.length && dels(di) == ord) {
        di += 1
        current = out(inner.get(), "delete")
        return true
      }
      if (ii < inss.length && inss(ii) == ord) {
        ii += 1
        current = out(inner.get(), "insert")
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** The read-only CDF relation `spark.read`/`readStream` resolve when
  * the changefeed options are present. */
class SegCdfTable(table: StructType, path: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  override def name(): String = s"gseg-cdf:$path"
  override def schema(): StructType = SegCdf.outputSchema(table)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
    private var required: StructType = SegCdf.outputSchema(table)
    private var pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array.empty

    /** A consumer selecting 3 of 40 columns reads 3 columns' bytes on
      * every insert path (the diff path stays full-width for
      * classification — see [[SegCdfDiffReader]]). */
    override def pruneColumns(req: StructType): Unit = required = req

    /** Accept `_change_type` (=/IN) and `_commit_generation`
      * (=/IN/ranges) shapes; return EVERYTHING as residual (the
      * parquet contract: Spark re-checks, skipping is never a
      * correctness dependency). Planning skips whole generations the
      * generation filters exclude and whole APPEND steps an
      * insert-excluding filter makes irrelevant; diff readers skip
      * materializing excluded classes. */
    override def pushFilters(
        filters: Array[org.apache.spark.sql.sources.Filter])
        : Array[org.apache.spark.sql.sources.Filter] = {
      pushed = filters.filter(SegCdf.supportedCdfFilter)
      filters
    }
    override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
      pushed

    override def build(): Scan = {
      val keys = SegCdf.resolveKeys(path, table,
        Option(options.get(SegCdf.KeysOption)))
      val (from, to) = SegCdf.resolveBounds(path,
        Option(options.get(SegCdf.FromOption)),
        Option(options.get(SegCdf.FromTimestampOption)),
        Option(options.get(SegCdf.ToOption)),
        Option(options.get(SegCdf.ToTimestampOption)))
      new SegCdfScan(path, table, keys, from, to,
        math.max(1, options.getInt(SegCdf.BucketsOption, 8)),
        Option(options.get(SegCdf.MaxGensPerTriggerOption)).map(_.toLong),
        required, pushed,
        Option(options.get(SegCdf.BranchOption)).filter(_.nonEmpty))
    }
  }
}

case class SegCdfScan(path: String, table: StructType,
    keyCols: Seq[String], fromGen: Option[Long], toGen: Option[Long],
    buckets: Int, maxGensPerTrigger: Option[Long] = None,
    required: StructType = null,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    branch: Option[String] = None)
    extends Scan with Batch {
  private def requiredEff: StructType =
    Option(required).getOrElse(SegCdf.outputSchema(table))
  override def readSchema(): StructType = requiredEff
  override def description(): String =
    s"gseg cdf path=$path keys=[${keyCols.mkString(",")}] " +
      s"from=$fromGen to=$toGen buckets=$buckets " +
      s"ReadColumns=[${requiredEff.fieldNames.mkString(",")}] " +
      s"PushedFilters=[${pushed.mkString(", ")}]"

  override def toBatch: Batch = this
  /** Row-only, so Spark plans the partitions once (see [[SegScan]]). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED
  override def planInputPartitions(): Array[InputPartition] = {
    val from = fromGen.getOrElse(throw new IllegalArgumentException(
      s"gseg changefeed: batch read needs ${SegCdf.FromOption}=<gen> " +
        s"(streaming tails without it via ${SegCdf.ReadChangefeedOption})"))
    def tagOkAt(g: Long): String => Boolean = {
      // the commit clock is known per generation at plan time, so a
      // pushed `_commit_timestamp` bound skips commits exactly like a
      // generation bound (the snapshot read is one the step pays
      // anyway); unresolvable clocks conservatively match
      lazy val us = scala.util.Try(SegCdf.commitUsOf(path, g)).toOption
      tag => pushed.forall(SegCdf.mayMatchMeta(_, g, tag, us))
    }
    branch match {
      case Some(b) =>
        // branch mode: walk the branch's committed lineage, each step
        // diffed against its EXPLICIT predecessor (gens are sparse on
        // a branch — main commits interleave the number line). Same
        // loud range validation as the main path.
        val (_, _, steps) = SegCdf.branchSteps(path, b)
        val to = toGen.getOrElse(Long.MaxValue)
        require(from >= 0 && from <= to,
          s"gseg changefeed: bad generation range [$from, $to]")
        steps.filter { case (_, g) => g >= from && g <= to }
          .flatMap { case (p, g) =>
            val tagOk = tagOkAt(g)
            if (!SegCdf.AllTags.exists(tagOk)) {
              graft.Counters.add("gseg_cdf_gens_skipped", 1L)
              Nil
            } else SegCdf.stepPartitions(path, g, buckets, tagOk,
              prevGen = Some(p))
          }.toArray
      case None =>
        val to = toGen.orElse(SegManifest.read(path).map(_._1)).getOrElse(
          throw new IllegalStateException(
            s"gseg changefeed: no generation manifest at $path"))
        require(from >= 0 && from <= to,
          s"gseg changefeed: bad generation range [$from, $to]")
        (from to to).flatMap { g =>
          val tagOk = tagOkAt(g)
          if (!SegCdf.AllTags.exists(tagOk)) {
            // the pushed generation filters exclude this commit
            // whole: its snapshots are never even listed
            graft.Counters.add("gseg_cdf_gens_skipped", 1L)
            Nil
          } else SegCdf.stepPartitions(path, g, buckets, tagOk)
        }.toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SegCdfReaderFactory(table, keyCols, requiredEff, pushed)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // a starting bound (generation or timestamp-resolved) skips the
    // initial snapshot: the stream begins at that commit's diff —
    // Delta's startingVersion/startingTimestamp contract
    new SegCdfMicroBatchStream(path, table, keyCols, buckets, fromGen,
      maxGensPerTrigger, branch)
}

/** CDF MICRO-BATCH stream: offsets are committed generations (the
  * same [[SegGenOffset]] protocol and strict checkpoint parse as the
  * file-level generation source), the first batch is the initial
  * snapshot as inserts, and every later batch the per-generation row
  * diff — change commits ARRIVE as their update/delete rows instead
  * of failing the query or vanishing. Recovery replans (lo, hi]
  * from retained snapshots: identical diffs, exactly-once. */
class SegCdfMicroBatchStream(path: String, table: StructType,
    keyCols: Seq[String], buckets: Int,
    startingGen: Option[Long] = None,
    maxGensPerTrigger: Option[Long] = None,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Branch mode: the offset line is the branch's committed LINEAGE
    * (fork base, then each branch commit), never main's. A
    * checkpointed offset the current lineage no longer contains —
    * fast_forward or rebase rewrote history under the stream — fails
    * LOUDLY; a branch stream's life is one WAP audit cycle. */
  private def branchState(b: String): (Long, Long, Seq[(Long, Long)]) =
    SegCdf.branchSteps(path, b)

  /** Admission control: cap each batch at `max_gens_per_trigger`
    * commits. With a cap, a stream against deep retained history
    * catches up as BOUNDED batches (the engine keeps triggering until
    * it reaches the real latest); the initial-snapshot batch under a
    * cap pins to the EARLIEST admissible generation and the replay
    * continues per-commit from there. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[SegGenOffset].gen
    branch match {
      case Some(b) =>
        // admission caps by lineage STEPS (branch gens are sparse on
        // the shared number line, so +m over raw gens means nothing)
        val (head, _, steps) = branchState(b)
        val pending = steps.map(_._2).filter(_ > lo)
        SegGenOffset(maxGensPerTrigger match {
          case Some(m) if lo >= 0 && pending.nonEmpty =>
            // cap in Long space: a cap >= 2^31 means "all pending"
            pending.take(math.min(math.max(1L, m),
              Int.MaxValue.toLong).toInt).last
          case _ => math.max(lo, head)
        })
      case None =>
        val live = SegManifest.read(path).map(_._1).getOrElse(-1L)
        val capped = maxGensPerTrigger
          .map(m => math.min(live, lo + math.max(1L, m))).getOrElse(live)
        // the first batch under a cap pins an initial SNAPSHOT — clamp
        // its offset to a retained generation (ADVICE r14)
        SegGenOffset(
          if (lo < 0 && startingGen.isEmpty && capped < live)
            SegCdf.clampInitialToRetained(path, capped, live)
          else capped)
    }
  }
  override def reportLatestOffset(): Offset = latestOffset()

  /** No starting bound → -1 (initial snapshot as inserts). With one,
    * the first planned range is (start-1, latest] — per-commit diffs
    * from the requested generation on, no snapshot batch. */
  override def initialOffset(): Offset =
    SegGenOffset(startingGen.map(_ - 1).getOrElse(-1L))
  override def latestOffset(): Offset = branch match {
    case Some(b) => SegGenOffset(branchState(b)._1)
    case None =>
      SegGenOffset(SegManifest.read(path).map(_._1).getOrElse(-1L))
  }
  override def deserializeOffset(json: String): Offset = {
    import org.json4s._
    jackson.JsonMethods.parse(json) \ "gen" match {
      case JInt(g) => SegGenOffset(g.toLong)
      case _ => throw new IllegalStateException(
        s"gseg cdf stream: checkpoint offset '$json' is not a " +
          "generation offset; start a fresh checkpoint")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[SegGenOffset].gen
    val hi = end.asInstanceOf[SegGenOffset].gen
    if (hi < 0 || hi <= lo) return Array.empty
    if (lo < 0 && startingGen.isEmpty) {
      // initial snapshot: the complete generation at hi (main's live,
      // or the branch head at stream start), as inserts — net of its
      // deletion vectors (masked rows are not live)
      val m = SegManifest.retained(path, hi, "changefeed")
      val names = m.names.sorted
      val us = SegCdf.commitUsOf(path, hi)
      graft.Counters.add("gseg_cdf_initial_files", names.size.toLong)
      names.map(n => SegCdfInitialPartition(s"$path/$n", hi, us,
        m.dvs.get(n).map(d => s"$path/$d")): InputPartition).toArray
    } else branch match {
      case Some(b) =>
        val (_, base, steps) = branchState(b)
        // lo is legitimate when it is the fork base, a consumed
        // lineage gen, or the fresh-stream start-1 of an explicit
        // starting bound (whose numeric predecessor may be a
        // main-only generation — gens are sparse on a branch)
        require(lo == base || steps.exists(_._2 == lo) ||
            startingGen.contains(lo + 1),
          s"gseg cdf stream: checkpoint offset $lo is no longer on " +
            s"branch '$b' lineage (fast_forward/rebase rewrote history" +
            ") — start a fresh checkpoint against the new lineage")
        steps.filter { case (_, g) => g > lo && g <= hi }
          .flatMap { case (p, g) =>
            SegCdf.stepPartitions(path, g, buckets, prevGen = Some(p)) }
          .toArray
      case None =>
        // with a starting bound, lo = start-1 may be -1 (start = 0):
        // the range below then replays from the creation commit
        (lo + 1 to hi).flatMap(g =>
          SegCdf.stepPartitions(path, g, buckets)).toArray
    }
  }
  // streaming reads get no pushdown from Spark (V2ScanRelationPushDown
  // is batch-only): full output schema, no filters
  override def createReaderFactory(): PartitionReaderFactory =
    SegCdfReaderFactory(table, keyCols, SegCdf.outputSchema(table))
}
