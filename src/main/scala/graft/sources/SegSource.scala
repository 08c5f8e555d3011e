package graft.sources

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** "gseg" — a minimal columnar segment format with a full
  * DataSourceV2 integration (read AND write), built to demonstrate
  * the scan- and commit-side contracts a 100 TB source lives or dies
  * by:
  *
  *  1. COLUMN PRUNING that actually skips bytes: each segment stores
  *     columns as independent length-prefixed blocks, so a reader
  *     asked for 2 of 5 columns seeks past the other blocks instead
  *     of decoding them ([[SegScanBuilder.pruneColumns]] →
  *     [[SegPartitionReader]]).
  *  2. PLANNING-TIME FILE SKIPPING: segment headers carry per-column
  *     typed min/max (exact — long stats stay longs, never rounded
  *     through double) plus null counts; [[SegScan.planInputPartitions]]
  *     drops whole files whose range cannot satisfy the pushed
  *     filters — the zone-map idea parquet row-group stats and
  *     lakehouse manifests implement, at file grain.
  *  3. FILTER PUSHDOWN with the parquet-style safety contract:
  *     supported comparisons are evaluated inside the reader (rows
  *     die before reaching Spark) AND still returned as post-scan
  *     filters, so Spark re-checks them — pushdown is a performance
  *     statement, never a correctness dependency, and filter columns
  *     are guaranteed to stay in the required schema.
  *  4. AGGREGATE PUSHDOWN, metadata-only: unfiltered global
  *     COUNT/MIN/MAX queries are answered from segment HEADERS — one
  *     partial row per file, zero column blocks read — the
  *     manifest-level fast path every lakehouse table format serves
  *     `SELECT count(*)` from. Declined (safely, Spark falls back to
  *     a normal scan) whenever filters or group-bys are present or a
  *     stat-less (string) column is aggregated.
  *  5. A real COMMIT PROTOCOL on the write side: task writers emit
  *     hidden `.tmp-` segments and a commit message; the driver-side
  *     job commit renames winners into place and job abort deletes
  *     them — a speculative or retried task attempt can never leave a
  *     half-segment visible. Overwrite goes through
  *     [[SupportsTruncate]]. The job commit is CRASH-ATOMIC on every
  *     gseg dir: it stages generation-stamped names and flips the
  *     [[SegManifest]] pointer in one atomic rename. A catalog table
  *     retains the superseded generation as time-travel history until
  *     vacuum; a plain path dir's overwrite retires it at commit.
  *
  * Segments buffer per task (segment size = task partition size);
  * a production writer would roll segments at a byte budget and stage
  * through the Hadoop FileSystem API instead of java.io — the commit
  * choreography is the part that transfers. Supported types: long,
  * int, double, string, boolean, timestamp (micros-since-epoch
  * longs), date (days-since-epoch ints), float (v6), decimal with
  * precision ≤ 18 (v6 — stored as unscaled longs at the column's
  * fixed scale), binary (v6 — opaque len-prefixed payloads: no zone
  * stats, but NDV sketches and opted-in blooms ride the same bytes
  * hash as strings), float vectors `array<float>` (v6 — embedding
  * columns as count-prefixed float runs; no stats, no sketches: a
  * vector's pruning story is the ANN index layer, not zone maps) —
  * time columns get the same exact zone-map stats as keys — with
  * per-column null bitmaps.
  *
  * Layout per file (v2):
  *   "GSEG" magic, version byte (2), int nRows, int nCols,
  *   per column: name (len-prefixed UTF-8), type tag byte,
  *               long blockBytes, long nNulls, byte hasStats,
  *               long minBits, long maxBits (raw value for long/int,
  *               doubleToLongBits for double; absent semantics when
  *               hasStats=0 — string columns or all-null blocks),
  *   per column block: nRows-bit null bitmap (packed bytes), then
  *               non-null values (fixed width; strings len-prefixed).
  */
object SegSource {
  /** Read/write option declaring the identity partition column for
    * storage-partitioned layout (our stand-in for the catalog
    * metadata a real lakehouse table carries). */
  val PartitionColOption = "partition_col"

  /** Parse a comma-separated column-list option value (the
    * `partition_col` multi-column form: "a,b"). */
  private[sources] def splitCols(v: String): Seq[String] =
    v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Name of the synthesized per-row metadata column carrying the
    * row's segment path (SupportsMetadataColumns on catalog tables;
    * the runtime group-filter attribute for row-level DML). */
  val FileMetaName = "_file"

  /** Name of the synthesized per-row metadata column carrying the
    * row's STORED ordinal within its segment (0-based, pre-mask:
    * deletion-vector'd rows still consume ordinals, filtered rows
    * too). `(_file, _pos)` is the delta DELETE's row id — what a
    * merge-on-read DELETE writes into the vector. */
  val PosMetaName = "_pos"

  /** Fails on a column name no table may store: the two metadata
    * columns and Spark's row-level rewrite marker would shadow it on
    * every read, and `_pos` is the merge-on-read row id.
    * CREATE, CTAS, ADD COLUMN, RENAME COLUMN and every write check. */
  private[sources] def requireUnreserved(name: String): Unit =
    require(!Set(FileMetaName, PosMetaName,
      org.apache.spark.sql.catalyst.util.RowDeltaUtils.OPERATION_COLUMN)
      .contains(name), s"gseg: '$name' is a reserved column name")

  /** Live deletion-vector map of `dir` as ABSOLUTE paths (segment →
    * vector), from the generation manifest. Empty for manifest-less
    * dirs and vector-free generations. Time-travel reads override
    * this with their snapshot's own map. */
  private[sources] def dvPathsOf(dir: String): Map[String, String] =
    SegManifest.readManifestForSession(dir).map(_.dvs.map {
      case (seg, dv) => s"$dir/$seg" -> s"$dir/$dv"
    }).getOrElse(Map.empty)

  /** Segment names AND the deletion-vector map from ONE
    * `readManifest` call — the consistent snapshot every batch scan
    * must plan against. Resolving the two through separate manifest
    * reads (as the scan once did) lets a merge-on-read DELETE commit
    * BETWEEN them pair the new generation's file set with the stale
    * (smaller) vector map — silently resurrecting just-deleted rows —
    * or let an already-accepted header-aggregate push overcount rows
    * a vector masks. [[SegScanBuilder]] takes this snapshot once and
    * pins both halves into the [[SegScan]] it builds, so names, dv
    * map, the pushAggregation accept decision, statistics and split
    * planning all describe the SAME committed generation (a commit
    * racing past the snapshot means the scan serves the older —
    * still consistent — generation: ordinary snapshot isolation).
    * None = no manifest yet (a dir an older build wrote: names come
    * from the listing, which never carries vectors). */
  private[sources] def manifestSnapshot(dir: String)
      : Option[(Seq[String], Map[String, String])] =
    // session-aware: under spark.gseg.wap.branch, tables carrying the
    // ref serve their BRANCH head (names + dvs from ONE read, as ever)
    SegManifest.readManifestForSession(dir).map { m =>
      (m.names.sorted.map(n => s"$dir/$n"),
       m.dvs.map { case (seg, dv) => s"$dir/$seg" -> s"$dir/$dv" })
    }

  /** Read option PINNING the scan to an explicit comma-separated list
    * of segment NAMES under the path, bypassing both the manifest and
    * the listing — the changefeed's handle onto a retained
    * generation's exact (sub)set of files. An empty value pins to
    * zero files (a valid empty read); segment names are this writer's
    * own `[A-Za-z0-9._-]` tokens, so the comma framing is safe. */
  val PinnedFilesOption = "pinned_files"

  /** Read option PINNING the deletion-vector map alongside
    * `pinned_files`: `seg.gseg=dv-x.gdv` pairs, comma-separated; an
    * empty value pins NO vectors. ABSENT means the live manifest's
    * map — right for pinned reads of the live generation (compaction,
    * runtime group filtering); a read of an OLD generation's files
    * (changefeed) must pin that generation's own map or rows deleted
    * SINCE would vanish from history. */
  val PinnedDvsOption = "pinned_dvs"

  /** Parse a `pinned_dvs` value into an absolute-path map. */
  private[sources] def parsePinnedDvs(dir: String,
      v: String): Map[String, String] =
    v.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { pair =>
      pair.split('=') match {
        case Array(seg, dv) => s"$dir/$seg" -> s"$dir/$dv"
        case _ => throw new IllegalArgumentException(
          s"gseg: bad $PinnedDvsOption entry '$pair' (want seg=dv)")
      }
    }.toMap

  /** Streaming-read option for MANIFEST tables (generation-offset
    * stream): skip CHANGE commits (generations that rewrote or
    * removed files — DML, compaction, Complete-mode replacement)
    * instead of failing the query; only pure-append generations
    * stream. Mirrors Delta's `skipChangeCommits`. */
  val SkipChangeCommitsOption = "skip_change_commits"

  /** Write option: lay out the declared clustering WITHOUT requiring
    * a Spark-side distribution — the task writer SORTS its buffer by
    * the effective keys at flush, so every segment is still
    * single-key/single-bucket and properly stamped, at the cost of up
    * to (tasks x local distinct keys) output files instead of one per
    * key. This is the resolution-free path for `bucket(n, col)`
    * layouts OUTSIDE the catalog: Spark can only resolve a bucket
    * transform distribution through a FunctionCatalog, which a
    * path-based write has none of — `CALL compact` uses this (with a
    * coalesce bounding the task count) to keep bucket tables
    * compactable. */
  val ClusterLocalOption = "cluster_local"

  private[sources] val Magic = Array[Byte]('G', 'S', 'E', 'G')
  /** v3 adds OPTIONAL string zone-map stats (flag byte 2: two
    * length-prefixed byte strings) next to the numeric pair (flag 1).
    * String stats are emitted only when the column's min and max are
    * pure ASCII and untruncated (<= 48 bytes): that makes byte order,
    * Java UTF-16 order and Spark's UTF8String binary order all AGREE
    * for any filter value, so file pruning can never disagree with
    * row-grain or engine semantics (the parquet signed-vs-unsigned
    * string-stats lesson).
    *
    * v4 adds two header-resident metadata surfaces (both optional,
    * both read back as absent from v2/v3 files — old files keep old
    * guarantees, never a refusal to read):
    *  - FILE PROPERTIES: a small string KV map after the row/col
    *    counts. The bucket-clustered writer stamps
    *    `bucket.<col> = <n>:<id>` per segment — the self-describing
    *    declaration the scan recovers `bucket(n, col)` layouts from
    *    (min/max stats cannot prove single-bucketness the way
    *    min==max proves single-valuedness: a bucket's members are
    *    scattered across the value domain).
    *  - PER-COLUMN NDV SKETCH: a dense HyperLogLog register array
    *    (p=10, 1 KiB) per eligible column, built from the writer's
    *    own 64-bit cell hashes. Registers MERGE by elementwise max,
    *    so planning can estimate table-level distinct counts from
    *    headers alone ([[SegScan.estimateStatistics]] → CBO join
    *    sizing) at any file count — the property a single stored
    *    estimate could never give. ~3% relative error at p=10. */
  private[sources] val Version: Byte = 4

  /** v5 appends OPTIONAL per-column bloom filters: the header carries
    * a flag (+ byte length and hash count) per column, the filter
    * bit arrays sit AFTER the data blocks in column order — parsing
    * stays O(header), readers never touch them, and planning seeks
    * straight to the one filter a point predicate needs. */
  private[sources] val Version5: Byte = 5

  /** v6 adds two column types (no layout change — old readers would
    * only ever see the new tags in new files):
    *  - FLOAT, tag 7: 4-byte IEEE-754 values; zone-map stats stored
    *    as the value's EXACT double promotion (doubleToLongBits), so
    *    an ALTER COLUMN FLOAT→DOUBLE widen keeps every old file's
    *    stats valid verbatim — the same trick INT→BIGINT plays with
    *    raw long bits. NDV hashes the double bits for the same
    *    reason.
    *  - DECIMAL(p ≤ 18, s), tag 8: unscaled 8-byte longs at the
    *    column's FIXED scale; the header carries (precision, scale)
    *    as two bytes after the tag. Unscaled order = value order at
    *    one scale, so min/max stats are the unscaled longs, exact.
    *    A DECIMAL(p,s)→DECIMAL(p+k,s) widen (same scale, wider
    *    precision, still ≤ 18) re-reads the same unscaled longs —
    *    stats, NDV hashes and encoded blocks all stay valid;
    *    scale-changing or >18 widenings are rejected loudly at ALTER
    *    time. Precision >18 never gets stored, so the long backing is
    *    an invariant, not an assumption. */
  private[sources] val Version6: Byte = 6

  /** v7 adds ONE column type (again no layout change):
    *  - DECIMAL(18 < p ≤ 38, s), tag 11: the int128 path — unscaled
    *    values as TWO 8-byte longs (hi/lo of the 128-bit two's-
    *    complement unscaled integer) at the column's FIXED scale.
    *    38 digits < 2^127, so the pair is lossless for every legal
    *    Spark decimal; the reference's own wei-scale sums (~8.4e25)
    *    need exactly this. Zone-map min/max can't ride the 64-bit
    *    stat slots, so tag 11 stores them through the v3 STRING-stat
    *    slots as plain unscaled-decimal strings (≤ 40 ASCII bytes;
    *    unscaled order = value order at one fixed scale, so they are
    *    EXACT) — [[ColMeta.minVal]] parses them back by tag. NDV
    *    hashes the unscaled value long-identically when it fits 64
    *    bits, so a DECIMAL(p≤18)→DECIMAL(p>18) widen merges sketches
    *    coherently across the tag-8/tag-11 file boundary; the widen
    *    itself is metadata-only exactly like INT→BIGINT (old tag-8
    *    long blocks promote at the decode seam). */
  private[sources] val Version7: Byte = 7

  // ---------------- clustering keys ----------------

  /** One declared clustering key: `identity(col)` (buckets = None) or
    * `bucket(n, col)`. Rendered/parsed as the sidecar's string form
    * (`"col"` / `"bucket(n,col)"`) so [[SegMeta]]'s `cluster` array
    * stays a plain string list (pre-r15 sidecars parse unchanged as
    * identity keys). */
  private[sources] case class ClusterKey(col: String, buckets: Option[Int],
      unit: Option[String] = None, trunc: Option[Int] = None) {
    def render: String = (buckets, unit, trunc) match {
      case (Some(n), _, _) => s"bucket($n,$col)"
      case (None, Some(u), _) => s"$u($col)"
      case (None, None, Some(w)) => s"truncate($w,$col)"
      case _ => col
    }
    def renamed(oldName: String, newName: String): ClusterKey =
      if (col == oldName) copy(col = newName) else this
    /** The V2 expression form ([[Transform]]) of this key. */
    def toV2: org.apache.spark.sql.connector.expressions.Transform = {
      import org.apache.spark.sql.connector.expressions.Expressions
      (buckets, unit, trunc) match {
        case (Some(n), _, _) => Expressions.bucket(n, col)
        case (None, Some("years"), _) => Expressions.years(col)
        case (None, Some("months"), _) => Expressions.months(col)
        case (None, Some("days"), _) => Expressions.days(col)
        case (None, Some("hours"), _) => Expressions.hours(col)
        case (None, None, Some(w)) =>
          Expressions.apply("truncate",
            Expressions.literal(w), Expressions.column(col))
        case _ => Expressions.identity(col)
      }
    }
    /** The form the SCAN's KeyGroupedPartitioning reports. Spark's
      * scan-side transform conversion (V2ExpressionUtils) only
      * accepts SINGLE-REFERENCE transforms — a literal argument is
      * special-cased for `bucket` alone — so the 2-arg
      * `truncate(w, col)` would silently drop to UnknownPartitioning.
      * The width rides IN THE FUNCTION NAME instead (`truncate<w>`,
      * served by the catalog): same one definition, spelled so the
      * SPJ machinery can reason about it; unequal widths get unequal
      * canonical names and correctly refuse to align. The write-side
      * distribution keeps the standard 2-arg spelling (its resolver
      * converts literals fine). */
    def toV2Scan: org.apache.spark.sql.connector.expressions.Transform = {
      import org.apache.spark.sql.connector.expressions.Expressions
      (buckets, unit, trunc) match {
        case (None, None, Some(w)) =>
          Expressions.apply(s"truncate$w", Expressions.column(col))
        case _ => toV2
      }
    }
  }
  private[sources] object ClusterKey {
    private val BucketRe = """(?i)bucket\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r
    private val TruncRe = """(?i)truncate\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r
    private val TemporalRe =
      """(?i)(years|months|days|hours)\(\s*([^)]+?)\s*\)""".r
    def parse(s: String): ClusterKey = s.trim match {
      case BucketRe(n, c) =>
        // same floors as the DDL path (ofTransform): a sidecar or
        // cluster_by spec is parsed here directly, and a zero width
        // would divide-by-zero at the first write
        require(n.toInt >= 1, s"gseg: bucket count $n < 1 in '$s'")
        ClusterKey(c, Some(n.toInt))
      case TruncRe(w, c) =>
        require(w.toInt >= 1, s"gseg: truncate width $w < 1 in '$s'")
        ClusterKey(c, None, None, Some(w.toInt))
      case TemporalRe(u, c) => ClusterKey(c, None, Some(u.toLowerCase))
      case c => ClusterKey(c, None)
    }
    /** From a catalog `PARTITIONED BY` transform. Loud on shapes gseg
      * does not lay out. */
    def ofTransform(
        t: org.apache.spark.sql.connector.expressions.Transform): ClusterKey = {
      require(t.references.length == 1 &&
        t.references()(0).fieldNames.length == 1,
        s"gseg: unsupported partition transform $t (single column only)")
      val c = t.references()(0).fieldNames()(0)
      def intArg(what: String): Int = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.dataType == IntegerType =>
          l.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(
        s"gseg: $what transform without its width/count: $t"))
      t.name match {
        case "identity" => ClusterKey(c, None)
        case u @ ("years" | "months" | "days" | "hours") =>
          ClusterKey(c, None, Some(u))
        case "bucket" =>
          val n = intArg("bucket")
          require(n >= 1, s"gseg: bucket count $n < 1")
          ClusterKey(c, Some(n))
        case "truncate" =>
          val w = intArg("truncate")
          require(w >= 1, s"gseg: truncate width $w < 1")
          ClusterKey(c, None, None, Some(w))
        case other => throw new IllegalArgumentException(
          s"gseg: unsupported partition transform '$other' (identity, " +
            "bucket(n, col), years/months/days/hours, truncate(w, col))")
      }
    }
  }

  /** `zorder(a,b)` cluster spec → Some((a, b)). Z-order is a
    * LAYOUT-ONLY clustering: it declares no key groups and no SPJ
    * alignment — its whole value is the WRITE-SIDE Morton sort
    * making every segment's zone maps tight on BOTH columns at once,
    * so two-dimensional range/point predicates file-prune on either
    * dimension (the Delta OPTIMIZE ZORDER BY contract). Recovery is
    * therefore stats-only: scans ignore the spec, reads need no
    * transform resolution, and a table that stops re-clustering
    * simply decays to unsorted appends (loud nowhere, wrong
    * nowhere). */
  private[sources] val ZOrderRe =
    """(?i)zorder\(\s*([^,()\s]+)\s*,\s*([^,()\s]+)\s*\)""".r
  private[sources] def parseZOrder(spec: String): Option[(String, String)] =
    spec.trim match {
      case ZOrderRe(a, b) => Some((a, b))
      case _ => None
    }

  /** Types a z-order column may have: integers (the interleave is
    * bit arithmetic over the low `bits` of the value). */
  private[sources] def zorderClusterType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType => true
    case _ => false
  }

  /** Writer-side Morton interleave — bit i of x → bit 2i, bit i of y
    * → bit 2i+1 over the masked low `bits`, the SAME mapping as
    * [[graft.operators.ZOrder.morton2]] (the Column form the compact
    * rewrite shuffles by); keep the two in lockstep. */
  private[sources] def mortonOf(x: Long, y: Long, bits: Int = 16): Long = {
    val mask = (1L << bits) - 1
    val mx = x & mask
    val my = y & mask
    var out = 0L
    var i = 0
    while (i < bits) {
      out |= ((mx >> i) & 1L) << (2 * i)
      out |= ((my >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  /** Split a comma-separated cluster-spec list, commas inside
    * `bucket(n,col)` kept intact. */
  private[sources] def splitClusterSpecs(v: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    v.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case ch => cur.append(ch)
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Types an IDENTITY clustering key may have: the scan must be able
    * to PROVE single-valuedness from header stats (exact numeric
    * min==max, v3 ASCII string stats min==max, or tag-11 decimal's
    * exact unscaled-string stats — so wei-scale DECIMAL(38) account
    * keys cluster like any integer). */
  private[sources] def identityClusterType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }
  /** Types `bucket(n, col)` accepts: hashable with a stable identity
    * (doubles excluded — -0.0/0.0 and NaN bit-patterns make value
    * identity ambiguous; booleans are pointless to bucket). */
  private[sources] def bucketClusterType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }
  /** Types a TEMPORAL transform accepts: TIMESTAMP for all four
    * units; DATE for years/months/days (an hour of a date is
    * meaningless and rejected, Iceberg's rule). */
  private[sources] def temporalClusterType(unit: String,
      dt: DataType): Boolean = dt match {
    case TimestampType => true
    case DateType => unit != "hours"
    case _ => false
  }

  /** Types `truncate(w, col)` accepts: integers (range binning —
    * `truncate(1000000, k)` lays a fact table out in key blocks) and
    * strings (codepoint-prefix clustering). */
  private[sources] def truncClusterType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType => true
    case _ => false
  }

  /** Apply `truncate(w, _)` to a key cell's internal value — the
    * Iceberg truncate semantics: integers bin to `v - (v mod w)`
    * (floor-mod, so negatives bin downward), strings cut to their
    * first w CODEPOINTS. MONOTONE in the input (prefix truncation
    * preserves order; floor binning preserves numeric order), which
    * is what lets recovery prove single-valuedness from [min, max]
    * stats alone — same argument as the temporal transforms. */
  private[sources] def truncateOf(w: Int, v: Any): Any = v match {
    case l: java.lang.Long =>
      java.lang.Long.valueOf(l.longValue - Math.floorMod(l.longValue, w.toLong))
    case i: java.lang.Integer =>
      java.lang.Integer.valueOf(i.intValue - Math.floorMod(i.intValue, w))
    case s: UTF8String => if (s.numChars <= w) s else s.substring(0, w)
    case s: String => // writer cells carry strings as UTF-8 byte arrays
      throw new IllegalArgumentException("gseg truncate: raw String cell")
    case b: Array[Byte] =>
      val u = UTF8String.fromBytes(b)
      if (u.numChars <= w) b else u.substring(0, w).getBytes
    case other => throw new IllegalArgumentException(
      s"gseg truncate: unsupported cell ${other.getClass.getName}")
  }

  /** Apply a temporal transform to a key cell's INTERNAL value
    * (timestamp = epoch micros UTC, date = epoch days): the ordinal
    * since 1970 at the unit's grain. ONE definition shared by the V2
    * function (the write shuffle), the writer's run splitting, and
    * the scan's layout recovery — the same single-hash discipline as
    * `bucket`. Monotone in the input, which is what lets recovery
    * prove single-valuedness from [min, max] alone. */
  private[sources] def temporalOf(unit: String, v: Any): Int = {
    val epochDay: Long = v match {
      case micros: java.lang.Long =>
        if (unit == "hours")
          return Math.floorDiv(micros.longValue, 3600L * 1000000L).toInt
        Math.floorDiv(micros.longValue, 86400L * 1000000L)
      case days: java.lang.Integer =>
        require(unit != "hours", "gseg: hours(col) needs a TIMESTAMP")
        days.longValue
      case other => throw new IllegalArgumentException(
        s"gseg: temporal key over non-temporal cell " +
          s"${other.getClass.getName}")
    }
    unit match {
      case "days" => epochDay.toInt
      case "months" =>
        val d = java.time.LocalDate.ofEpochDay(epochDay)
        (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
      case "years" =>
        java.time.LocalDate.ofEpochDay(epochDay).getYear - 1970
    }
  }

  // ---------------- 64-bit cell hashing (bucket + NDV) ----------------

  /** Murmur3's 64-bit finalizer (public-domain mixing constants):
    * full avalanche over a long — the register-index quality HLL
    * needs and the distribution quality bucketing needs. */
  private[sources] def fmix64(l0: Long): Long = {
    var l = l0
    l ^= l >>> 33
    l *= 0xff51afd7ed558ccdL
    l ^= l >>> 33
    l *= 0xc4ceb9fe1a85ec53L
    l ^= l >>> 33
    l
  }
  /** FNV-1a 64 over bytes, avalanched through [[fmix64]]. */
  private[sources] def bytesHash64(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) {
      h ^= (b(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    fmix64(h)
  }
  /** The ONE cell-hash definition every bucket consumer shares: the
    * writer's run splitting, the scan's layout recovery, and the V2
    * `bucket` scalar function Spark shuffles/joins through
    * ([[SegBucketFunction]]) — three call sites, one hash, or the
    * layout silently lies. Accepts writer cells (boxed primitives /
    * UTF-8 byte arrays) and engine-internal values (UTF8String). */
  private[sources] def cellHash64(v: Any): Long = v match {
    case l: java.lang.Long => fmix64(l.longValue)
    case i: java.lang.Integer => fmix64(i.longValue)
    case s: UTF8String => bytesHash64(s.getBytes)
    case b: Array[Byte] => bytesHash64(b)
    case s: String => bytesHash64(s.getBytes(UTF_8))
    case other => throw new IllegalArgumentException(
      s"gseg bucket: unhashable cell ${other.getClass.getName}")
  }
  /** Bucket id of a non-null key value; nulls all land in bucket 0
    * (same verdict on the write shuffle and the layout recovery). */
  private[sources] def bucketOf(v: Any, n: Int): Int =
    if (v == null) 0 else java.lang.Math.floorMod(cellHash64(v), n.toLong).toInt

  /** Total order over writer cells (boxed primitives / UTF-8 byte
    * arrays; nulls first) — the writer's flush-time buffer sort, so
    * single-key runs form under ANY task distribution. The order
    * itself is irrelevant to correctness (only the GROUPING matters);
    * byte arrays compare unsigned-lexicographically for stable
    * string-run locality. */
  private[sources] def cellCompare(a: AnyRef, b: AnyRef): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Array[Byte], y: Array[Byte]) =>
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case (x: org.apache.spark.sql.types.Decimal,
          y: org.apache.spark.sql.types.Decimal) => x.compare(y)
    case (x, y) => throw new IllegalArgumentException(
      s"gseg: incomparable cells ${x.getClass.getName}/${y.getClass.getName}")
  }

  // ---------------- HLL NDV sketch (v4 headers) ----------------

  private[sources] val HllP = 10
  private[sources] val HllM = 1 << HllP // 1024 registers

  private[sources] def hllAdd(regs: Array[Byte], hash: Long): Unit = {
    val idx = (hash >>> (64 - HllP)).toInt
    val rank = (java.lang.Long.numberOfLeadingZeros((hash << HllP) | 1L) + 1)
      .toByte
    if (rank > regs(idx)) regs(idx) = rank
  }
  private[sources] def hllMerge(into: Array[Byte], from: Array[Byte]): Unit = {
    var i = 0
    while (i < HllM) {
      if (from(i) > into(i)) into(i) = from(i)
      i += 1
    }
  }
  // ---------------- per-segment bloom filters (v5) ----------------

  private[sources] val BloomK = 7
  private[sources] val BloomBitsPerValue = 10
  /** Cap one filter at 1 MiB of bits — a 100k-row segment wants
    * ~125 KiB; the cap only bounds pathological segment sizes. */
  private[sources] val BloomMaxBits = 1 << 23

  private[sources] def bloomBitsFor(nonNull: Long): Int = {
    val want = math.max(64L, nonNull * BloomBitsPerValue)
    math.min(BloomMaxBits.toLong, ((want + 63) / 64) * 64).toInt
  }
  /** Double hashing (Kirsch-Mitzenmacher): k indexes from one 64-bit
    * cell hash — h2 re-mixed so the pair is independent enough. */
  private[sources] def bloomSet(words: Array[Long], hash: Long): Unit = {
    val m = words.length * 64
    val h2 = fmix64(hash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < BloomK) {
      val idx = java.lang.Math.floorMod(hash + i * h2, m.toLong).toInt
      words(idx >> 6) |= (1L << (idx & 63))
      i += 1
    }
  }
  private[sources] def bloomTest(words: Array[Long], hash: Long): Boolean = {
    val m = words.length * 64
    val h2 = fmix64(hash ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < BloomK) {
      val idx = java.lang.Math.floorMod(hash + i * h2, m.toLong).toInt
      if ((words(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
  /** A FILTER VALUE (external V1-filter types) normalized to the
    * representation the writer hashed for the stored cells — None for
    * shapes no hash consumer can judge (conservative keep). Int and
    * Long normalize to the same hash (both via longValue), so an
    * INT→BIGINT widen keeps old blooms and bucket stamps valid. */
  private[sources] def hashableValue(v: Any): Option[Any] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case s: String => Some(s)
    // binary filter values hash the same bytes the writer's NDV and
    // blooms did — point lookups on opted-in payload columns prune
    case b: Array[Byte] => Some(b)
    case d: java.sql.Date => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d))
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }
  private[sources] def bloomHashOf(v: Any): Option[Long] =
    hashableValue(v).map(cellHash64)

  /** Standard HLL estimate with the small-range linear-counting
    * correction (Flajolet et al. 2007). */
  private[sources] def hllEstimate(regs: Array[Byte]): Long = {
    val m = HllM.toDouble
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < HllM) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else e
    math.max(1L, math.round(corrected))
  }

  /** Type registry note: the CDF diff reader's key bucketing and
    * payload pairing ([[SegCdfDiffReader]]) rely on value-based
    * hashCode/== per cell. Every scalar rep here satisfies that
    * directly (Long/Int/Double/Float/Boolean/UTF8String, Spark's
    * Decimal); the ARRAY-backed reps — v6 BinaryType → Array[Byte]
    * and v6 ARRAY<FLOAT> → ArrayData, both identity-based — are
    * normalized at that reader's compare/hash seams
    * (`SegCdfDiffReader.norm`). Any new array-backed type must extend
    * norm in the SAME change. */
  private[sources] def tag(dt: DataType): Byte = dt match {
    case LongType      => 0
    case IntegerType   => 1
    case DoubleType    => 2
    case StringType    => 3
    case BooleanType   => 4
    case TimestampType => 5 // stored as micros-since-epoch longs
    case DateType      => 6 // stored as days-since-epoch ints
    case FloatType     => 7 // v6: 4-byte values, double-bits stats
    case d: DecimalType if d.precision <= 18 => 8 // v6: unscaled longs
    case _: DecimalType => 11 // v7: unscaled int128 as two longs
                              // (Spark caps precision at 38 < 2^127)
    case BinaryType    => 9 // v6: len-prefixed bytes, no zone stats
    // v6: FLOAT VECTORS — the embedding column type. Count-prefixed
    // float runs; elements must be non-null (the writer rejects a
    // null element loudly — an embedding with holes is a data bug,
    // not a storable value). Either declared nullability is accepted
    // at the schema gate for parquet-roundtrip ergonomics.
    case ArrayType(FloatType, _) => 10
    // v7: TIMESTAMP_NTZ — wall-clock micros, zone-less (Spark 4 reads
    // modern parquet event data as NTZ natively). Rides the exact
    // long machinery timestamps use; only the TYPE differs, so the
    // tag must too (a reader must reconstruct NTZ, not instant).
    case TimestampNTZType => 12
    case other => throw new IllegalArgumentException(
      s"gseg supports long/int/double/string/boolean/timestamp/date/" +
        s"float/decimal(<=38)/binary/array<float>, got $other")
  }
  /** Column type from header metadata — decimal needs the (prec,
    * scale) pair the tag byte alone can't carry. */
  private[sources] def dtypeOf(cm: ColMeta): DataType = cm.tag match {
    case 0 => LongType
    case 1 => IntegerType
    case 2 => DoubleType
    case 3 => StringType
    case 4 => BooleanType
    case 5 => TimestampType
    case 6 => DateType
    case 7 => FloatType
    case 8 => DecimalType(cm.prec, cm.scale)
    case 9 => BinaryType
    case 10 => ArrayType(FloatType, containsNull = false)
    case 11 => DecimalType(cm.prec, cm.scale)
    case 12 => TimestampNTZType
  }

  /** Convenience writer: route `df` through the V2 write path
    * (`format("gseg").mode(Overwrite)`), one segment per partition. */
  def write(df: DataFrame, dir: String): Unit =
    df.write.format("gseg").mode("overwrite").save(dir)

  // ---------------- segment encoding ----------------

  /** Unsynchronized growable big-endian byte sink for segment block
    * encoding — byte-identical to the DataOutputStream encoding it
    * replaces, minus the per-byte stream hops: `writeLong` was 8
    * synchronized ByteArrayOutputStream.write(int) calls through
    * DataOutputStream; here it is one bounds check and eight array
    * stores. Method names mirror DataOutputStream so the encoder body
    * reads unchanged. */
  private[sources] final class SegBuf(initialCapacity: Int = 1 << 14) {
    private var buf = new Array[Byte](initialCapacity)
    private var len = 0
    private def ensure(extra: Int): Unit =
      if (len + extra > buf.length) {
        var cap = buf.length << 1
        while (cap < len + extra) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def writeBoolean(v: Boolean): Unit = {
      ensure(1); buf(len) = if (v) 1 else 0; len += 1
    }
    def writeInt(v: Int): Unit = {
      ensure(4)
      buf(len) = (v >>> 24).toByte; buf(len + 1) = (v >>> 16).toByte
      buf(len + 2) = (v >>> 8).toByte; buf(len + 3) = v.toByte
      len += 4
    }
    def writeLong(v: Long): Unit = {
      ensure(8)
      buf(len) = (v >>> 56).toByte; buf(len + 1) = (v >>> 48).toByte
      buf(len + 2) = (v >>> 40).toByte; buf(len + 3) = (v >>> 32).toByte
      buf(len + 4) = (v >>> 24).toByte; buf(len + 5) = (v >>> 16).toByte
      buf(len + 6) = (v >>> 8).toByte; buf(len + 7) = v.toByte
      len += 8
    }
    def writeFloat(v: Float): Unit =
      writeInt(java.lang.Float.floatToIntBits(v))
    def writeDouble(v: Double): Unit =
      writeLong(java.lang.Double.doubleToLongBits(v))
    def write(b: Array[Byte]): Unit = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  /** Cell representation inside the writer: boxed Long/Int/Double, or
    * UTF-8 bytes for strings; null for null. `props` is the v4 file
    * property map (bucket-layout stamps). */
  private[sources] def writeSegment(rows: collection.IndexedSeq[Array[AnyRef]],
      schema: StructType, file: String,
      props: Map[String, String] = Map.empty,
      bloomCols: Set[String] = Set.empty): Unit = {
    val n = rows.length
    val nCols = schema.length
    val blocks = new Array[Array[Byte]](nCols)
    val nNulls = new Array[Long](nCols)
    val hasStats = new Array[Boolean](nCols)
    val minBits = new Array[Long](nCols)
    val maxBits = new Array[Long](nCols)
    val minStr = new Array[Array[Byte]](nCols)
    val maxStr = new Array[Array[Byte]](nCols)
    val hll = new Array[Array[Byte]](nCols)
    val blooms = new Array[Array[Long]](nCols)
    def uLess(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    var c = 0
    while (c < nCols) {
      val o = new SegBuf()
      val bitmap = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < n) {
        if (rows(i)(c) == null) {
          bitmap(i >> 3) = (bitmap(i >> 3) | (1 << (i & 7))).toByte
          nNulls(c) += 1
        }
        i += 1
      }
      o.write(bitmap)
      var mnL = Long.MaxValue; var mxL = Long.MinValue
      var mnD = Double.PositiveInfinity; var mxD = Double.NegativeInfinity
      var seen = false
      // floating columns only: NaN fails every </> comparison, so the
      // rolling min/max would silently SKIP it — yet Spark orders NaN
      // GREATEST, so a NaN-blind max understates and a pushed MAX (or
      // DESC TopN file pruning) would diverge from an unpushed scan.
      // Track it and fold it into the stored stats below.
      var sawNaN = false
      // NDV registers (v4): one 64-bit cell hash per non-null value;
      // booleans are skipped (a two-value domain needs no sketch)
      val regs = new Array[Byte](HllM)
      var sketched = false
      // optional bloom (v5): same cell hashes, k-index bit sets
      val bw: Array[Long] =
        if (bloomCols.contains(schema(c).name) &&
            (schema(c).dataType match {
              case DoubleType | FloatType | BooleanType |
                   _: DecimalType => false
              case _ => true
            })) new Array[Long](bloomBitsFor(n.toLong) / 64)
        else null
      i = 0
      schema(c).dataType match {
        case LongType => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val l = v.asInstanceOf[java.lang.Long].longValue()
            o.writeLong(l); seen = true
            if (l < mnL) mnL = l
            if (l > mxL) mxL = l
            hllAdd(regs, fmix64(l)); sketched = true
            if (bw != null) bloomSet(bw, fmix64(l))
          }
          i += 1
        }
        // DATE rides the int path (days since epoch): same encoding,
        // same exact zone-map stats
        case IntegerType | DateType => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val x = v.asInstanceOf[java.lang.Integer].intValue()
            o.writeInt(x); seen = true
            if (x < mnL) mnL = x.toLong
            if (x > mxL) mxL = x.toLong
            hllAdd(regs, fmix64(x.toLong)); sketched = true
            if (bw != null) bloomSet(bw, fmix64(x.toLong))
          }
          i += 1
        }
        case DoubleType => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val d = v.asInstanceOf[java.lang.Double].doubleValue()
            o.writeDouble(d); seen = true
            if (d.isNaN) sawNaN = true
            else {
              if (d < mnD) mnD = d
              if (d > mxD) mxD = d
            }
            hllAdd(regs, fmix64(java.lang.Double.doubleToLongBits(d)))
            sketched = true
          }
          i += 1
        }
        // FLOAT (v6): 4-byte values; stats and NDV hashes via the
        // EXACT double promotion, so FLOAT→DOUBLE widening keeps old
        // files' stats and sketches valid verbatim
        case FloatType => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val f = v.asInstanceOf[java.lang.Float].floatValue()
            o.writeFloat(f); seen = true
            val d = f.toDouble
            if (d.isNaN) sawNaN = true
            else {
              if (d < mnD) mnD = d
              if (d > mxD) mxD = d
            }
            hllAdd(regs, fmix64(java.lang.Double.doubleToLongBits(d)))
            sketched = true
          }
          i += 1
        }
        // DECIMAL p≤18 (v6): unscaled longs at the column's fixed
        // scale — unscaled order IS value order at one scale, so the
        // long min/max machinery gives exact stats; NDV hashes the
        // unscaled long (stable across a precision-only widen)
        case d: DecimalType if d.precision <= 18 => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val l = v.asInstanceOf[java.lang.Long].longValue()
            o.writeLong(l); seen = true
            if (l < mnL) mnL = l
            if (l > mxL) mxL = l
            hllAdd(regs, fmix64(l)); sketched = true
          }
          i += 1
        }
        // DECIMAL p>18 (v7, tag 11): unscaled int128 as hi/lo longs.
        // Min/max tracked over the exact unscaled BigInteger and
        // stored through the STRING-stat slots as plain decimal
        // strings (value order at one fixed scale; ≤ 40 ASCII bytes).
        // NDV hashes long-identically for 64-bit-fitting values so
        // sketches merge coherently across a tag-8→tag-11 widen.
        case _: DecimalType =>
          var mnB: java.math.BigInteger = null
          var mxB: java.math.BigInteger = null
          while (i < n) {
            val v = rows(i)(c)
            if (v != null) {
              val bi = v.asInstanceOf[org.apache.spark.sql.types.Decimal]
                .toJavaBigDecimal.unscaledValue()
              o.writeLong(bi.shiftRight(64).longValue()) // hi (sign)
              o.writeLong(bi.longValue())                // lo (raw)
              if (mnB == null || bi.compareTo(mnB) < 0) mnB = bi
              if (mxB == null || bi.compareTo(mxB) > 0) mxB = bi
              hllAdd(regs,
                if (bi.bitLength < 64) fmix64(bi.longValue())
                else bytesHash64(bi.toByteArray))
              sketched = true
            }
            i += 1
          }
          if (mnB != null) {
            minStr(c) = mnB.toString.getBytes(UTF_8)
            maxStr(c) = mxB.toString.getBytes(UTF_8)
          }
        case StringType =>
          var mnB: Array[Byte] = null
          var mxB: Array[Byte] = null
          while (i < n) {
            val v = rows(i)(c)
            if (v != null) {
              val b = v.asInstanceOf[Array[Byte]]
              o.writeInt(b.length); o.write(b)
              if (mnB == null || uLess(b, mnB)) mnB = b
              if (mxB == null || uLess(mxB, b)) mxB = b
              hllAdd(regs, bytesHash64(b)); sketched = true
              if (bw != null) bloomSet(bw, bytesHash64(b))
            }
            i += 1
          }
          // ASCII + untruncated only: the soundness precondition
          def ok(b: Array[Byte]): Boolean =
            b != null && b.length <= 48 && b.forall(x => (x & 0x80) == 0)
          if (ok(mnB) && ok(mxB)) { minStr(c) = mnB; maxStr(c) = mxB }
        // BINARY (v6): len-prefixed bytes like strings, but NO zone
        // stats of any kind (byte order over opaque payloads prunes
        // nothing a predicate can express) — NDV and opted-in blooms
        // still ride the same bytes hash as strings, so COUNT
        // DISTINCT estimation and point-lookup pruning work on
        // payload columns
        case BinaryType =>
          while (i < n) {
            val v = rows(i)(c)
            if (v != null) {
              val b = v.asInstanceOf[Array[Byte]]
              o.writeInt(b.length); o.write(b)
              hllAdd(regs, bytesHash64(b)); sketched = true
              if (bw != null) bloomSet(bw, bytesHash64(b))
            }
            i += 1
          }
        // FLOAT VECTORS (v6): count-prefixed float runs. No stats, no
        // NDV, no blooms — an embedding column's pruning story is the
        // ANN index layer (IVF/LSH), not zone maps
        case ArrayType(FloatType, _) =>
          while (i < n) {
            val v = rows(i)(c)
            if (v != null) {
              val a = v.asInstanceOf[Array[Float]]
              o.writeInt(a.length)
              var j = 0
              while (j < a.length) { o.writeFloat(a(j)); j += 1 }
            }
            i += 1
          }
        // TIMESTAMP (and NTZ wall-clock micros) ride the long path:
        // same encoding, same exact zone-map stats
        case TimestampType | TimestampNTZType => while (i < n) {
          val v = rows(i)(c)
          if (v != null) {
            val l = v.asInstanceOf[java.lang.Long].longValue()
            o.writeLong(l); seen = true
            if (l < mnL) mnL = l
            if (l > mxL) mxL = l
            hllAdd(regs, fmix64(l)); sketched = true
            if (bw != null) bloomSet(bw, fmix64(l))
          }
          i += 1
        }
        // BOOLEAN: one byte per non-null value; no min/max stats (a
        // two-value domain prunes nothing a predicate can't — IsNull
        // pruning still rides nNulls)
        case BooleanType => while (i < n) {
          val v = rows(i)(c)
          if (v != null)
            o.writeBoolean(v.asInstanceOf[java.lang.Boolean].booleanValue())
          i += 1
        }
        case _ => ()
      }
      blocks(c) = o.toByteArray
      if (sketched) hll(c) = regs
      if (bw != null && sketched) blooms(c) = bw
      schema(c).dataType match {
        case LongType | IntegerType | TimestampType | TimestampNTZType |
             DateType if seen =>
          hasStats(c) = true; minBits(c) = mnL; maxBits(c) = mxL
        case d: DecimalType if d.precision <= 18 && seen =>
          // unscaled longs, exact (tag 11 published via minStr above)
          hasStats(c) = true; minBits(c) = mnL; maxBits(c) = mxL
        case DoubleType | FloatType if seen => // float: double-bits
          hasStats(c) = true
          // NaN-exact stats under Spark's NaN-greatest ordering: a
          // segment that saw NaN stores max = NaN (pushed MAX then
          // returns NaN, exactly what an unpushed scan computes), and
          // min = NaN only when EVERY value was NaN (min never picks
          // NaN while a lesser real value exists). Zone maps and TopN
          // pruning consume stats through bd(), where bd(NaN) = None
          // → the file is conservatively KEPT, never mis-pruned.
          if (sawNaN) {
            mxD = Double.NaN
            if (mnD == Double.PositiveInfinity) mnD = Double.NaN
          }
          minBits(c) = java.lang.Double.doubleToLongBits(mnD)
          maxBits(c) = java.lang.Double.doubleToLongBits(mxD)
        case _ => ()
      }
      c += 1
    }
    val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(file)))
    try {
      out.write(Magic); out.writeByte(Version7)
      out.writeInt(n); out.writeInt(nCols)
      out.writeInt(props.size)
      props.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val kb = k.getBytes(UTF_8); val vb = v.getBytes(UTF_8)
        out.writeInt(kb.length); out.write(kb)
        out.writeInt(vb.length); out.write(vb)
      }
      c = 0
      while (c < nCols) {
        val nm = schema(c).name.getBytes(UTF_8)
        out.writeInt(nm.length); out.write(nm)
        out.writeByte(tag(schema(c).dataType))
        // decimal (tag 8) carries its fixed (precision, scale) pair —
        // the tag byte alone can't reconstruct the type
        schema(c).dataType match {
          case d: DecimalType =>
            out.writeByte(d.precision); out.writeByte(d.scale)
          case _ => ()
        }
        out.writeLong(blocks(c).length.toLong)
        out.writeLong(nNulls(c))
        if (hasStats(c)) {
          out.writeByte(1)
          out.writeLong(minBits(c)); out.writeLong(maxBits(c))
        } else if (minStr(c) != null) {
          out.writeByte(2)
          out.writeInt(minStr(c).length); out.write(minStr(c))
          out.writeInt(maxStr(c).length); out.write(maxStr(c))
        } else out.writeByte(0)
        if (hll(c) != null) { out.writeByte(1); out.write(hll(c)) }
        else out.writeByte(0)
        if (blooms(c) != null) {
          out.writeByte(1)
          out.writeInt(blooms(c).length * 8); out.writeInt(BloomK)
        } else out.writeByte(0)
        c += 1
      }
      blocks.foreach(out.write)
      // bloom bit arrays trail the data blocks (column order): header
      // parses stay O(header), readers never touch them, planning
      // seeks to exactly the one filter a point predicate needs
      c = 0
      while (c < nCols) {
        if (blooms(c) != null) blooms(c).foreach(out.writeLong)
        c += 1
      }
    } finally out.close()
  }

  // ---------------- header / schema ----------------

  private[sources] case class ColMeta(name: String, tag: Byte,
      bytes: Long, nNulls: Long, hasStats: Boolean,
      minBits: Long, maxBits: Long,
      minStr: Option[String] = None, maxStr: Option[String] = None,
      hll: Option[Array[Byte]] = None,
      bloom: Option[(Int, Int)] = None, // (byte length, k hashes)
      prec: Int = 0, scale: Int = 0) {  // decimal (tag 8) only
    /** Exact typed stat values (None for string / all-null). Tag 11
      * (decimal p>18) stores its unscaled min/max as decimal STRINGS
      * in the string-stat slots (the 64-bit slots can't carry int128)
      * — parse them back to Spark Decimals here so every consumer
      * (zone maps, TopN pruning, header MIN/MAX) sees one typed
      * surface. */
    def minVal: Option[Any] =
      if (tag == 11) minStr.map(decStat) else statVal(minBits)
    def maxVal: Option[Any] =
      if (tag == 11) maxStr.map(decStat) else statVal(maxBits)
    private def decStat(s: String): Any =
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new java.math.BigInteger(s), scale),
        prec, scale)
    private def statVal(bits: Long): Option[Any] =
      if (!hasStats) None
      else tag match {
        case 0 => Some(bits)
        case 1 => Some(bits.toInt)
        case 2 => Some(java.lang.Double.longBitsToDouble(bits))
        case 5 => Some(bits) // timestamp micros: Long, the agg partial
                             // and zone maps both speak micros
        case 12 => Some(bits) // ntz micros: same Long internals
        case 6 => Some(bits.toInt) // date days: Int
        case 7 => // float: stats stored as the exact double promotion
          Some(java.lang.Float.valueOf(
            java.lang.Double.longBitsToDouble(bits).toFloat))
        case 8 => // decimal: unscaled long at the column's scale —
                  // Spark's internal Decimal, so agg partials and the
                  // bd() comparator both consume it directly
          Some(org.apache.spark.sql.types.Decimal(bits, prec, scale))
        case _ => None
      }
  }
  private[sources] case class SegHeader(nRows: Int, cols: Array[ColMeta],
      props: Map[String, String] = Map.empty) {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, dtypeOf(c))))
  }

  private[sources] def readHeader(in: DataInputStream): SegHeader = {
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(magic.sameElements(Magic), "not a gseg file")
    val ver = in.readByte()
    require(ver >= 2 && ver <= 7, s"unsupported gseg version $ver")
    val n = in.readInt()
    val nCols = in.readInt()
    val props: Map[String, String] =
      if (ver < 4) Map.empty
      else Seq.fill(in.readInt()) {
        val k = new Array[Byte](in.readInt()); in.readFully(k)
        val v = new Array[Byte](in.readInt()); in.readFully(v)
        new String(k, UTF_8) -> new String(v, UTF_8)
      }.toMap
    val cols = Array.fill(nCols) {
      val nm = new Array[Byte](in.readInt())
      in.readFully(nm)
      val name = new String(nm, UTF_8)
      val t = in.readByte()
      // decimal (tags 8 and 11) carries (precision, scale) bytes
      val (pr, sc) =
        if (t == 8 || t == 11) (in.readByte().toInt, in.readByte().toInt)
        else (0, 0)
      val bytes = in.readLong()
      val nulls = in.readLong()
      val base =
        if (ver == 2) {
          val has = in.readByte() == 1
          ColMeta(name, t, bytes, nulls, has, in.readLong(), in.readLong(),
            prec = pr, scale = sc)
        } else in.readByte() match {
          case 1 => ColMeta(name, t, bytes, nulls, hasStats = true,
            in.readLong(), in.readLong(), prec = pr, scale = sc)
          case 2 =>
            // string zone maps (tag 3) AND tag 11's unscaled-decimal
            // strings ride this slot — prec/scale must survive for
            // the latter's minVal parse
            val mn = new Array[Byte](in.readInt()); in.readFully(mn)
            val mx = new Array[Byte](in.readInt()); in.readFully(mx)
            ColMeta(name, t, bytes, nulls, hasStats = false, 0L, 0L,
              Some(new String(mn, UTF_8)), Some(new String(mx, UTF_8)),
              prec = pr, scale = sc)
          case _ => ColMeta(name, t, bytes, nulls, hasStats = false, 0L, 0L,
            prec = pr, scale = sc)
        }
      val withNdv =
        if (ver < 4 || in.readByte() != 1) base
        else {
          val regs = new Array[Byte](HllM)
          in.readFully(regs)
          base.copy(hll = Some(regs))
        }
      if (ver < 5 || in.readByte() != 1) withNdv
      else withNdv.copy(bloom = Some((in.readInt(), in.readInt())))
    }
    SegHeader(n, cols, props)
  }

  private[sources] def headerOf(file: String): SegHeader = {
    val in = new DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(file)))
    try readHeader(in) finally in.close()
  }

  /** Header with stored column names REWRITTEN to their current names
    * through the table's rename alias map ([[SegMeta]]) — the single
    * seam every read-side consumer (zone maps, row readers, header
    * aggs, key grouping) resolves RENAME COLUMN through: a segment
    * written before the rename stores its blocks under the old name,
    * and this rewrite makes them address like today's schema. A
    * no-op (same object) for tables without renames, and stored
    * names that collide with a live current name keep their own —
    * the guards in [[SegCatalog.alterTable]] make that unreachable,
    * so the filter is belt-and-braces. */
  private[sources] def resolvedHeaderOf(file: String,
      aliasOverride: Option[Map[String, String]] = None): SegHeader =
    resolveRenames(file, headerOf(file), aliasOverride)

  /** The rename-resolution half of [[resolvedHeaderOf]], split out so
    * a reader that already holds the parsed header (e.g. from a
    * whole-file read) doesn't re-open the file for it. */
  private[sources] def resolveRenames(file: String, h: SegHeader,
      aliasOverride: Option[Map[String, String]] = None): SegHeader = {
    val ren = aliasOverride.getOrElse {
      val parent = Paths.get(file).getParent
      if (parent == null) return h
      SegMeta.storedToCurrentAt(parent.toString)
    }
    if (ren.isEmpty) h
    else {
      val live = h.cols.map(_.name).toSet
      SegHeader(h.nRows, h.cols.map { c =>
        ren.get(c.name).filterNot(live.contains) match {
          case Some(cur) => c.copy(name = cur)
          case None => c
        }
      },
      // bucket-layout stamps address their column by stored name too
      h.props.map { case (k, v) =>
        if (k.startsWith("bucket."))
          ren.get(k.stripPrefix("bucket.")).filterNot(live.contains) match {
            case Some(cur) => s"bucket.$cur" -> v
            case None => k -> v
          }
        else k -> v
      })
    }
  }

  private[sources] def listSegments(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) throw new IllegalArgumentException(
      s"gseg path is not a directory: $dir")
    val s = Files.list(p)
    try s.iterator().asScala.map(_.toString)
      .filter(f => f.endsWith(".gseg") &&
        !Paths.get(f).getFileName.toString.startsWith("."))
      .toSeq.sorted
    finally s.close()
  }

  /** The segment set a READ of `dir` must serve: the generation
    * manifest's committed generation, never a mid-commit mixture (see
    * [[SegManifest]]). A dir with no manifest yet (one an older build
    * wrote by renaming files in) reads its listing: the one read-only
    * listing fallback, so a read never writes; the dir's first commit
    * takes that listing as its base. */
  private[sources] def resolveSegments(dir: String): Seq[String] =
    SegManifest.segments(dir).getOrElse(listSegments(dir))

  /** The value of clustering key `k` in a file whose header PROVES the
    * file holds exactly one, in Spark's internal representation; None
    * when unprovable. Identity keys: single-valued stats (a non-ASCII
    * or >48-byte string carries none). bucket(n): the writer's
    * `bucket.<col> = n:<id>` stamp (stats cannot prove one bucket).
    * Layout recovery and [[fileConformsTo]] both read keys here. */
  private[sources] def keyOf(k: ClusterKey, h: SegHeader): Option[Any] = {
    val cm = h.cols.find(_.name == k.col)
    k match {
      case ClusterKey(_, Some(n), _, _) =>
        h.props.get(s"bucket.${k.col}").flatMap { v =>
          v.split(':') match {
            case Array(bn, bid) if bn.toIntOption.contains(n) =>
              bid.toIntOption.map(java.lang.Integer.valueOf)
            case _ => None // foreign bucket count: layout degrades
          }
        }
      case ClusterKey(_, None, Some(u), _) =>
        // temporal: the transform is MONOTONE, so equal unit
        // ordinals at [min, max] prove the whole file lands in
        // one unit — stats alone recover the key, no stamp needed
        cm.flatMap { c =>
          if (c.nNulls != 0 || !c.hasStats) None
          else (c.minVal, c.maxVal) match {
            case (Some(mn), Some(mx)) =>
              val a = temporalOf(u, mn)
              val b = temporalOf(u, mx)
              if (a == b) Some(java.lang.Integer.valueOf(a)) else None
            case _ => None
          }
        }
      case ClusterKey(_, None, None, Some(w)) =>
        // truncate: monotone like temporal — numeric stats for
        // int keys, ASCII string stats (exact-only) for strings
        cm.flatMap { c =>
          if (c.nNulls != 0) None
          else if (c.hasStats) (c.minVal, c.maxVal) match {
            case (Some(mn), Some(mx)) =>
              val a = truncateOf(w, mn)
              val b = truncateOf(w, mx)
              if (a == b) Some(a) else None
            case _ => None
          } else (c.minStr, c.maxStr) match {
            // tag 3 only: tag 11 stores unscaled-decimal strings
            // in these slots — never a STRING truncate key
            case (Some(mn), Some(mx)) if c.tag == 3 =>
              val a = UTF8String.fromString(mn)
              val b = UTF8String.fromString(mx)
              val ta = truncateOf(w, a)
              val tb = truncateOf(w, b)
              if (ta == tb) Some(ta) else None
            case _ => None
          }
        }
      case _ => cm.flatMap { c =>
        if (c.nNulls != 0) None
        else if (c.hasStats && c.minBits == c.maxBits) c.minVal
        // identity key via tag-11 decimal stats: exact strings,
        // single-valued file → the Decimal key
        else if (c.tag == 11) (c.minStr, c.maxStr) match {
          case (Some(mn), Some(mx)) if mn == mx => c.minVal
          case _ => None
        }
        else (c.minStr, c.maxStr) match {
          case (Some(mn), Some(mx)) if mn == mx && c.tag == 3 =>
            Some(UTF8String.fromString(mn))
          case _ => None
        }
      }
    }
  }

  /** Per-file LAYOUT CONFORMANCE witness for `CALL compact(only_mismatched
    * => true)`: does this segment provably hold one value of every
    * declared key ([[keyOf]]) and no null key cells? An unprovable file
    * re-selects for rewrite, never wrongly shared. zorder is the
    * caller's problem (no per-file witness exists). */
  private[graft] def fileConformsTo(specs: Seq[String],
      f: String): Boolean = {
    lazy val h = resolvedHeaderOf(f)
    specs.forall { sp =>
      val k = ClusterKey.parse(sp)
      h.cols.exists(c => c.name == k.col && c.nNulls == 0) &&
        keyOf(k, h).isDefined
    }
  }

  /** [[resolveSegments]], session-aware: under `spark.gseg.wap.branch`
    * a table carrying the ref resolves its BRANCH head — the file set
    * row-level DML's rewrite scan must read, because that is the
    * state its commit will branch-swap against. */
  private[sources] def resolveSegmentsForSession(dir: String): Seq[String] =
    SegManifest.readManifestForSession(dir)
      .map(_.names.sorted.map(n => s"$dir/$n"))
      .getOrElse(resolveSegments(dir))

  // ---------------- filter support ----------------

  /** Exact cross-type ordering for zone-map and row-grain comparison:
    * BigDecimal on both sides, so a long column never rounds through
    * double on its way to a verdict. */
  private[sources] def bd(v: Any): Option[java.math.BigDecimal] = v match {
    case l: Long => Some(java.math.BigDecimal.valueOf(l))
    case i: Int => Some(java.math.BigDecimal.valueOf(i.toLong))
    case s: Short => Some(java.math.BigDecimal.valueOf(s.toLong))
    case b: Byte => Some(java.math.BigDecimal.valueOf(b.toLong))
    case d: Double if !d.isNaN && !d.isInfinite =>
      Some(java.math.BigDecimal.valueOf(d))
    case f: Float if !f.isNaN && !f.isInfinite =>
      Some(java.math.BigDecimal.valueOf(f.toDouble))
    case d: java.math.BigDecimal => Some(d)
    case d: scala.math.BigDecimal => Some(d.bigDecimal)
    // decoded decimal cells / header stats carry Spark's internal
    // Decimal; filter VALUES arrive as java.math.BigDecimal — both
    // land on the same exact arithmetic here
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    // timestamp FILTER VALUES (V1 filters carry external types) map
    // to the same micros the stored longs and header stats speak
    case t: java.sql.Timestamp => Some(java.math.BigDecimal.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case i: java.time.Instant => Some(java.math.BigDecimal.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
    // TIMESTAMP_NTZ filter values (V1 filters carry external types)
    // map to the stored wall-clock micros
    case l: java.time.LocalDateTime => Some(java.math.BigDecimal.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(l)))
    // date FILTER VALUES map to the stored days-since-epoch ints
    case d: java.sql.Date => Some(java.math.BigDecimal.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
    case d: java.time.LocalDate => Some(java.math.BigDecimal.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateToDays(d).toLong))
    case _ => None
  }

  /** Row-grain evaluation of the pushed subset inside the reader. */
  private[sources] def evalFilter(f: Filter, get: String => Any): Boolean = {
    def cmp(a: String, v: Any): Option[Int] = {
      val x = get(a)
      if (x == null) None
      else (x, v) match {
        // binary UTF-8 order (UTF8String.compareTo), NOT Java's UTF-16
        // code-unit order: the two disagree when one operand holds
        // supplementary (non-BMP) characters and the other U+E000..
        // U+FFFF, and a reader-side kill is unrecoverable (Spark's
        // re-check only re-filters rows the reader KEPT) — so the
        // row-grain comparator must be exactly Spark's (ADVICE r14)
        case (s: UTF8String, vs: String) =>
          Some(s.compareTo(UTF8String.fromString(vs)))
        // boolean columns: bd() has no decimal for these, and the
        // reader MUST evaluate accepted shapes correctly (a wrongly
        // dropped row cannot be resurrected by Spark's re-check)
        case (b: java.lang.Boolean, vb: Boolean) =>
          Some(java.lang.Boolean.compare(b.booleanValue(), vb))
        // binary columns: unsigned lexicographic byte order — exactly
        // Spark's BinaryType ordering (TypeUtils.compareBinary), so a
        // pushed =/range on a payload column kills rows the way the
        // engine would; bd() falling through to None here would make
        // an accepted EqualTo silently drop EVERY row
        case (x: Array[Byte], vb: Array[Byte]) =>
          var i = 0
          val n = math.min(x.length, vb.length)
          var out = Option.empty[Int]
          while (out.isEmpty && i < n) {
            val d = (x(i) & 0xff) - (vb(i) & 0xff)
            if (d != 0) out = Some(d)
            i += 1
          }
          Some(out.getOrElse(x.length - vb.length))
        case _ => for (l <- bd(x); r <- bd(v)) yield l.compareTo(r)
      }
    }
    f match {
      case EqualTo(a, v) => cmp(a, v).exists(_ == 0)
      case GreaterThan(a, v) => cmp(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).exists(_ >= 0)
      case LessThan(a, v) => cmp(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).exists(_ <= 0)
      case IsNull(a) => get(a) == null
      case IsNotNull(a) => get(a) != null
      case In(a, vs) => vs.exists(v => v != null && cmp(a, v).contains(0))
      // string predicates: row-grain only (headers carry no string
      // stats, so zone maps conservatively keep the file) — rows die
      // in the reader before reaching Spark, which still re-checks
      case StringStartsWith(a, v) => get(a) match {
        case s: UTF8String => v != null && s.toString.startsWith(v)
        case _ => false // null attr: predicate is null, row dies
      }
      case StringEndsWith(a, v) => get(a) match {
        case s: UTF8String => v != null && s.toString.endsWith(v)
        case _ => false
      }
      case StringContains(a, v) => get(a) match {
        case s: UTF8String => v != null && s.toString.contains(v)
        case _ => false
      }
      case And(l, r) => evalFilter(l, get) && evalFilter(r, get)
      // Or/Not soundness note: eval returns FALSE for null-valued
      // comparisons, and SQL three-valued logic also drops those rows
      // (NULL is never TRUE at a filter), so a kill here is always a
      // kill Spark would make; a keep is always safe (Spark
      // re-checks). Not(x) kills only when x provably held.
      case Or(l, r) => evalFilter(l, get) || evalFilter(r, get)
      case Not(inner) => !evalFilter(inner, get)
      case _ => true
    }
  }

  private[sources] def supportedFilter(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | IsNull(_) |
         IsNotNull(_) | In(_, _) | StringStartsWith(_, _) |
         StringEndsWith(_, _) | StringContains(_, _) => true
    case And(l, r) => supportedFilter(l) && supportedFilter(r)
    case Or(l, r) => supportedFilter(l) && supportedFilter(r)
    case Not(inner) => supportedFilter(inner)
    case _ => false
  }

  // ---------------- runtime (V2 Predicate) filter support ----------------

  private def v2LitValue(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
    e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value() match {
          case u: UTF8String => Some(u.toString)
          case v => Some(v)
        }
      case _ => None
    }

  /** Translate the runtime V2 predicates Spark's dynamic pruning
    * injects (IN / = / AND over one column) into the same V1 Filter
    * shapes the zone-map and row-grain evaluators already speak.
    * Unknown shapes translate to None and are simply not used for
    * skipping — runtime filters are an OPTIMIZATION contract (Spark
    * re-applies the join), so dropping one is always safe. */
  private[sources] def predicateToFilter(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Filter] = {
    val ch = p.children()
    p.name() match {
      case "IN" if ch.nonEmpty =>
        for {
          a <- fieldName(ch.head)
          vs <- Some(ch.tail.flatMap(v2LitValue))
          if vs.length == ch.length - 1
        } yield In(a, vs.toArray)
      case "=" if ch.length == 2 =>
        for { a <- fieldName(ch(0)); v <- v2LitValue(ch(1)) }
          yield EqualTo(a, v)
      case "AND" if ch.length == 2 =>
        (ch(0), ch(1)) match {
          case (l: org.apache.spark.sql.connector.expressions.filter.Predicate,
                r: org.apache.spark.sql.connector.expressions.filter.Predicate) =>
            for { lf <- predicateToFilter(l); rf <- predicateToFilter(r) }
              yield And(lf, rf)
          case _ => None
        }
      case _ => None
    }
  }

  /** A pushed ORDER BY <col> LIMIT k (single numeric key). */
  private[sources] case class TopNPush(col: String, desc: Boolean,
      nullsFirst: Boolean, k: Int)

  // ---------------- aggregate pushdown support ----------------

  /** One pushed aggregate the headers can answer. */
  private[sources] sealed trait HeaderAgg { def outType: DataType }
  private[sources] case object AggCountStar extends HeaderAgg {
    val outType: DataType = LongType
  }
  private[sources] case class AggCountCol(col: String) extends HeaderAgg {
    val outType: DataType = LongType
  }
  private[sources] case class AggMin(col: String, outType: DataType)
    extends HeaderAgg
  private[sources] case class AggMax(col: String, outType: DataType)
    extends HeaderAgg

  private[sources] def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }

  /** Translate `agg` into header-answerable form, or None to decline
    * (Spark then falls back to a normal scan — never wrong, only
    * slower). Stats exist for numeric columns only, so MIN/MAX on a
    * string column declines the whole aggregation. */
  /** Types whose segment headers carry exact min/max stats — the only
    * ones header-answered MIN/MAX may accept (see the whitelist note
    * at the Min/Max cases). */
  private[sources] def statCapable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType |
         TimestampType | TimestampNTZType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  private[sources] def translateAggs(agg: Aggregation,
      schema: StructType): Option[Seq[HeaderAgg]] = {
    if (agg.groupByExpressions().nonEmpty) return None
    val fields = schema.fields.map(f => f.name -> f.dataType).toMap
    val out = agg.aggregateExpressions().map {
      case _: CountStar => AggCountStar
      case c: Count if !c.isDistinct =>
        fieldName(c.column()).filter(fields.contains) match {
          case Some(n) => AggCountCol(n)
          case None => return None
        }
      // min/max accept ONLY types whose headers carry stats — a
      // WHITELIST, deliberately: a blacklist of stat-less types
      // (string, boolean, binary, vectors...) re-breaks every time a
      // new type lands, and the failure mode is a header-answered
      // NULL partial over real data — a wrong answer, not a slow one
      case m: Min =>
        fieldName(m.column()).flatMap(n => fields.get(n).map(n -> _)) match {
          case Some((n, dt)) if statCapable(dt) => AggMin(n, dt)
          case _ => return None
        }
      case m: Max =>
        fieldName(m.column()).flatMap(n => fields.get(n).map(n -> _)) match {
          case Some((n, dt)) if statCapable(dt) => AggMax(n, dt)
          case _ => return None
        }
      case _ => return None
    }
    Some(out.toSeq)
  }
}

/** Entry point registered as format "gseg" (DataSourceRegister via
  * META-INF/services). */
class SegDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gseg"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    val files = SegSource.resolveSegments(path)
    require(files.nonEmpty, "gseg: no .gseg segments under path")
    val base = SegSource.resolvedHeaderOf(files.head).schema
    // changefeed reads surface two extra metadata columns
    if (SegCdf.isCdfRead(options.asCaseSensitiveMap()))
      SegCdf.outputSchema(base)
    else base
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    if (SegCdf.isCdfRead(properties))
      // `schema` may be the user's TABLE schema or inferSchema's
      // extended one — normalize to the table schema either way
      new SegCdfTable(SegCdf.tableSchemaOf(schema), properties.get("path"))
    else new SegTable(schema, properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

/** The V2 `bucket(n, col)` function [[SegCatalog]] serves through
  * Spark's FunctionCatalog SPI — the resolution seam that makes
  * bucket layouts first-class: Spark's write-side distribution
  * (`RequiresDistributionAndOrdering`) and read-side
  * KeyGroupedPartitioning both resolve the `bucket` transform to THIS
  * function, so the shuffle that lays data out, the writer's run
  * splitting, and the scan's layout recovery all hash identically
  * ([[SegSource.cellHash64]]) — the Iceberg bucket-function design.
  * SPJ compatibility keys on `canonicalName`: two gseg tables
  * bucketed with the same count and key type join exchange-free.
  * `produceResult` is the interpreted (non-codegen) path — fine for
  * the once-per-row shuffle key; a magic-method `invoke` would be the
  * codegen upgrade if profiles ever show it. */
class SegBucketUnbound
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): floorMod of gseg's mixed 64-bit cell hash"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 2,
      s"gseg bucket(n, col) takes 2 arguments, got ${inputType.length}")
    val kt = inputType(1).dataType
    require(SegSource.bucketClusterType(kt),
      s"gseg bucket: unsupported key type ${kt.simpleString}")
    SegBucketFunction(kt)
  }
}

case class SegBucketFunction(keyType: DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[
      java.lang.Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"gseg.bucket(${keyType.catalogString})"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): java.lang.Integer = {
    val n = input.getInt(0)
    // null keys land in bucket 0 — the same verdict the writer's run
    // splitter gives, so layout and shuffle agree
    val v = if (input.isNullAt(1)) null else input.get(1, keyType)
    java.lang.Integer.valueOf(SegSource.bucketOf(v, n))
  }
}

/** The TEMPORAL transform functions (`years`/`months`/`days`/`hours`)
  * the catalog serves so `PARTITIONED BY (days(ts))` resolves on the
  * write-side clustered distribution and the scan's recovered
  * KeyGroupedPartitioning — same single-definition discipline as
  * `bucket` ([[SegSource.temporalOf]]), Iceberg's transform-function
  * design. Result types mirror Iceberg's: `days` yields DATE (the
  * epoch-day ordinal IS a date), the others INT ordinals since
  * 1970 at their grain. */
class SegTemporalUnbound(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): ordinal of col's $unit since 1970 (UTC)"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 1,
      s"gseg $unit(col) takes 1 argument, got ${inputType.length}")
    val kt = inputType(0).dataType
    require(SegSource.temporalClusterType(unit, kt),
      s"gseg $unit: needs TIMESTAMP${if (unit == "hours") ""
        else " or DATE"}, got ${kt.simpleString}")
    SegTemporalFunction(unit, kt)
  }
}

case class SegTemporalFunction(unit: String, keyType: DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[
      java.lang.Integer] {
  override def inputTypes(): Array[DataType] = Array(keyType)
  override def resultType(): DataType =
    if (unit == "days") DateType else IntegerType
  override def name(): String = unit
  override def canonicalName(): String =
    s"gseg.$unit(${keyType.catalogString})"
  override def produceResult(input: InternalRow): java.lang.Integer =
    if (input.isNullAt(0)) null
    else java.lang.Integer.valueOf(
      SegSource.temporalOf(unit, input.get(0, keyType)))
}

/** `truncate(w, col)` — Iceberg's width transform: integers bin to
  * `v - (v mod w)` (range layout in key blocks — the sorted-fact
  * shape at 100 TB), strings cut to their first w codepoints (prefix
  * clustering). Same single-definition discipline
  * ([[SegSource.truncateOf]]); result type = the key's own type. */
/** Two spellings of one function: the standard 2-arg
  * `truncate(w, col)` (what DDL declares and the write-side
  * distribution resolves) and the width-baked single-arg
  * `truncate<w>(col)` (what the scan's reported partitioning uses —
  * see [[SegSource.ClusterKey.toV2Scan]] for why). Both bind to the
  * same [[SegSource.truncateOf]]. */
class SegTruncateUnbound(fixedWidth: Option[Int] = None)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String =
    fixedWidth.map(w => s"truncate$w").getOrElse("truncate")
  override def description(): String =
    "truncate(w, col): width-binned integers / codepoint-prefixed strings"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction =
    fixedWidth match {
      case None =>
        require(inputType.length == 2,
          s"gseg truncate(w, col) takes 2 arguments, got ${inputType.length}")
        val kt = inputType(1).dataType
        require(SegSource.truncClusterType(kt),
          s"gseg truncate: needs BIGINT/INT/STRING, got ${kt.simpleString}")
        SegTruncateFunction(kt)
      case Some(w) =>
        require(inputType.length == 1,
          s"gseg truncate$w(col) takes 1 argument, got ${inputType.length}")
        val kt = inputType(0).dataType
        require(SegSource.truncClusterType(kt),
          s"gseg truncate: needs BIGINT/INT/STRING, got ${kt.simpleString}")
        SegTruncateWidthFunction(w, kt)
    }
}

case class SegTruncateFunction(keyType: DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[
      AnyRef] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = keyType
  override def name(): String = "truncate"
  override def canonicalName(): String =
    s"gseg.truncate(${keyType.catalogString})"
  override def produceResult(input: InternalRow): AnyRef = {
    val w = input.getInt(0)
    if (input.isNullAt(1)) null
    else SegSource.truncateOf(w, input.get(1, keyType)).asInstanceOf[AnyRef]
  }
}

case class SegTruncateWidthFunction(w: Int, keyType: DataType)
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[
      AnyRef] {
  override def inputTypes(): Array[DataType] = Array(keyType)
  override def resultType(): DataType = keyType
  override def name(): String = s"truncate$w"
  override def canonicalName(): String =
    // the width is part of the identity: two layouts SPJ-align only
    // at the same width (and type)
    s"gseg.truncate$w(${keyType.catalogString})"
  override def produceResult(input: InternalRow): AnyRef =
    if (input.isNullAt(0)) null
    else SegSource.truncateOf(w, input.get(0, keyType)).asInstanceOf[AnyRef]
}

/** `settings` are the table's [[SegSettings]] (a catalog table's, from
  * its [[SegMeta]] sidecar; none for a path): every read recovers the
  * declared storage-partitioned layout and every write keeps the
  * layout, blooms and budgets without the caller passing options — an
  * option, when present, still wins for that read or write (path-based
  * reads of a catalog dir can opt out or in). */
class SegTable(tschema: StructType, path: String,
    settings: SegSettings = SegSettings())
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"gseg:$path"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def partitioning(): Array[Transform] =
    // zorder specs are layout-only (no V2 transform, no key groups)
    settings.cluster.filter(SegSource.parseZOrder(_).isEmpty).map(c =>
      SegSource.ClusterKey.parse(c).toV2: Transform).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegScanBuilder(tschema, path,
      Option(options.get(SegSource.PartitionColOption))
        .map(SegSource.splitClusterSpecs).getOrElse(settings.cluster),
      Option(options.get(SegSource.PinnedFilesOption)).map(v =>
        v.split(',').toSeq.filter(_.nonEmpty).sorted.map(n => s"$path/$n")),
      options.getBoolean(SegSource.SkipChangeCommitsOption, false),
      maxGensPerTrigger =
        Option(options.get(SegCdf.MaxGensPerTriggerOption)).map(_.toLong),
      dvOverride = Option(options.get(SegSource.PinnedDvsOption))
        .map(SegSource.parsePinnedDvs(path, _)))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    SegWriteBuilder(path, info, settings)
}

// ---------------- read side ----------------

class SegScanBuilder(full: StructType, path: String,
    partitionCols: Seq[String] = Nil,
    pinned: Option[Seq[String]] = None,
    skipChangeCommits: Boolean = false,
    aliasOverride: Option[Map[String, String]] = None,
    maxGensPerTrigger: Option[Long] = None,
    dvOverride: Option[Map[String, String]] = None) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Option[Seq[SegSource.HeaderAgg]] = None
  private var limit: Option[Int] = None
  private var topN: Option[SegSource.TopNPush] = None
  private var emitFile: Boolean = false
  private var emitPos: Boolean = false

  /** ONE manifest read per builder (lazy — forced only when a caller
    * didn't already override both halves): segment names and the
    * deletion-vector map from the same committed generation. See
    * [[SegSource.manifestSnapshot]] for why the two must never come
    * from separate reads. */
  private lazy val snap: Option[(Seq[String], Map[String, String])] =
    SegSource.manifestSnapshot(path)

  /** The deletion-vector map this read must honor: the time-travel
    * override (that snapshot's own vectors) or the builder snapshot's
    * — the map the built scan is pinned to, so the pushAggregation
    * accept decision below and the scan's masking can never disagree.
    * Resolved once at plan time on the driver. */
  private lazy val dvMap: Map[String, String] =
    dvOverride.getOrElse(snap.map(_._2).getOrElse(Map.empty))

  /** Both limit and TopN are PARTIAL pushes by design: Spark keeps the
    * global Limit / TakeOrderedAndProject, so scan-side skipping is a
    * performance statement, never a correctness dependency (the same
    * contract as the re-checked filters). Scala requires one explicit
    * override where the two traits' defaults meet. */
  override def isPartiallyPushed(): Boolean = true

  /** LIMIT k: always accepted — the reader stops emitting after k
    * surviving rows per partition, and planning front-takes segments
    * ([[SegPrune.Limit]]). */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** ORDER BY <numeric col> [ASC|DESC] LIMIT k: accepted when headers
    * can bound it — single sort key with stats and no pushed filters
    * ([[SegPrune.TopN]]); Spark still runs the real TopN. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (pushed.nonEmpty || orders.length != 1) return false
    val o = orders(0)
    SegSource.fieldName(o.expression()) match {
      case Some(n) if full.fields.exists(f =>
          f.name == n && SegSource.statCapable(f.dataType)) =>
        topN = Some(SegSource.TopNPush(n,
          o.direction() == SortDirection.DESCENDING,
          o.nullOrdering() == NullOrdering.NULLS_FIRST, l))
        true
      case _ => false
    }
  }

  /** `_file` is the gseg METADATA column (SupportsMetadataColumns on
    * [[SegDmlTable]]) — a catalog table's read may request it (most
    * importantly, the build side of row-level runtime group filtering
    * projects it to compute the exact affected-file set). It is not a
    * stored column: strip it from the data schema and have the reader
    * synthesize it from the partition's segment path. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    emitFile = requiredSchema.fieldNames.contains(SegSource.FileMetaName)
    emitPos = requiredSchema.fieldNames.contains(SegSource.PosMetaName)
    required = StructType(requiredSchema.fields.filterNot(f =>
      f.name == SegSource.FileMetaName || f.name == SegSource.PosMetaName))
  }

  /** Accept the shapes the reader can evaluate; return EVERYTHING as
    * post-scan (the parquet contract): Spark re-checks pushed filters,
    * so a reader bug degrades to wasted rows, never wrong answers,
    * and filter columns stay in the pruned schema. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(SegSource.supportedFilter)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Metadata-only aggregates: accept only when headers can answer
    * EXACTLY — no pushed filters (stats describe whole files), no
    * group-bys, and every function is COUNT/MIN/MAX over a column
    * with stats. Partial semantics (supportCompletePushDown stays
    * false): one buffer row per file, Spark merges. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushed.nonEmpty) return false
    // deletion vectors invalidate header answers (COUNT overcounts
    // masked rows; a vectored row may BE the min/max): decline the
    // whole push when any file in this read carries a vector — the
    // ordinary masked scan computes the truth, headers only the speed
    if (dvMap.nonEmpty) return false
    SegSource.translateAggs(agg, full) match {
      case some @ Some(_) => aggs = some; true
      case None => false
    }
  }

  /** Scan-relevant keys: zorder specs are write-side layout only
    * (stats-only recovery — the zone maps they tighten do the
    * pruning; there is no key grouping to advertise). */
  private def scanKeys: Seq[String] =
    partitionCols.filter(SegSource.parseZOrder(_).isEmpty)

  override def build(): Scan =
    SegScan(path, required, pushed, aggs, limit, topN,
      // ALL declared keys must qualify or the layout is dropped whole
      // (a partial key would advertise a different partitioning than
      // the files hold): identity keys need a stats-provable type,
      // bucket keys a hashable one
      if (scanKeys.nonEmpty && scanKeys.forall { spec =>
        val k = SegSource.ClusterKey.parse(spec)
        full.fields.exists(f => f.name == k.col &&
          (k match {
            case SegSource.ClusterKey(_, Some(_), _, _) =>
              SegSource.bucketClusterType(f.dataType)
            case SegSource.ClusterKey(_, None, Some(u), _) =>
              SegSource.temporalClusterType(u, f.dataType)
            case SegSource.ClusterKey(_, None, None, Some(_)) =>
              SegSource.truncClusterType(f.dataType)
            case _ => SegSource.identityClusterType(f.dataType)
          }))
      }) scanKeys else Nil,
      emitFile,
      // pin BOTH halves of the builder's snapshot into the scan:
      // callers that pinned their own files (compaction, runtime
      // group filtering, changefeed) keep their pins; everyone else
      // gets the snapshot's names, and the dv map is ALWAYS the one
      // the accept decisions above were made against (for
      // caller-pinned live reads that is the live map at build time —
      // the generation their pins came from). A dir with no manifest
      // yet: pins stay None (the scan lists) and the dv map pins
      // empty, which is exact (listings never carry vectors).
      pinned.orElse(snap.map(_._1)), skipChangeCommits, aliasOverride,
      maxGensPerTrigger, emitPos,
      Some(dvMap))
}

/** `dv` is the segment's deletion-vector path for THIS read's
  * generation (None = nothing masked) — resolved at plan time so
  * executors never consult the manifest. */
case class SegInputPartition(file: String, dv: Option[String] = None)
  extends InputPartition

/** One storage partition = every segment holding key value `key`;
  * reports the key so Spark's storage-partitioned join can align the
  * two sides' partitions without an exchange. Key components carry
  * Spark's INTERNAL representations matched to the reported
  * partitioning expressions: Long/Int/UTF8String for identity keys,
  * the Int bucket id for `bucket(n, col)` keys. `dvs` aligns with
  * `files` (empty = no vectors anywhere in this read). */
case class SegKeyedPartition(files: Seq[String], key: Seq[Any],
    dvs: Seq[Option[String]] = Nil)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(key.toArray[Any])
}

case class SegScan(path: String, required: StructType,
    pushed: Array[Filter], aggs: Option[Seq[SegSource.HeaderAgg]],
    limit: Option[Int] = None, topN: Option[SegSource.TopNPush] = None,
    partitionCols: Seq[String] = Nil, emitFile: Boolean = false,
    pinned: Option[Seq[String]] = None,
    skipChangeCommits: Boolean = false,
    aliasOverride: Option[Map[String, String]] = None,
    maxGensPerTrigger: Option[Long] = None,
    emitPos: Boolean = false,
    dvOverride: Option[Map[String, String]] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Deletion-vector map (absolute paths) this scan masks by. The
    * builder ALWAYS pins it (time-travel override, or its single
    * manifest snapshot — the same read the segment names and the
    * pushAggregation accept came from; see
    * [[SegSource.manifestSnapshot]]), so the live-read fallback here
    * is defensive only. */
  @transient private lazy val dvs: Map[String, String] =
    dvOverride.getOrElse(SegSource.dvPathsOf(path))
  private def dvOf(f: String): Option[String] = dvs.get(f)

  /** The ONE file set this scan plans against — the builder's pins
    * (manifest tables always arrive pinned), else a single directory
    * listing shared by keyGroups, estimateStatistics and
    * planInputPartitions so no two planning steps can see different
    * file sets. */
  @transient private lazy val resolvedFiles: Seq[String] =
    pinned.getOrElse(SegSource.resolveSegments(path))
  /** Each file's header, read at most once per scan: key grouping,
    * statistics and every pruning pass look headers up here. */
  @transient private lazy val header: String => SegSource.SegHeader =
    SegPrune.memo(SegSource.resolvedHeaderOf(_, aliasOverride))
  /** Rows the file's deletion vector masks. */
  private def masked(f: String): Long =
    dvOf(f).map(SegDv.countOf(_).toLong).getOrElse(0L)

  /** Storage-partitioned layout, recovered from HEADERS: with
    * `partition_col` declared and every segment holding exactly one
    * key value (min==max, no nulls — what the keyed writer produces),
    * segments group into one InputPartition per key, each reporting
    * its key via HasPartitionKey, and the scan advertises
    * KeyGroupedPartitioning(identity(col)). Two gseg tables laid out
    * on the same key then JOIN WITHOUT EITHER SIDE SHUFFLING (Spark's
    * storage-partitioned join, spark.sql.sources.v2.bucketing.enabled)
    * — the Iceberg/Delta bucketed-table contract, at 100 TB the
    * difference between a join that moves nothing and one that moves
    * both tables. Any segment violating the one-value invariant
    * degrades the whole scan to unknown partitioning (never wrong,
    * only shuffled).
    *
    * Guarded on `aggs.isEmpty`: a header-agg scan plans per-file
    * buffer partitions (no HasPartitionKey, different count), so a
    * key-grouped `outputPartitioning` there would advertise a layout
    * the actual partitions don't honor. With the guard HERE, every
    * consumer (outputPartitioning, planInputPartitions,
    * filterAttributes) sees the same answer by construction. */
  @transient private lazy val clusterKeys: Seq[SegSource.ClusterKey] =
    partitionCols.map(SegSource.ClusterKey.parse)

  @transient private lazy val keyGroups
      : Option[Seq[(Seq[Any], Seq[String])]] = {
    // emitFile/emitPos also decline key-grouping: the _file
    // synthesizer is a per-segment wrapper, and a metadata read has
    // no join-layout use
    if (aggs.isDefined || emitFile || emitPos || partitionCols.isEmpty) None
    else {
      // EVERY declared key must be recoverable from every file; the
      // composite key is the tuple
      val kv = resolvedFiles.map(f =>
        f -> clusterKeys.map(SegSource.keyOf(_, header(f))))
      if (kv.isEmpty || kv.exists(_._2.exists(_.isEmpty))) None
      // deterministic group order via a stable rendering (key
      // components are single-typed per position; SPJ matches groups
      // by key equality, not order)
      else Some(kv.groupBy(_._2.map(_.get)).toSeq
        .sortBy(_._1.map(String.valueOf).mkString(""))
        .map { case (k, fs) => (k, fs.map(_._1)) })
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyGroups match {
      case Some(gs) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          clusterKeys.map(_.toV2Scan
            : org.apache.spark.sql.connector.expressions.Expression)
            .toArray, gs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** The pruning pass over these files under `filters`. Header
    * aggregates answer from every file, so nothing is front-taken. */
  private def prune(filters: Seq[Filter]): SegPrune.Result =
    SegPrune(header, filters, masked,
      keyGroups.map(SegPrune.Groups(clusterKeys, _)),
      limit.filter(_ => aggs.isEmpty), topN.filter(_ => aggs.isEmpty))
      .run(resolvedFiles)
  /** The pass over compile-time filters: statistics' survivors, and the
    * plan itself when no runtime filter arrives. */
  @transient private[sources] lazy val compiled: SegPrune.Result =
    prune(pushed.toSeq)

  /** Header-derived table statistics [STATS]: exact row count and the
    * PRUNED byte size (only the required columns' block bytes, summed
    * over segments that every filter stage of the compile-time pass
    * keeps — runtime filters arrive after join planning) — so a
    * narrow projection of a wide table reports its true scan cost and
    * Spark's join planning (broadcast threshold, AQE) sees a real
    * number instead of defaultSizeInBytes=MaxValue. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val wanted = required.fieldNames.toSet
    var rows = 0L
    var bytes = 0L
    // per-column NDV: v4 headers carry a mergeable HLL register array
    // per column — elementwise-max across surviving files estimates
    // the TABLE-level distinct count at any file count (a stored
    // per-file estimate could never merge), plus exact null counts.
    // Spark's CBO reads these through Statistics.columnStats for join
    // sizing/reordering over gseg tables.
    val merged = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    val sketchless = scala.collection.mutable.Set.empty[String]
    compiled.matching.foreach { f =>
      val h = header(f)
      // net of deletion vectors: the row count a masked scan emits
      // (NDV/null counts stay header-grain — deleted rows can only
      // make them overestimates, stated in the DV scaladoc)
      rows += h.nRows.toLong - masked(f)
      h.cols.foreach { c =>
        if (wanted.contains(c.name)) {
          bytes += c.bytes
          nulls(c.name) = nulls.getOrElse(c.name, 0L) + c.nNulls
          c.hll match {
            case Some(regs) =>
              SegSource.hllMerge(
                merged.getOrElseUpdate(c.name,
                  new Array[Byte](SegSource.HllM)), regs)
            case None =>
              // a v2/v3 file (or all-null block) contributes no
              // sketch: an NDV computed from the others would
              // UNDERCOUNT — report nothing for this column
              if (h.nRows.toLong > c.nNulls) sketchless += c.name
          }
        }
      }
    }
    def opt(v: Option[Long]) =
      v.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      new java.util.HashMap()
    required.fieldNames.foreach { n =>
      val ndv = merged.get(n).filterNot(_ => sketchless.contains(n))
        .map(SegSource.hllEstimate)
      val nc = nulls.get(n)
      if (ndv.isDefined || nc.isDefined)
        colStats.put(
          org.apache.spark.sql.connector.expressions.Expressions.column(n),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong = opt(ndv)
            override def nullCount(): java.util.OptionalLong = opt(nc)
          })
    }
    val rowsF = rows; val bytesF = math.max(bytes, 1L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = opt(Some(bytesF))
      override def numRows(): java.util.OptionalLong = opt(Some(rowsF))
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Runtime (DPP-style) filters, delivered by Spark after the
    * filtering side of a join has executed — arrives before
    * planInputPartitions, where they join the compile-time filters in
    * the pruning pass AND the row-grain reader. Purely additive:
    * Spark re-evaluates the join, so an untranslatable predicate is
    * dropped, never wrong. */
  @transient private var runtime: Array[Filter] = Array.empty
  @transient private var runtimePredicates = 0L
  /** The pass the last [[planInputPartitions]] planned from, which
    * [[reportDriverMetrics]] reports. */
  @transient @volatile private var planned: Option[SegPrune.Result] = None

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    if (aggs.isDefined || keyGroups.isDefined) Array.empty
    // header-agg answers must see every file; a key-grouped scan's
    // partition count is part of its reported partitioning contract,
    // so runtime pruning (which drops groups) is declined there
    else required.fields.filter(_.dataType != StringType).map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtime = predicates.flatMap(SegSource.predicateToFilter(_).toSeq)
    runtimePredicates = predicates.length.toLong
    graft.Counters.add("gseg_runtime_predicates", runtimePredicates)
  }
  override def supportedCustomMetrics(): Array[CustomMetric] =
    SegScanMetrics.supported
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    planned.fold(Array.empty[CustomTaskMetric])(
      SegScanMetrics.report(_, runtimePredicates))
  override def readSchema(): StructType = aggs match {
    case Some(as) => StructType(as.zipWithIndex.map { case (a, i) =>
      StructField(s"agg_$i", a.outType)
    })
    case None =>
      // metadata order contract: data, then _pos (appended by the
      // partition reader, which owns the ordinal counter), then
      // _file (appended by the wrapper factory)
      var out = required.fields
      if (emitPos) out = out :+
        StructField(SegSource.PosMetaName, LongType, nullable = false)
      if (emitFile) out = out :+
        StructField(SegSource.FileMetaName, StringType, nullable = false)
      StructType(out)
  }
  override def toBatch: Batch = this
  /** Row-only reads. The default, PARTITION_DEFINED, makes Spark plan
    * the partitions once to ask the reader factory and again on the
    * executed plan, publishing the pruning pass twice. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SegGenMicroBatchStream(path, required, pushed, skipChangeCommits,
      maxGensPerTrigger)
  override def description(): String = {
    val base = s"gseg path=$path " +
      s"ReadColumns=[${required.fieldNames.mkString(",")}] " +
      s"PushedFilters=[${pushed.mkString(", ")}]" +
      limit.map(l => s" PushedLimit=$l").getOrElse("") +
      topN.map(t => s" PushedTopN=(${t.col}," +
        s"${if (t.desc) "DESC" else "ASC"},${t.k})").getOrElse("")
    aggs match {
      case Some(as) => base + s" PushedAggregates=[${as.mkString(", ")}]"
      case None => base
    }
  }

  /** One partition per segment the pruning pass keeps; a key-grouped
    * layout plans one per key value, and a group the pass empties
    * stays (the partition COUNT the reported partitioning promised).
    * A production source would also coalesce small segments. */
  override def planInputPartitions(): Array[InputPartition] = {
    val r = if (runtime.isEmpty) compiled else prune((pushed ++ runtime).toSeq)
    r.publish(SegPrune.BatchScan)
    planned = Some(r)
    keyGroups match {
      case Some(gs) => gs.map { case (k, fs) =>
        val kf = fs.filter(r.keptSet)
        SegKeyedPartition(kf, k, kf.map(dvOf))
      }.toArray[InputPartition]
      case None => r.kept.map(f => SegInputPartition(f, dvOf(f))).toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val inner = SegReaderFactory(required, pushed ++ runtime, aggs,
      if (topN.isEmpty) limit else None, aliasOverride, emitPos)
    if (emitFile && aggs.isEmpty) SegFileColumnFactory(inner) else inner
  }
}

/** Wraps a per-segment reader factory and appends the `_file`
  * metadata column (the partition's segment path) to every row. Only
  * per-file partitions can carry it — key-grouped chains decline
  * emitFile at planning, so a [[SegKeyedPartition]] here is a bug. */
case class SegFileColumnFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case SegInputPartition(file, _) =>
        val d = inner.createReader(p)
        new PartitionReader[InternalRow] {
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          private val fileRow = new GenericInternalRow(
            Array[Any](UTF8String.fromString(file)))
          override def next(): Boolean = d.next()
          override def get(): InternalRow = joined(d.get(), fileRow)
          override def close(): Unit = d.close()
        }
      case other => throw new IllegalStateException(
        s"gseg: _file column over non-file partition $other")
    }
}

/** Streaming offset of a gseg dir: a committed GENERATION number.
  * `-1` is the pre-snapshot initial offset. */
case class SegGenOffset(gen: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"gen":$gen}"""
}

/** Micro-batch streaming read over a gseg dir (catalog table or plain
  * path), addressed by GENERATION — the offset is the committed generation
  * number, and each batch is derived from retained snapshot
  * manifests, never the directory listing or name ordering:
  *
  *  - the FIRST batch is the complete live generation at stream
  *    start (one pinned snapshot — the Delta initial-snapshot
  *    semantics);
  *  - each later batch is the per-generation diff over (lo, hi]:
  *    a pure-APPEND generation (nothing removed) contributes its
  *    added files' rows; a CHANGE commit (DML rewrite, compaction,
  *    Complete-mode replacement — anything that removed a file)
  *    FAILS the query loudly by default, because a file-level
  *    stream cannot represent row updates/deletes — the row-level
  *    diff lives in [[SegChangeFeed]]; with `skip_change_commits`
  *    the whole change commit is skipped (Delta's skipChangeCommits
  *    contract: its rows never stream).
  *
  * Why generations and not file names: DML rewrites mint `rlo-` names
  * that sort BELOW a sink's `str-` epoch names (a name watermark
  * silently misses them) and carry rewritten-but-unchanged rows in
  * NEW files (double-read under any name scheme). Generation diffs
  * see exactly what each commit did. Exactly-once recovery: a
  * recovered (lo, hi] replans the identical file set from the
  * retained snapshots — a stream lagging past the vacuum retention
  * window fails loudly ("retired by vacuum"), the same contract as
  * VERSION AS OF. A plain path dir's overwrite retires the generation
  * it replaced at commit, so a stream cannot step across one. A dir
  * with no manifest yet streams from its first commit on. */
class SegGenMicroBatchStream(path: String, required: StructType,
    pushed: Array[Filter], skipChangeCommits: Boolean,
    maxGensPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Admission control (`max_gens_per_trigger`): bound each batch at
    * N commits — deep retained history catches up as bounded batches
    * instead of one giant initial range. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val live = SegManifest.read(path).map(_._1).getOrElse(-1L)
    val lo = start.asInstanceOf[SegGenOffset].gen
    val capped = maxGensPerTrigger
      .map(m => math.min(live, lo + math.max(1L, m))).getOrElse(live)
    // the first batch under a cap pins an initial SNAPSHOT — clamp
    // its offset to a retained generation, else a vacuumed snapshot
    // at lo+m fails a stream an uncapped one would start (ADVICE r14)
    SegGenOffset(
      if (lo < 0 && capped < live)
        SegCdf.clampInitialToRetained(path, capped, live)
      else capped)
  }
  override def reportLatestOffset(): Offset = latestOffset()

  override def initialOffset(): Offset = SegGenOffset(-1L)
  override def latestOffset(): Offset =
    SegGenOffset(SegManifest.read(path).map(_._1).getOrElse(-1L))
  /** Strict parse: a checkpoint written by a DIFFERENT offset
    * protocol (e.g. a path-dir stream's name-watermark before the dir
    * gained a manifest) must fail loudly here — a lenient digit-strip
    * would silently decode a garbage generation and skip or duplicate
    * batches (ADVICE r13). */
  override def deserializeOffset(json: String): Offset = {
    import org.json4s._
    jackson.JsonMethods.parse(json) \ "gen" match {
      case JInt(g) => SegGenOffset(g.toLong)
      case _ => throw new IllegalStateException(
        s"gseg stream: checkpoint offset '$json' is not a generation " +
          "offset — the checkpoint was written by a different gseg " +
          "offset protocol (name watermark?); start a fresh checkpoint")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[SegGenOffset].gen
    val hi = end.asInstanceOf[SegGenOffset].gen
    if (hi < 0 || hi <= lo) return Array.empty
    val batch: Seq[(String, Option[String])] =
      if (lo < 0) {
        // initial snapshot: the generation's own deletion vectors
        // mask rows already deleted — they must not stream as live
        val m = SegManifest.retained(path, hi, "stream")
        m.names.sorted.map(n => (n, m.dvs.get(n)))
      } else (lo + 1 to hi).flatMap { g =>
        val curM = SegManifest.retained(path, g, "stream")
        val prevM = SegManifest.retained(path, g - 1, "stream")
        val cur = curM.names.toSet
        val prev = prevM.names.toSet
        val removed = prev -- cur
        // a deletion-vector change on a carried segment is a CHANGE
        // commit exactly like a rewrite: rows were deleted (or, after
        // rollback, resurrected) with no file-level representation
        val dvChanged = (cur & prev).exists(n =>
          curM.dvs.get(n) != prevM.dvs.get(n))
        if (removed.nonEmpty || dvChanged) {
          if (!skipChangeCommits) throw new IllegalStateException(
            s"gseg stream: generation $g of $path is a CHANGE commit " +
              s"(${removed.size} file(s) rewritten or removed" +
              (if (dvChanged) ", deletion vectors changed" else "") +
              ") — a file-level stream cannot represent row " +
              "updates/deletes; use SegChangeFeed.changes for the " +
              "row-level diff, or set " +
              s"${SegSource.SkipChangeCommitsOption}=true to tail " +
              "append-only commits")
          graft.Counters.add("gseg_stream_gen_change_skipped", 1L)
          Nil // the whole commit is skipped, its added files included
        } else (cur -- prev).toSeq.sorted.map(n => (n, curM.dvs.get(n)))
      }
    val parts = batch.map { case (n, dvN) =>
      SegInputPartition(s"$path/$n", dvN.map(d => s"$path/$d")) }
    val r = SegPrune(SegSource.resolvedHeaderOf(_), pushed.toSeq)
      .run(parts.map(_.file))
    r.publish(SegPrune.StreamBatch)
    parts.filter(p => r.keptSet(p.file)).toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SegReaderFactory(required, pushed, None)
}

case class SegReaderFactory(required: StructType, pushed: Array[Filter],
    aggs: Option[Seq[SegSource.HeaderAgg]], limit: Option[Int] = None,
    aliasOverride: Option[Map[String, String]] = None,
    emitPos: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case SegKeyedPartition(files, _, dvs) =>
        new SegChainReader(files, required, pushed, aliasOverride, dvs)
      case SegInputPartition(file, dv) => aggs match {
        case Some(as) => new SegAggReader(file, as, aliasOverride)
        case None => new SegPartitionReader(file, required, pushed,
          limit.getOrElse(Int.MaxValue), aliasOverride, dv, emitPos)
      }
    }
}

/** All segments of one partition-key value, read back to back. */
class SegChainReader(files: Seq[String], required: StructType,
    pushed: Array[Filter],
    aliasOverride: Option[Map[String, String]] = None,
    dvs: Seq[Option[String]] = Nil)
    extends PartitionReader[InternalRow] {
  private var idx = -1
  private var cur: SegPartitionReader = null
  override def next(): Boolean = {
    while (true) {
      if (cur != null && cur.next()) return true
      idx += 1
      if (idx >= files.length) return false
      if (cur != null) cur.close()
      cur = new SegPartitionReader(files(idx), required, pushed,
        aliasOverride = aliasOverride,
        dv = if (dvs.isEmpty) None else dvs(idx))
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Metadata-only reader for pushed aggregates: emits exactly ONE row
  * per segment, computed from the header — no column block is ever
  * opened. MIN/MAX of an all-null block surface as null (partial-agg
  * semantics: Spark's merge ignores null partials). */
class SegAggReader(file: String, aggs: Seq[SegSource.HeaderAgg],
    aliasOverride: Option[Map[String, String]] = None)
    extends PartitionReader[InternalRow] {
  import SegSource._
  private var done = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    val h = resolvedHeaderOf(file, aliasOverride)
    val byName = h.cols.map(c => c.name -> c).toMap
    // a column ABSENT from this segment (added by ALTER TABLE after
    // it was written) is all-null here: COUNT contributes 0, MIN/MAX
    // contribute a null partial (Spark's merge ignores it)
    // stored stats under a widened column promote to the CURRENT type
    // the partial row must carry: INT→BIGINT, FLOAT→DOUBLE (exact),
    // DECIMAL(p,s)→DECIMAL(p+k,s) (same unscaled value, wider box)
    def widen(v: Any, t: DataType): Any = (v, t) match {
      case (i: Int, LongType) => i.toLong
      case (f: Float, DoubleType) => f.toDouble
      case (d: org.apache.spark.sql.types.Decimal, dt: DecimalType)
          if d.precision != dt.precision || d.scale != dt.scale =>
        org.apache.spark.sql.types.Decimal(
          d.toJavaBigDecimal, dt.precision, dt.scale)
      case _ => v
    }
    val vals: Array[Any] = aggs.map {
      case AggCountStar => h.nRows.toLong
      case AggCountCol(n) =>
        byName.get(n).map(c => h.nRows.toLong - c.nNulls).getOrElse(0L)
      case AggMin(n, t) =>
        byName.get(n).flatMap(_.minVal).map(widen(_, t)).orNull
      case AggMax(n, t) =>
        byName.get(n).flatMap(_.maxVal).map(widen(_, t)).orNull
    }.toArray
    current = new GenericInternalRow(vals)
    done = true
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Decodes ONLY the columns the scan needs (union of projection and
  * pushed-filter references), seeking past every other block, then
  * streams rows through the pushed filters. Column-at-a-time decode
  * into object arrays, row emission after. */
class SegPartitionReader(file: String, required: StructType,
    pushed: Array[Filter], limit: Int = Int.MaxValue,
    aliasOverride: Option[Map[String, String]] = None,
    dv: Option[String] = None, emitPos: Boolean = false)
    extends PartitionReader[InternalRow] {
  import SegSource._

  /** Deletion-vector mask: sorted stored ordinals to skip. The scan
    * loop walks it with one pointer — O(1) per row, no hashing. */
  private val deleted: Array[Int] =
    dv.map(SegDv.read).getOrElse(Array.emptyIntArray)
  private var delIdx = 0

  // Whole-file read + bulk ByteBuffer decode: the previous reader
  // pulled every value through DataInputStream (8 buffered byte reads
  // per long) — measured as the dominant CPU of every gseg scan. One
  // read() syscall, then straight-line big-endian gets; the block
  // offsets are exact (data blocks run from fileLen − Σblock − Σbloom,
  // the same arithmetic readBloomWords already relies on). The buffer
  // is dropped after decode (set to null) so reader lifetime holds
  // only the decoded columns, exactly as before.
  private var fileBytes: Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
  private val header = resolveRenames(file,
    readHeader(new DataInputStream(
      new java.io.ByteArrayInputStream(fileBytes))), aliasOverride)
  private val filterCols: Set[String] =
    pushed.flatMap(_.references.toSeq).toSet
  private val neededNames: Seq[String] = {
    val req = required.fieldNames.toSeq
    req ++ header.cols.map(_.name).filter(n =>
      filterCols.contains(n) && !req.contains(n))
  }
  private val colIdx = neededNames.zipWithIndex.toMap
  private val decoded = new Array[Array[Any]](neededNames.size)

  locally {
    val n = header.nRows
    val blocksLen = header.cols.iterator.map(_.bytes).sum
    val bloomLen =
      header.cols.iterator.flatMap(_.bloom.map(_._1.toLong)).sum
    val bb = java.nio.ByteBuffer.wrap(fileBytes)
    bb.position((fileBytes.length - blocksLen - bloomLen).toInt)
    locally {
      header.cols.foreach { cm =>
        colIdx.get(cm.name) match {
          case None => // pruned: seek past the whole block
            bb.position(bb.position() + cm.bytes.toInt)
          case Some(ci) =>
            val bitmap = new Array[Byte]((n + 7) / 8)
            bb.get(bitmap)
            def isNull(i: Int): Boolean =
              (bitmap(i >> 3) & (1 << (i & 7))) != 0
            val vals = new Array[Any](n)
            var i = 0
            cm.tag match {
              case 0 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getLong(); i += 1
              }
              case 1 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getInt(); i += 1
              }
              case 2 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getDouble(); i += 1
              }
              case 3 => while (i < n) {
                if (!isNull(i)) {
                  val b = new Array[Byte](bb.getInt())
                  bb.get(b)
                  vals(i) = UTF8String.fromBytes(b)
                }
                i += 1
              }
              case 4 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.get() != 0; i += 1
              }
              case 5 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getLong(); i += 1
              }
              case 6 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getInt(); i += 1
              }
              case 7 => while (i < n) {
                if (!isNull(i)) vals(i) = bb.getFloat(); i += 1
              }
              case 12 => while (i < n) { // ntz micros: long path
                if (!isNull(i)) vals(i) = bb.getLong(); i += 1
              }
              case 9 => while (i < n) {
                if (!isNull(i)) {
                  val b = new Array[Byte](bb.getInt())
                  bb.get(b)
                  vals(i) = b // BinaryType internal rep IS Array[Byte]
                }
                i += 1
              }
              case 10 => while (i < n) {
                if (!isNull(i)) {
                  val m = bb.getInt()
                  val a = new Array[Float](m)
                  var j = 0
                  while (j < m) { a(j) = bb.getFloat(); j += 1 }
                  vals(i) = new org.apache.spark.sql.catalyst.util
                    .GenericArrayData(a)
                }
                i += 1
              }
              case 8 =>
                // decimal: unscaled longs → Spark internal Decimal at
                // the EFFECTIVE precision — the table's current one
                // when the column was precision-widened after this
                // segment was written (scale is fixed by ALTER rules,
                // so the same unscaled long is exact under both; a
                // widen PAST 18 also lands here: Decimal(long, 38, s)
                // boxes the same unscaled long, so tag-8 blocks need
                // no rewrite when the column becomes int128-typed)
                val (ep, es) = required.fields.find(_.name == cm.name)
                  .map(_.dataType) match {
                  case Some(d: DecimalType) => (d.precision, d.scale)
                  case _ => (cm.prec, cm.scale)
                }
                while (i < n) {
                  if (!isNull(i)) vals(i) =
                    org.apache.spark.sql.types.Decimal(bb.getLong(), ep, es)
                  i += 1
                }
              case 11 =>
                // decimal p>18: hi/lo longs → two's-complement int128
                // unscaled → Spark Decimal at the effective precision
                val (ep, es) = required.fields.find(_.name == cm.name)
                  .map(_.dataType) match {
                  case Some(d: DecimalType) => (d.precision, d.scale)
                  case _ => (cm.prec, cm.scale)
                }
                val M64 = java.math.BigInteger.ONE.shiftLeft(64)
                  .subtract(java.math.BigInteger.ONE)
                while (i < n) {
                  if (!isNull(i)) {
                    val hi = bb.getLong(); val lo = bb.getLong()
                    val bi =
                      if (hi == 0L && lo >= 0L)
                        java.math.BigInteger.valueOf(lo)
                      else if (hi == -1L && lo < 0L)
                        java.math.BigInteger.valueOf(lo)
                      else java.math.BigInteger.valueOf(hi).shiftLeft(64)
                        .or(java.math.BigInteger.valueOf(lo).and(M64))
                    vals(i) = org.apache.spark.sql.types.Decimal(
                      new java.math.BigDecimal(bi, es), ep, es)
                  }
                  i += 1
                }
            }
            // ALTER COLUMN TYPE widening: a segment written before
            // the widen stores INT (FLOAT) blocks under a now-BIGINT
            // (DOUBLE) column — promote at the one decode seam
            // (VERSION AS OF pre-widen pins the old schema and takes
            // the no-op path; decimal promotes above, in-decode)
            if (cm.tag == 1 && required.fields.exists(f =>
                f.name == cm.name && f.dataType == LongType)) {
              var j = 0
              while (j < n) {
                if (vals(j) != null)
                  vals(j) = vals(j).asInstanceOf[Int].toLong
                j += 1
              }
            }
            if (cm.tag == 7 && required.fields.exists(f =>
                f.name == cm.name && f.dataType == DoubleType)) {
              var j = 0
              while (j < n) {
                if (vals(j) != null)
                  vals(j) = vals(j).asInstanceOf[Float].toDouble
                j += 1
              }
            }
            decoded(ci) = vals
        }
      }
    }
    fileBytes = null // decoded columns are the reader's only state
    // ALTER TABLE ADD COLUMN null-fill: a segment written before the
    // column existed carries no block for it — serve all-null (the
    // lakehouse schema-evolution read contract). Filters over such a
    // column behave as over nulls (zone maps already keep the file
    // conservatively: no stats, no verdict).
    var ci = 0
    while (ci < decoded.length) {
      if (decoded(ci) == null) decoded(ci) = new Array[Any](header.nRows)
      ci += 1
    }
  }

  private var row = -1
  private var emitted = 0
  private val outIdx: Array[Int] = required.fieldNames.map(colIdx)
  private var current: InternalRow = _

  override def next(): Boolean = {
    // pushed LIMIT: stop after `limit` SURVIVING rows — correct at any
    // filter combination because the limit counts post-filter rows and
    // Spark re-applies the global limit (isPartiallyPushed)
    if (emitted >= limit) return false
    val n = header.nRows
    while ({ row += 1; row < n }) {
      // deletion-vector mask: ordinals are ascending on both sides,
      // so one pointer advances in lockstep with the row counter
      if (delIdx < deleted.length && deleted(delIdx) == row) {
        delIdx += 1
      } else {
        def get(name: String): Any = decoded(colIdx(name))(row)
        if (pushed.forall(evalFilter(_, get))) {
          val vals = new Array[Any](outIdx.length + (if (emitPos) 1 else 0))
          var i = 0
          while (i < outIdx.length) {
            vals(i) = decoded(outIdx(i))(row); i += 1
          }
          // `_pos` carries the STORED ordinal (pre-mask, pre-filter):
          // the row id a later deletion vector must address
          if (emitPos) vals(outIdx.length) = row.toLong
          current = new GenericInternalRow(vals)
          emitted += 1
          return true
        }
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

// ---------------- write side ----------------

object SegWriteBuilder {
  /** The builder for one write into a table with `settings`: the
    * write's own options override them for this write. */
  def apply(path: String, info: LogicalWriteInfo,
      settings: SegSettings): SegWriteBuilder =
    new SegWriteBuilder(path, info.schema(),
      settings.forWrite(info.options(), info.schema()),
      "true".equalsIgnoreCase(
        info.options().get(SegSource.ClusterLocalOption)))
}

class SegWriteBuilder(path: String, schema: StructType,
    settings: SegSettings, clusterLocal: Boolean)
    extends WriteBuilder with SupportsTruncate {
  // plan-time type validation: an unstorable type (decimal precision
  // > 18, binary, nested) fails HERE, loudly, not per-task mid-write
  schema.fields.foreach(f => SegSource.tag(f.dataType))
  schema.fieldNames.foreach(SegSource.requireUnreserved)

  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** With `partition_col`, the write declares a clustered required
    * distribution plus an in-partition sort on the declared keys, so
    * Spark delivers each task contiguous runs per key value and the
    * task writer ROLLS one segment per value — the layout the
    * storage-partitioned-join scan groups by. `bucket(n, col)` keys
    * cluster and sort by the BUCKET TRANSFORM (resolved through the
    * catalog's V2 `bucket` function — [[SegBucketFunction]]), so a
    * task's rows arrive grouped by bucket id and each rolled segment
    * is single-bucket, stamped into its v4 header. Without the option
    * the distribution is unspecified (plain one-segment-per-task). */
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}
    private def keyExpr(spec: String)
        : org.apache.spark.sql.connector.expressions.Expression = {
      val k = SegSource.ClusterKey.parse(spec)
      if (k.buckets.isEmpty) Expressions.column(k.col) else k.toV2
    }
    // zorder specs request NOTHING from Spark (no V2 expression can
    // say "Morton of two columns" without a catalog function): the
    // writer's flush-time Morton sort z-clusters each task's
    // segments locally, and the compact rewrite adds the global
    // range shuffle when re-laying the whole table
    private def distCols: Seq[String] =
      settings.cluster.filter(SegSource.parseZOrder(_).isEmpty)
    override def requiredDistribution(): Distribution =
      // cluster_local: no Spark-side distribution at all — the
      // writer's flush-time buffer sort alone forms the runs (the
      // path a bucket transform takes when no FunctionCatalog can
      // resolve it; file count bounded by tasks x local keys)
      if (distCols.isEmpty || clusterLocal)
        Distributions.unspecified()
      else Distributions.clustered(distCols.map(c =>
        SegSource.ClusterKey.parse(c).toV2
          : org.apache.spark.sql.connector.expressions.Expression).toArray)
    override def requiredOrdering(): Array[V2SortOrder] =
      if (clusterLocal) Array.empty
      else distCols.map(c =>
        Expressions.sort(keyExpr(c), SortDirection.ASCENDING)
          : V2SortOrder).toArray
    override def toBatch: BatchWrite =
      SegBatchWrite(path, schema, truncateFirst, settings)
    // the stream sink keeps no clustering: an epoch appends one
    // segment per task
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      SegStreamingWrite(path, schema, truncateFirst,
        settings.copy(cluster = Nil))
  }
}

/** Streaming SINK: `writeStream.format("gseg")` / `.toTable(...)` —
  * each epoch's rows stage as hidden temps through the ordinary task
  * writers, and the driver's per-epoch commit publishes them under an
  * EPOCH-PREFIXED name (`str-<epoch>-…`) in one
  * [[SegManifest.commitWrite]]: an appended generation, or in Complete
  * mode one that replaces the table. Exactly-once over at-least-once
  * epochs: Spark replays an epoch whose commit it cannot prove
  * durable, so commit is IDEMPOTENT — if the live generation already
  * names a segment with this epoch's prefix, only the completed swap
  * can have put it there, so the replay discards its temps and
  * returns (the manifest, not a side log, is the dedup state, which
  * survives anything the table survives). Empty partitions stage
  * nothing (skipEmpty) so a quiet stream doesn't mint a segment per
  * shuffle partition per epoch. Epochs commit to MAIN only. */
case class SegStreamingWrite(path: String, schema: StructType,
    truncateEachEpoch: Boolean, settings: SegSettings = SegSettings())
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new SegDataWriter(path, schema, partitionId, taskId, settings,
          skipEmpty = true)
    }
  }

  private def epochPrefix(epochId: Long): String = f"str-$epochId%012d-"

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: SegCommitMessage => m }
    val prefix = epochPrefix(epochId)
    val live = SegManifest.read(path)
    if (live.exists(_._2.exists(_.startsWith(prefix)))) {
      SegManifest.discard(messages) // the epoch's first commit landed
      return
    }
    val staged = SegManifest.Staged.byTask(msgs)
    if (truncateEachEpoch || staged.files.nonEmpty)
      SegManifest.commitWrite(path, prefix, staged, schema,
        replaces = truncateEachEpoch, branchScoped = false,
        expectGen = if (truncateEachEpoch) Some(live.map(_._1)) else None)
    graft.Counters.add("gseg_stream_sink_epochs", 1L)
    graft.Counters.add("gseg_stream_sink_files", staged.files.size.toLong)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    SegManifest.discard(messages)
}

case class SegCommitMessage(partitionId: Int, tmpFiles: Seq[String])
  extends WriterCommitMessage

/** Job-level commit: every task stages a hidden `.tmp-` segment and
  * reports it; only the driver's commit publishes them, as one
  * generation through [[SegManifest.commitWrite]] under a per-job
  * `part-<stamp>-` prefix ([[SegManifest.Staged.byTask]] keeps the
  * partition order within the write, which the limit/TopN front-take
  * reads). An append lands on the session's WAP branch when the table
  * carries it; Overwrite (SupportsTruncate) replaces the generation,
  * and a plain path dir under WAP, which has no branch, refuses both
  * before any file moves. An aborted job leaves the old data intact.
  * Spark's commit coordinator guarantees one committed attempt per
  * partition, so the renames never race. */
case class SegBatchWrite(path: String, schema: StructType,
    truncateFirst: Boolean, settings: SegSettings)
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(Paths.get(path))
    SegWriterFactory(path, schema, settings)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    SegManifest.commitWrite(path, SegManifest.stampedPrefix("part"),
      SegManifest.Staged.byTask(
        messages.toSeq.collect { case m: SegCommitMessage => m }),
      schema, replaces = truncateFirst, branchScoped = true)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SegManifest.discard(messages)
}

case class SegWriterFactory(path: String, schema: StructType,
    settings: SegSettings, skipEmpty: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new SegDataWriter(path, schema, partitionId, taskId, settings, skipEmpty)
}

/** Buffers the partition's rows as writer cells (boxed primitives /
  * UTF-8 byte arrays), encodes segments into hidden temp files, and
  * hands the paths to the job commit. Under a segment budget
  * ([[SegSettings.MaxRows]], [[SegSettings.MaxBytes]]) the
  * buffer FLUSHES to a rolled segment every N rows — writer memory
  * is bounded by the budget instead of the task partition size, the
  * production-writer contract at 100 TB task widths (and each rolled
  * chunk of a sorted partition carries its own tighter zone map).
  * Without it, one segment per task on commit — the shape the layout
  * tests pin. Abort (or a lost speculative attempt) deletes every
  * temp — a half-written segment can never be listed, because
  * [[SegSource.listSegments]] ignores dot-files.
  *
  * Row-count invariant: every segment's rows live in `buf` (an
  * ArrayBuffer — size is an Int) before encoding, so a segment can
  * never hold ≥ 2^31 rows. The format's `int nRows` and [[SegDv]]'s
  * int32 deletion ordinals both lean on this — see the SegDv
  * scaladoc before changing how segments are staged. */
class SegDataWriter(path: String, schema: StructType, partitionId: Int,
    taskId: Long, settings: SegSettings = SegSettings(),
    skipEmpty: Boolean = false)
    extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Array[AnyRef]]
  private val keySpecs: Seq[SegSource.ClusterKey] =
    settings.cluster.filter(SegSource.parseZOrder(_).isEmpty)
      .map(SegSource.ClusterKey.parse)
  private val keyIdx: Seq[Int] = keySpecs.map(k => schema.fieldIndex(k.col))
  /** `zorder(a,b)` layout: the (a, b) field ordinals to Morton-sort
    * the buffer by at flush — each written segment is then a
    * contiguous z-range, so zone maps on BOTH columns come out tight
    * (the declared layout's whole point; there is no run splitting
    * and no key to recover — stats-only). Validated sole upstream
    * (compact/DDL): mixing z-order with key clustering would make
    * two owners of the flush sort. */
  private val zIdx: Option[(Int, Int)] =
    settings.cluster.flatMap(SegSource.parseZOrder(_)).headOption
      .map { case (a, b) => (schema.fieldIndex(a), schema.fieldIndex(b)) }
  require(zIdx.isEmpty || keySpecs.isEmpty,
    s"gseg: zorder cannot combine with other clustering keys " +
      s"(got ${settings.cluster})")

  /** The EFFECTIVE key of a buffered row for run splitting: the cell
    * itself for identity keys, its bucket id for bucket keys (the
    * same [[SegSource.cellHash64]] the V2 bucket function shuffles
    * by), the unit ordinal for temporal keys (the same
    * [[SegSource.temporalOf]] the V2 days/months/... functions
    * shuffle by) — task-local runs align with the distribution. */
  private def effKey(cells: Array[AnyRef], si: Int): AnyRef = {
    val v = cells(keyIdx(si))
    keySpecs(si) match {
      case SegSource.ClusterKey(_, Some(n), _, _) =>
        java.lang.Integer.valueOf(SegSource.bucketOf(v, n))
      case SegSource.ClusterKey(_, None, Some(u), _) =>
        if (v == null) null
        else java.lang.Integer.valueOf(SegSource.temporalOf(u, v))
      case SegSource.ClusterKey(_, None, None, Some(w)) =>
        if (v == null) null
        else SegSource.truncateOf(w, v).asInstanceOf[AnyRef]
      case _ => v
    }
  }
  /** Cell inequality with byte-array (string) VALUE semantics — an
    * AnyRef `!=` on Array[Byte] is reference inequality and would
    * split a string-keyed run at every row. */
  private def keyNeq(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => !java.util.Arrays.equals(x, y)
    case _ => a != b
  }
  // rolled temp files, in order; abort deletes them all
  private val rolled = scala.collection.mutable.ArrayBuffer.empty[String]
  private var chunk = 0
  // encoded bytes of the buffered rows (byte-budget rolling): exact
  // value widths + string length prefixes, plus one bitmap bit per
  // cell — the same arithmetic writeSegment's encoder performs
  private var bufBytes = 0L
  private val bitmapBytesPerRow = (schema.length + 7) / 8

  /** Per-column cell extractors, resolved ONCE at writer construction
    * — the previous per-row form re-pattern-matched `DataType` for
    * every CELL (a megamorphic instanceof chain per value at
    * 600k-rows × n-cols scale). Fixed-width columns carry their
    * encoded width here; var-width (string/binary/vector) report -1
    * and are sized from the extracted value. */
  private val fixedWidth: Array[Int] = schema.fields.map(_.dataType match {
    case LongType | DoubleType | TimestampType | TimestampNTZType => 8
    case IntegerType | DateType | FloatType => 4
    case BooleanType => 1
    case d: DecimalType if d.precision <= 18 => 8
    case _: DecimalType => 16
    case _ => -1
  })
  private val extractors: Array[InternalRow => AnyRef] =
    schema.fields.zipWithIndex.map { case (f, c) =>
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          // timestamp / ntz internal repr IS micros
          (r: InternalRow) => java.lang.Long.valueOf(r.getLong(c))
        case IntegerType | DateType => // date internal repr IS days
          (r: InternalRow) => java.lang.Integer.valueOf(r.getInt(c))
        case DoubleType =>
          (r: InternalRow) => java.lang.Double.valueOf(r.getDouble(c))
        case StringType =>
          (r: InternalRow) => r.getUTF8String(c).getBytes
        case BooleanType =>
          (r: InternalRow) => java.lang.Boolean.valueOf(r.getBoolean(c))
        case FloatType =>
          (r: InternalRow) => java.lang.Float.valueOf(r.getFloat(c))
        case BinaryType =>
          (r: InternalRow) => r.getBinary(c)
        case d: DecimalType if d.precision <= 18 =>
          // unscaled long at the column's fixed scale
          (r: InternalRow) => java.lang.Long.valueOf(
            r.getDecimal(c, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType =>
          // p>18 (tag 11): the cell rides as Spark's Decimal — a
          // value-class (equals/hashCode by value), so the CDF diff
          // reader's bucketing contract holds without a norm seam
          (r: InternalRow) => r.getDecimal(c, d.precision, d.scale)
        case ArrayType(FloatType, _) =>
          (r: InternalRow) => {
            val a = r.getArray(c)
            val m = a.numElements()
            var j = 0
            while (j < m) {
              require(!a.isNullAt(j),
                s"gseg write: null element at position $j of a " +
                  s"float-vector cell ('${schema(c).name}') — embeddings " +
                  "with holes are a data bug, not a storable value")
              j += 1
            }
            a.toFloatArray()
          }
        case other =>
          (_: InternalRow) => throw new IllegalArgumentException(
            s"gseg write: unsupported $other")
      }
    }

  override def write(r: InternalRow): Unit = {
    val cells = new Array[AnyRef](schema.length)
    var rowBytes = bitmapBytesPerRow.toLong
    var c = 0
    while (c < schema.length) {
      if (!r.isNullAt(c)) {
        val v = extractors(c)(r)
        cells(c) = v
        val w = fixedWidth(c)
        rowBytes += (if (w >= 0) w.toLong else v match {
          case b: Array[Byte] => 4L + b.length
          case a: Array[Float] => 4L + 4L * a.length
          case _ => 0L
        })
      }
      c += 1
    }
    buf += cells
    bufBytes += rowBytes
    if (settings.maxRows.exists(buf.length >= _) ||
        settings.maxBytes.exists(bufBytes >= _)) flush()
  }

  /** Encode the buffered rows as segment temp(s) and clear the
    * buffer. Keyed mode splits the (sorted) buffer at key-value
    * boundaries — one segment per contiguous run, so min==max holds
    * per file even when a budget flush lands mid-key (several files
    * of one key group together fine on the scan side). Unkeyed mode
    * writes the buffer whole (possibly empty — the plain write's
    * one-segment-per-task shape). */
  private def flush(): Unit = {
    // z-order layout: Morton-sort the buffer (nulls first) so the
    // written segment(s) are contiguous z-ranges — one run, no split
    zIdx.foreach { case (ai, bi) =>
      def zOf(r: Array[AnyRef]): Long = {
        def longOf(v: AnyRef): Long = v match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case _ => 0L
        }
        SegSource.mortonOf(longOf(r(ai)), longOf(r(bi)))
      }
      buf.sortInPlace()(Ordering.by[Array[AnyRef], (Int, Long)](r =>
        (if (r(ai) == null || r(bi) == null) 0 else 1, zOf(r))))
    }
    val runs: Seq[collection.IndexedSeq[Array[AnyRef]]] =
      if (keyIdx.isEmpty) Seq(buf)
      else {
        // sort the buffer by the EFFECTIVE keys first: runs then form
        // under ANY upstream distribution/ordering (catalog writes
        // arrive pre-sorted — this is a near-no-op reorder; the
        // cluster_local path depends on it), so a mid-key budget
        // flush or an unsorted task can never interleave keys
        buf.sortInPlace()(new Ordering[Array[AnyRef]] {
          def compare(x: Array[AnyRef], y: Array[AnyRef]): Int = {
            var si = 0
            while (si < keyIdx.length) {
              val c = SegSource.cellCompare(effKey(x, si), effKey(y, si))
              if (c != 0) return c
              si += 1
            }
            0
          }
        })
        val out = scala.collection.mutable.ArrayBuffer
          .empty[collection.IndexedSeq[Array[AnyRef]]]
        var start = 0
        var i = 1
        while (i <= buf.length) {
          if (i == buf.length ||
              keyIdx.indices.exists(si =>
                keyNeq(effKey(buf(i), si), effKey(buf(start), si)))) {
            out += buf.slice(start, i)
            start = i
          }
          i += 1
        }
        out.toSeq
      }
    runs.foreach { run =>
      val tmp = f"$path/.tmp-$partitionId%05d-$taskId-$chunk%03d.gseg"
      chunk += 1
      // bucket keys stamp the run's bucket id into the v4 header —
      // the declaration the scan's layout recovery trusts (identity
      // keys need none: min==max stats prove single-valuedness)
      val props: Map[String, String] = keySpecs.indices.collect {
        case si if keySpecs(si).buckets.isDefined && run.nonEmpty =>
          val k = keySpecs(si)
          s"bucket.${k.col}" ->
            s"${k.buckets.get}:${effKey(run.head, si)}"
      }.toMap
      SegSource.writeSegment(run, schema, tmp, props, settings.bloomCols)
      rolled += tmp
    }
    buf.clear()
    bufBytes = 0L
  }

  override def commit(): WriterCommitMessage = {
    // skipEmpty (row-level rewrites, streaming epochs): an empty
    // remainder stages nothing — a DML touching 2 files must not
    // mint a file per shuffle partition. A plain UNKEYED write with
    // nothing rolled keeps its one (possibly empty) segment per
    // task; keyed flushes of an empty buffer produce no runs anyway.
    if (buf.nonEmpty ||
        (rolled.isEmpty && !skipEmpty && keyIdx.isEmpty)) flush()
    SegCommitMessage(partitionId, rolled.toSeq)
  }

  override def abort(): Unit =
    rolled.foreach(t => Files.deleteIfExists(Paths.get(t)))
  override def close(): Unit = ()
}
