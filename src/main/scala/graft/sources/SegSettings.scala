package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.TableCatalog
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types._

/** A gseg table's settings: ONE value that every write of the table
  * reads, persisted in the [[SegMeta]] sidecar (`cluster` carries the
  * clustering, `props` every other entry under its key). One entry per
  * setting in [[SegSettings.All]], each with its key, validation,
  * default and the writes that read it:
  *  - `partition_col` ([[SegSettings.Cluster]]): INSERT, CTAS, the
  *    copy-on-write rewrite, the merge-on-read append, compact's sort;
  *  - `bloom_columns`, `max_rows_per_segment`, `max_bytes_per_segment`
  *    ([[SegSettings.BloomColumns]], [[SegSettings.MaxRows]],
  *    [[SegSettings.MaxBytes]]): those writes, compact's rewrite and
  *    the stream sink (which keeps no clustering: an epoch appends one
  *    segment per task);
  *  - `gseg.delete.mode` / `gseg.update.mode` / `gseg.merge.mode`: the
  *    planning of DELETE / UPDATE / MERGE;
  *  - `gseg.index.<column>` ([[SegSettings.Index]]): no write.
  *
  * Sources, one parse each: catalog properties (CREATE, CTAS, RTAS,
  * CREATE OR REPLACE and ALTER TABLE SET/UNSET TBLPROPERTIES), where
  * `OPTIONS (k = v)` arrive as `option.k` and `PARTITIONED BY` as
  * transforms; and a write's own options ([[forWrite]]), which
  * override the clustering, blooms and budgets for that write only.
  * `CALL clone` copies the settings with the metadata it pins, and
  * `CALL compact` passes them to its rewrite as write options. */
final case class SegSettings(cluster: Seq[String] = Nil,
    props: Map[String, String] = Map.empty) {
  import SegSettings._

  val bloomCols: Set[String] =
    props.get(BloomColumns.key).map(SegSource.splitCols(_).toSet)
      .getOrElse(Set.empty)
  val maxRows: Option[Int] = props.get(MaxRows.key).map(_.toInt)
  val maxBytes: Option[Long] = props.get(MaxBytes.key).map(_.toLong)

  /** Whether `cmd` runs as a merge-on-read delta (deletion vectors
    * plus appended row versions) rather than a group rewrite. */
  def mergeOnRead(cmd: Command): Boolean = {
    val mode = cmd match {
      case Command.DELETE => DeleteMode
      case Command.UPDATE => UpdateMode
      case _ => MergeMode
    }
    props.get(mode.key).contains(MergeOnRead)
  }

  /** These settings with `k` set to `v`, validated against `schema`.
    * An unknown key fails, listing the keys there are. */
  def set(k: String, v: String, schema: StructType): SegSettings = {
    val e = entry(k)
    val stored = e.check(k, v, schema)
    if (e eq Cluster) copy(cluster = SegSource.splitClusterSpecs(stored))
    else copy(props = props + (k -> stored))
  }

  def unset(k: String): SegSettings =
    if (entry(k) eq Cluster) copy(cluster = Nil) else copy(props = props - k)

  /** The settings one write uses: the write's own options for
    * clustering, blooms and budgets override the table's values. */
  def forWrite(options: java.util.Map[String, String],
      schema: StructType): SegSettings =
    options.asScala.foldLeft(this) { case (s, (k, v)) =>
      if (entryOf(k).exists(_.perWrite)) s.set(k, v, schema) else s
    }

  /** After RENAME COLUMN: clustering specs and bloom columns follow
    * the column. */
  def renamed(from: String, to: String): SegSettings = {
    def r(c: String) = if (c == from) to else c
    val blooms = props.get(BloomColumns.key).map(v =>
      BloomColumns.key -> SegSource.splitCols(v).map(r).mkString(","))
    SegSettings(cluster.map(c => SegSource.parseZOrder(c) match {
      case Some((a, b)) => s"zorder(${r(a)},${r(b)})"
      case None => SegSource.ClusterKey.parse(c).renamed(from, to).render
    }), props ++ blooms)
  }
}

object SegSettings {
  /** One setting. `key` ending in `.` names a family (`gseg.index.`
    * + column); `check` returns the value to store or throws. */
  final case class Entry(key: String, perWrite: Boolean)(
      val check: (String, String, StructType) => String) {
    def name: String = if (key.endsWith(".")) s"$key<column>" else key
    def matches(k: String): Boolean =
      k == key || (key.endsWith(".") && k.startsWith(key) &&
        k.length > key.length)
  }

  private def positive(max: Long)(k: String, v: String, s: StructType) = {
    require(v.trim.toLongOption.exists(n => n > 0 && n <= max),
      s"gseg: $k must be a positive integer, got '$v'")
    v.trim
  }

  /** Clustering specs, also a read option (a read recovers the
    * storage-partitioned layout from them). `PARTITIONED BY` declares
    * them, `CALL set_clustering` and `compact(cluster_by => ...)` change
    * them; default unclustered. IDENTITY keys (`col`) give one
    * partition per value, recovered from header stats (strings through
    * the v3 ASCII-exact stats: a non-ASCII or >48-byte key degrades the
    * scan to unknown partitioning — never wrong, only shuffled);
    * `bucket(n,col)` one per hash bucket, stamped into each v4 header
    * (fact⋈fact SPJ without enumerating the key domain); also
    * `years/months/days/hours(col)`, `truncate(w,col)` and the
    * layout-only `zorder(a,b)`. Several specs form a COMPOSITE key. */
  val Cluster: Entry = Entry(SegSource.PartitionColOption, perWrite = true)(
    (k, v, schema) =>
      checkCluster(SegSource.splitClusterSpecs(v), schema, k).mkString(","))

  /** Comma list of columns to build a PER-SEGMENT BLOOM FILTER for
    * (long/int/string/date/timestamp). Zone maps prune point lookups
    * only on SORTED keys; a bloom prunes them on ANY layout — the
    * 100 TB "find one id in an unsorted fact table" case. ~10 bits
    * per non-null value (1% false-positive rate), k = 7 hashes
    * derived from the same 64-bit cell hash the bucket layout uses.
    * Bloom blocks live AFTER the column data (v5), so headers stay
    * cheap to parse and the filter bytes are read LAZILY — only at
    * planning, only when a pushed =/IN targets the column. Default:
    * none. */
  val BloomColumns: Entry = Entry("bloom_columns", perWrite = true) {
    (k, v, schema) =>
      SegSource.splitCols(v).foreach { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"gseg: $k column '$c' is not in the schema"))
        require(f.dataType match {
          case DoubleType | FloatType | BooleanType | _: DecimalType |
               _: ArrayType => false
          case _ => true
        }, s"gseg: $k does not support ${f.dataType.simpleString} " +
          s"('$c') — floating types have no stable value identity, " +
          "booleans no selectivity, decimal filter values can't be " +
          "hashed without scale context, vectors take no point lookups")
      }
      v
  }

  /** ROLL a new segment every N rows instead of buffering the whole
    * task partition — bounds the writer's memory to the budget (rows
    * encode and hit disk per chunk) and caps segment size, the way a
    * production columnar writer rolls at a byte budget. Default
    * unlimited (one segment per task — the shape the zone-map and
    * layout tests pin); rolling also tightens zone maps: each chunk
    * of a sorted partition carries its own [min,max], so range-laid
    * tables prune at finer grain. */
  val MaxRows: Entry = Entry("max_rows_per_segment", perWrite = true)(
    positive(Int.MaxValue))

  /** ROLL a new segment when the buffered rows' encoded size reaches
    * N bytes — the PRODUCTION rolling contract (a row budget misjudges
    * wide rows by orders of magnitude; 128 MB parquet-style targets
    * are byte targets). Tracked from the writer's own cell encoding
    * (fixed widths + string bytes + null bitmap), so the estimate is
    * the real block size to within per-column header overhead.
    * Composes with the row budget: whichever trips first rolls.
    * Default unlimited. */
  val MaxBytes: Entry = Entry("max_bytes_per_segment", perWrite = true)(
    positive(Long.MaxValue))

  /** The per-command execution strategy (Iceberg's write.<cmd>.mode
    * shape): `copy_on_write` (default — rewrite the affected groups)
    * or `merge_on_read`. A merge-on-read DELETE writes positional
    * deletion vectors only; a merge-on-read UPDATE/MERGE masks the
    * OLD row versions with vectors and APPENDS the new versions as
    * fresh segments — the touched segments stay byte-identical either
    * way. */
  private def mode(key: String): Entry = Entry(key, perWrite = false) {
    (k, v, _) =>
      require(v == CopyOnWrite || v == MergeOnRead,
        s"gseg: $k must be '$CopyOnWrite' or '$MergeOnRead', got '$v'")
      v
  }
  private[sources] val CopyOnWrite = "copy_on_write"
  private[sources] val MergeOnRead = "merge_on_read"
  val DeleteMode: Entry = mode("gseg.delete.mode")
  val UpdateMode: Entry = mode("gseg.update.mode")
  val MergeMode: Entry = mode("gseg.merge.mode")

  /** ANN-index registration, `gseg.index.<column>` = `<method>:<cells>`
    * — so SHOW TBLPROPERTIES tells an operator (and a planner) which
    * columns carry a persisted index without probing table names. */
  val Index: Entry = Entry("gseg.index.", perWrite = false) { (k, v, _) =>
    require(v.matches("(ivf|lsh):[0-9]+"),
      s"gseg: $k must be '<ivf|lsh>:<cells>', got '$v'")
    v
  }

  val All: Seq[Entry] = Seq(Cluster, BloomColumns, MaxRows, MaxBytes,
    DeleteMode, UpdateMode, MergeMode, Index)

  private def entryOf(k: String): Option[Entry] = All.find(_.matches(k))
  private def entry(k: String): Entry = entryOf(k).getOrElse(
    throw new IllegalArgumentException(s"gseg: unknown table property " +
      s"'$k' (have: ${All.map(_.name).mkString(", ")})"))

  /** The settings a new table starts with (CREATE, CTAS, RTAS, CREATE
    * OR REPLACE): `PARTITIONED BY`, then every property naming an
    * entry, `OPTIONS` included. Other properties are Spark's
    * bookkeeping (provider, location, owner, comment) and stay out,
    * except that an unknown `gseg.*` key is a typo and fails. */
  def of(properties: java.util.Map[String, String],
      partitions: Array[Transform], schema: StructType): SegSettings = {
    val declared = SegSettings(checkCluster(
      Option(partitions).toSeq.flatten
        .map(SegSource.ClusterKey.ofTransform(_).render),
      schema, "PARTITIONED BY"))
    properties.asScala.foldLeft(declared) { case (s, (p, v)) =>
      val k = p.stripPrefix(TableCatalog.OPTION_PREFIX)
      if (entryOf(k).isDefined || k.startsWith("gseg.")) s.set(k, v, schema)
      else s
    }
  }

  /** Validates clustering specs against `schema` and returns them in
    * their stored form. Identity keys need a type whose header stats
    * prove single-valuedness, transforms a type they apply to, and a
    * `zorder(a,b)` spec — layout-only, it owns the write-side sort —
    * must be the sole spec, over two distinct integer columns. */
  private[sources] def checkCluster(specs: Seq[String], schema: StructType,
      what: String): Seq[String] = {
    def typeOf(c: String): DataType = schema.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"gseg: $what column '$c' is not in the schema")).dataType
    val out = specs.map { spec =>
      SegSource.parseZOrder(spec) match {
        case Some((a, b)) =>
          require(specs.size == 1, s"gseg: $what: zorder cannot combine " +
            s"with other clustering specs (got ${specs.mkString(",")})")
          require(a != b,
            s"gseg: $what: zorder needs two distinct columns, got $spec")
          Seq(a, b).foreach(c => require(
            SegSource.zorderClusterType(typeOf(c)),
            s"gseg: $what: zorder('$c') needs a BIGINT/INT column, got " +
              typeOf(c).simpleString))
          s"zorder($a,$b)"
        case None =>
          val k = SegSource.ClusterKey.parse(spec)
          val dt = typeOf(k.col)
          val (ok, need) = k match {
            case SegSource.ClusterKey(c, Some(_), _, _) =>
              (SegSource.bucketClusterType(dt), s"bucket(n, $c) needs a " +
                "BIGINT/INT/STRING/DATE/TIMESTAMP column")
            case SegSource.ClusterKey(c, None, Some(u), _) =>
              (SegSource.temporalClusterType(u, dt), s"$u($c) needs a " +
                "TIMESTAMP" + (if (u == "hours") "" else " or DATE") +
                " column")
            case SegSource.ClusterKey(c, None, None, Some(_)) =>
              (SegSource.truncClusterType(dt),
                s"truncate(w, $c) needs a BIGINT/INT/STRING column")
            case SegSource.ClusterKey(c, _, _, _) =>
              (SegSource.identityClusterType(dt), s"column '$c' must be " +
                "BIGINT/INT/STRING/DATE/TIMESTAMP/DECIMAL (identity " +
                "clustering)")
          }
          require(ok, s"gseg: $what: $need, got ${dt.simpleString}")
          k.render
      }
    }
    val cols = out.map(s => SegSource.parseZOrder(s)
      .fold(SegSource.ClusterKey.parse(s).col)(_.toString))
    require(cols.distinct.size == cols.size,
      s"gseg: $what: duplicate clustering column in ${out.mkString(",")}")
    out
  }
}
