package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.files` /
  * `.snapshots` / `.refs` — the operator's introspection surface,
  * resolved by [[SegCatalog.loadTable]] when the trailing identifier
  * names a metadata view of an existing parent table.
  *
  *  - `files`: the CURRENT generation's file inventory — name,
  *    stored rows, deletion-vector-masked rows, bytes. The invariant
  *    a reader can hold the engine to: Σ(row_count − deleted_rows)
  *    = COUNT(*) of the table. WAP-aware: under
  *    `spark.gseg.wap.branch` it lists the BRANCH head's files,
  *    exactly like data reads.
  *  - `snapshots`: every retained committed generation with its
  *    embedded commit clock, file count, and whether it is the live
  *    pointer — the `VERSION AS OF` catalog.
  *  - `refs`: branches (head, fork base, lineage length) and tags
  *    (pinned generation) in one listing.
  *
  * Execution model stated honestly: rows are computed DRIVER-side at
  * plan time from the manifest/snapshot/refs sidecars (metadata
  * grain — one small file each; the `files` listing is
  * O(live file count), the same object every commit already
  * rewrites) and ship inside the plan as a local scan. At 100 TB
  * this is exactly the metadata:data asymmetry the format is built
  * on; a listing too large for that would mean million-file
  * generations, which compaction exists to prevent. */
object SegMetaTables {
  val Names: Set[String] = Set("files", "snapshots", "refs")

  val FilesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("deleted_rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("has_dv", BooleanType, nullable = false)))

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("generation", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("is_live", BooleanType, nullable = false)))

  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("head", LongType, nullable = false),
    StructField("base", LongType, nullable = false),
    StructField("chain_length", LongType, nullable = false)))

  def schemaOf(kind: String): StructType = kind match {
    case "files" => FilesSchema
    case "snapshots" => SnapshotsSchema
    case "refs" => RefsSchema
    case other => throw new IllegalArgumentException(
      s"gseg: no metadata table '$other'")
  }

  private def s(v: String) = UTF8String.fromString(v)

  /** The rows, computed from the sidecars at call time. */
  def rowsOf(dir: String, kind: String): Array[InternalRow] = kind match {
    case "files" =>
      // session-aware: a WAP session lists the branch head it reads
      val m = SegManifest.readManifestForSession(dir).getOrElse(
        return Array.empty)
      m.names.sorted.map { n =>
        val path = s"$dir/$n"
        val h = SegSource.headerOf(path)
        val dv = m.dvs.get(n)
        val masked = dv.map(d =>
          SegDv.countOf(s"$dir/$d").toLong).getOrElse(0L)
        new GenericInternalRow(Array[Any](s(n), h.nRows.toLong, masked,
          java.nio.file.Files.size(java.nio.file.Paths.get(path)),
          dv.isDefined)): InternalRow
      }.toArray
    case "snapshots" =>
      val live = SegManifest.read(dir).map(_._1).getOrElse(-1L)
      SegManifest.listSnapshots(dir).map { case (g, clock) =>
        val n = SegManifest.readSnapshot(dir, g).map(_.size.toLong)
          .getOrElse(0L)
        new GenericInternalRow(Array[Any](g, clock, n, g == live))
          : InternalRow
      }.toArray
    case "refs" =>
      val branches = SegManifest.refsFull(dir).toSeq.sortBy(_._1).map {
        case (n, (h, b, c)) =>
          new GenericInternalRow(Array[Any](s(n), s("branch"), h, b,
            c.size.toLong)): InternalRow
      }
      val tags = SegManifest.tags(dir).toSeq.sorted.map { case (n, g) =>
        new GenericInternalRow(Array[Any](s(n), s("tag"), g, g, 0L))
          : InternalRow
      }
      (branches ++ tags).toArray
    case other => throw new IllegalArgumentException(
      s"gseg: no metadata table '$other'")
  }
}

/** Read-only V2 table serving one metadata view of `dir`: its scan is
  * the rows [[SegMetaTables.rowsOf]] computes when the query is
  * planned, carried by a [[SegProcedures.localScan]]. */
class SegMetaTable(dir: String, kind: String)
    extends Table with SupportsRead {
  override def name(): String = s"gseg-meta $kind of $dir"
  override def schema(): StructType = SegMetaTables.schemaOf(kind)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => SegProcedures.localScan(schema(),
        s"gseg-meta $kind dir=$dir", SegMetaTables.rowsOf(dir, kind))
}
