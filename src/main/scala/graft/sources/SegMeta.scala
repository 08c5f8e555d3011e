package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** Unified table-metadata sidecar (`.schema.json`): ONE atomically
  * swapped file carrying the schema, the dropped-name tombstones, and
  * the rename alias map — so a multi-change ALTER can never
  * half-apply its metadata (pre-r13 the schema and the tombstones
  * were two separately-atomic files with a crash window between
  * them; ADVICE r12).
  *
  * THE RENAME MODEL (the field-ID substitute, stated honestly):
  * gseg segments address column blocks BY NAME — the name current at
  * write time. Iceberg solves rename with numeric field IDs baked
  * into every data file; gseg files are already written without
  * them, so the sidecar carries the equivalent mapping at TABLE
  * level instead: `aliases[current] = former names` (most recent
  * first). A reader wanting column `c` accepts a block stored under
  * `c` or any of its former names; writers always store the current
  * name. What table-level aliasing cannot express — and therefore
  * loudly rejects — is NAME REUSE: adding a column under a name that
  * is some column's former name (old blocks would resurface under
  * the new column), renaming onto a tombstoned or aliased name
  * (same resurrection through the alias lookup), or re-adding a
  * dropped name. Per-file IDs would permit reuse; honest rejection
  * beats silent wrongness, and rename itself — the case that
  * matters — is fully supported, chains included.
  *
  * Format v2 (the legacy file was the raw `StructType.json`; it
  * reads back with empty aliases and the tombstones merged from the
  * legacy `.dropped` dot-file, which the first v2 write absorbs and
  * removes):
  * {{{
  *   {"gseg_meta": 2,
  *    "schema": <StructType.json object>,
  *    "dropped": ["gone1", ...],
  *    "aliases": {"current": ["former1", "former2"], ...}}
  * }}}
  */
object SegMeta {
  private[sources] val FileName = ".schema.json"
  private[sources] val LegacyDropped = ".dropped"

  /** `settings` rides in the sidecar's `cluster` and `props` fields. */
  case class TableMeta(schema: StructType, dropped: Set[String],
      aliases: Map[String, Seq[String]],
      settings: SegSettings = SegSettings()) {
    /** stored-header-name → current-name, for read-side resolution.
      * Built once per metadata read; first (most recent) alias wins
      * if chains ever overlapped (they cannot, by the guards). */
    lazy val storedToCurrent: Map[String, String] =
      aliases.toSeq.flatMap { case (cur, olds) => olds.map(_ -> cur) }.toMap
    /** Every name that may NOT be (re)introduced as a column. */
    def reservedNames: Set[String] =
      dropped ++ aliases.valuesIterator.flatten
  }

  def path(dir: Path): Path = dir.resolve(FileName)
  def exists(dir: Path): Boolean = Files.exists(path(dir))

  def read(dir: Path): Option[TableMeta] = {
    val p = path(dir)
    if (!Files.exists(p)) return None
    Some(parse(new String(Files.readAllBytes(p), UTF_8), dir))
  }

  private def parse(js: String, dir: Path): TableMeta = {
    import org.json4s._
    val ast = org.json4s.jackson.JsonMethods.parse(js)
    val legacy = (ast \ "gseg_meta") == JNothing
    if (legacy) {
      // raw StructType.json from pre-r13 writers; tombstones live in
      // the legacy .dropped dot-file
      val dropped =
        if (!Files.exists(dir.resolve(LegacyDropped))) Set.empty[String]
        else Files.readAllLines(dir.resolve(LegacyDropped), UTF_8)
          .asScala.filter(_.nonEmpty).toSet
      TableMeta(DataType.fromJson(js).asInstanceOf[StructType],
        dropped, Map.empty)
    } else parseJson(js)
  }

  /** Parse a v2 metadata body with no directory context — the shape
    * [[render]] writes, as embedded in manifest snapshots. */
  private[sources] def parseJson(js: String): TableMeta = {
    import org.json4s._
    val ast = org.json4s.jackson.JsonMethods.parse(js)
    locally {
      val schema = DataType.fromJson(
        org.json4s.jackson.JsonMethods.compact(ast \ "schema"))
        .asInstanceOf[StructType]
      val dropped = (ast \ "dropped") match {
        case JArray(vs) => vs.collect { case JString(s) => s }.toSet
        case _ => Set.empty[String]
      }
      val aliases = (ast \ "aliases") match {
        case JObject(fields) => fields.collect {
          case (cur, JArray(vs)) =>
            cur -> vs.collect { case JString(s) => s }
        }.toMap
        case _ => Map.empty[String, Seq[String]]
      }
      // "cluster": a single JSON string from pre-r14 writers (one
      // identity column), an array since multi-column clustering
      val cluster = (ast \ "cluster") match {
        case JString(c) => Seq(c)
        case JArray(vs) => vs.collect { case JString(c) => c }
        case _ => Nil
      }
      // "props": every other setting under its key (pre-r15 sidecars
      // have none)
      val props = (ast \ "props") match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
      TableMeta(schema, dropped, aliases, SegSettings(cluster, props))
    }
  }

  /** The v2 sidecar body for `meta` — also what the generation
    * manifest embeds per snapshot (as-of-schema time travel). */
  private[sources] def render(meta: TableMeta): Array[Byte] = {
    import org.json4s.JsonDSL._
    val ast: org.json4s.JValue =
      ("gseg_meta" -> 2) ~
        ("schema" -> org.json4s.jackson.JsonMethods.parse(meta.schema.json)) ~
        ("dropped" -> meta.dropped.toSeq.sorted) ~
        ("aliases" -> meta.aliases.map { case (k, v) => k -> v }) ~
        ("cluster" -> Some(meta.settings.cluster).filter(_.nonEmpty)) ~
        ("props" -> Some(meta.settings.props).filter(_.nonEmpty))
    org.json4s.jackson.JsonMethods
      .compact(org.json4s.jackson.JsonMethods.render(ast)).getBytes(UTF_8)
  }

  /** Atomic write (fsync'd temp + ATOMIC_MOVE): a concurrent reader
    * sees the old metadata or the new, never a truncated or
    * half-applied mix — and a crash straddling the rename can never
    * expose a zero-length sidecar (schema inference only runs when
    * the file is ABSENT, so a torn sidecar would wedge loadTable
    * until manual repair; ADVICE r13). Absorbs and removes the
    * legacy `.dropped` file — after the first v2 write there is
    * exactly one metadata file to reason about. */
  def write(dir: Path, meta: TableMeta): Unit = {
    Files.createDirectories(dir)
    val body = render(meta)
    val tmp = dir.resolve(
      s".schema.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(java.nio.ByteBuffer.wrap(body))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, path(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(dir.resolve(LegacyDropped))
  }

  // -------- read-side alias resolution (executor-visible) --------

  /** (sidecar mtime, storedToCurrent) cached per dir — planning reads
    * one header per segment, and re-parsing the sidecar per file
    * would dominate; the mtime check keeps the cache coherent with
    * ALTERs (the atomic rename bumps it). */
  private val aliasCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Map[String, String])]()

  /** stored-name → current-name map for the table at `dir`; empty
    * when there is no sidecar (plain path dirs) or no renames. The
    * cache keys on NANOSECOND mtime — two ALTERs inside the same
    * millisecond (tmpfs, fast test loops) must not serve the first
    * one's aliases. */
  def storedToCurrentAt(dir: String): Map[String, String] = {
    val p = path(java.nio.file.Paths.get(dir))
    if (!Files.exists(p)) return Map.empty
    val inst = Files.getLastModifiedTime(p).toInstant
    val mtime = inst.getEpochSecond * 1000000000L + inst.getNano
    val cached = aliasCache.get(dir)
    if (cached != null && cached._1 == mtime) return cached._2
    val m = read(java.nio.file.Paths.get(dir))
      .map(_.storedToCurrent).getOrElse(Map.empty)
    aliasCache.put(dir, (mtime, m))
    m
  }
}
