package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Small-files compaction [COMPACT]: the table-maintenance primitive
  * every long-lived lake runs (the OPTIMIZE / rewrite-data-files
  * shape). Streaming sinks, partitioned writers and incremental
  * upserts all fragment tables into files far below the scan-optimal
  * size; at 100 TB the cost is real — every file is a task, a
  * footer-parse and a NameNode/listing entry, so a million 1 MB files
  * scan an order of magnitude slower than eight thousand 128 MB ones.
  *
  * Design for scale:
  *  - Sizing comes from the ACTUAL input bytes via a metadata-only FS
  *    listing (no data read), not a row-count heuristic — compressed
  *    bytes are what the scan pays for.
  *  - The default path is coalesce(n): a MERGE of existing partitions
  *    with NO shuffle — each output task reads a handful of small
  *    files and streams them out again, so compaction I/O is one pass
  *    and the cluster never materializes the table in memory.
  *  - The clustered variant (sortCols) pays ONE range-partition
  *    shuffle to restore sort clustering while it compacts —
  *    repartitionByRange + sortWithinPartitions gives globally
  *    non-overlapping per-file key ranges, so min/max file stats
  *    prune like an index afterwards (the OPTIMIZE...ZORDER analog;
  *    see [[ZOrder.zorderBy]] for the 2-D version).
  */
object Compaction {
  /** Data files of a parquet dir via the Hadoop FS: (name, bytes).
    * Metadata-only — this is the listing a table-maintenance job does
    * to DECIDE whether compaction is worth a rewrite. */
  def dataFiles(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen))
  }

  /** Rewrite `inDir` into `outDir` with ~targetBytes-sized files.
    * Returns the chosen output file count. Shuffle-free by default;
    * pass sortCols to restore clustering with one range shuffle. */
  def compact(s: SparkSession, inDir: String, outDir: String,
      targetBytes: Long, sortCols: Seq[String] = Nil): Int = {
    val totalBytes = dataFiles(s, inDir).map(_._2).sum
    val sized = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = s.read.parquet(inDir)
    val out =
      if (sortCols.isEmpty) {
        // the scan itself already packs small files into splits of
        // ~files.maxPartitionBytes, so the read may come back with
        // FEWER partitions than the byte-sized target — and coalesce
        // can only merge, never split. Clamp to whichever is coarser;
        // both paths end at ≥target-sized files, which is the goal.
        val n = math.min(sized, math.max(1, df.rdd.getNumPartitions))
        df.coalesce(n).write.mode("overwrite").parquet(outDir)
        n
      } else {
        df.repartitionByRange(sized, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").parquet(outDir)
        sized
      }
    out
  }

  /** Driver-gated query [compact_small_files]: plant the problem (48
    * tiny files), compact to ~1/8 of the input bytes per file, and
    * check the things compaction must not break — exact content
    * (key-set symmetric difference + row count), the promised file
    * count, and no empty output files. */
  def compactSmallFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = graft.Fs.scratchDir(s, "compact", d)
    val fragDir = s"$base/frag"
    val outDir = s"$base/out"
    Tables.orders(s, d).repartition(48)
      .write.mode("overwrite").parquet(fragDir)
    val fragFiles = dataFiles(s, fragDir)
    val target = math.max(1L, fragFiles.map(_._2).sum / 8)
    val n = compact(s, fragDir, outDir, target)
    val outFiles = dataFiles(s, outDir)
    val a = s.read.parquet(fragDir)
    val b = s.read.parquet(outDir)
    val gate = graft.functions.Gates.symDiffEmpty(
      a.select(col("o_orderkey")), b.select(col("o_orderkey")),
      Seq("o_orderkey"))
      .crossJoin(b.agg(count(lit(1)).as("n_out")))
      .crossJoin(a.agg(count(lit(1)).as("n_in")))
      .select(
        (col("l_only") === 0 && col("r_only") === 0 &&
          col("n_in") === col("n_out")).as("content_equal"),
        (lit(outFiles.size) === n && lit(outFiles.size) < fragFiles.size &&
          lit(outFiles.forall(_._2 > 0L))).as("layout_ok"),
        col("n_out").as("n_rows"))
    graft.functions.Gates.sealGate(s, gate)
  }
}
