package graft

import org.apache.spark.sql.SparkSession

/** Preconfigured session builder for graft applications: UTC session
  * timezone (the reference's gmtime semantics), shuffle width = cores
  * unless overridden (the 200 default is wrong on a laptop and on a
  * 1000-core cluster alike), scan splits sized so single large files
  * still fan out, AQE left on (default) for runtime re-planning,
  * graft's native functions injected, and a local Hadoop filesystem
  * that launches no process per file. Cluster submits override any of
  * these via --conf; this is the local/default shape. */
object GraftSession {
  def builder(master: String = sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      // Codegen class cache sized to the workload's PLAN DIVERSITY
      // (r18, guide §1.2 per-task→per-query work): Spark's global
      // compiled-class cache defaults to 100 entries, and a workload
      // with hundreds of distinct query plans generates thousands of
      // codegen units (WholeStageCodegen stages, unsafe projections,
      // predicates, orderings) per sweep — LRU + cyclic access at
      // that size is a 100% miss rate, so EVERY repeated run pays
      // full Janino recompilation of every fragment. Measured on the
      // 287-query suite at sf0.1 (same box, same shell, alternating):
      // warm-pass total 269.8 s at the default vs 217.9 s at 65536
      // (−19%); cold pass unchanged (322 vs 318 — first compilation
      // is unavoidable). Scale-neutral: cache entries depend on plan
      // count, not data size or core count; a long-lived production
      // driver re-running parameterized plans wins identically.
      // Memory is bounded by generated-source strings — measured via
      // CodegenMetrics: 3,412 units per full sweep, mean source
      // 6.7 KB ⇒ ≈23 MB cached; a warm second sweep recompiles only
      // 61 scratch-path-dependent fragments (OPTIMIZATION_r18.md §12).
      .config("spark.sql.codegen.cache.maxEntries", "65536")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // Hadoop's local filesystem with permission and status calls on
      // java.nio (NioLocalFs.scala): the stock one launches a chmod or
      // readlink process per checkpoint file, 25-40 ms a create+rename
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)
}
