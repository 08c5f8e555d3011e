package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._

/** Smoke: every registered query runs at sf0.001 and yields rows with
  * the column names its oracle will be compared under; building its
  * DataFrame runs no Spark job unless [[BuildJobs]] says why; and its
  * physical plan has no CartesianProduct — the one operator that is
  * never right at 100 TB (a non-equi join that degenerated). Tiny
  * intentional cross joins (1-row aggregate frames, literal grids)
  * plan as BroadcastNestedLoopJoin and are allowed. */
class SparkEntrySpec extends SparkSpec with BeforeAndAfterAll {
  /** Queries whose build runs Spark jobs by design: the most jobs the
    * build may run at sf0.001, and why it runs any. Every other build
    * must run none. A bound is the count measured on this session
    * plus a quarter, rounded up. */
  val BuildJobs: Map[String, (Int, String)] = (
    allow(
      "stream/batch parity gate: runs its streams and batch referee and returns the verdict")(
      "stream_availablenow_parity" -> 14, "stream_batch_parity" -> 27,
      "stream_cdf_index_parity" -> 33, "stream_dedup_parity" -> 14,
      "stream_dsv2_parity" -> 13, "stream_dv_cdf_parity" -> 30,
      "stream_gseg_cdf_parity" -> 32, "stream_gseg_gen_parity" -> 17,
      "stream_gseg_sink_parity" -> 23, "stream_join_parity" -> 23,
      "stream_lastk_parity" -> 17, "stream_neardup_parity" -> 35,
      "stream_outer_join_parity" -> 17, "stream_quantile_parity" -> 15,
      "stream_session_parity" -> 17, "stream_state_changefeed" -> 19,
      "stream_state_reader" -> 8, "stream_static_join_parity" -> 14,
      "stream_tws_init_parity" -> 7, "stream_tws_parity" -> 5,
      "stream_tws_restart_parity" -> 9, "stream_tws_timer_parity" -> 19,
      "stream_upsert_parity" -> 19, "stream_wap_cdf_parity" -> 30,
      "tws_batch_unified" -> 2) ++
    allow(
      "batch gate: runs the operator and its exact referee and returns the verdict")(
      "a18_count_min" -> 12, "ev_scan_gate" -> 27, "ev_sliding_distinct" -> 18,
      "p3_bloom_join" -> 10, "sim_ivf_topk" -> 32, "sim_lsh_topk" -> 22,
      "sim_mips_reduction" -> 23, "sim_pq_mips" -> 33, "sim_pq_topk" -> 33,
      "sim_semdedup" -> 23, "skew_aqe_join" -> 10) ++
    allow(
      "gseg scenario or sink roundtrip driver: writes, commits and reads back its table")(
      "s1_csv_roundtrip" -> 2, "s7_orc_roundtrip" -> 2, "s8_json_roundtrip" -> 2,
      "s9_partitioned_sink" -> 3, "s10_schema_evolution" -> 4, "s11_zstd_roundtrip" -> 3,
      "s12_csv_dialect" -> 2, "s13_dsv2_roundtrip" -> 2, "s14_dsv2_agg_pushdown" -> 2,
      "s15_dynamic_overwrite" -> 4, "s16_dsv2_limit_topn" -> 8,
      "s17_dsv2_runtime_filter" -> 12, "s18_dsv2_spj_join" -> 7,
      "s19_dsv2_agg_degrade" -> 5, "s20_xml_roundtrip" -> 2, "s21_dsv2_delete" -> 8,
      "s22_dsv2_update" -> 8, "s23_dsv2_merge" -> 9, "s24_dsv2_merge_pruned" -> 14,
      "s25_dsv2_add_column" -> 3, "s26_dsv2_merge_sync" -> 8, "s27_dsv2_drop_column" -> 3,
      "s28_dsv2_vacuum" -> 10, "s29_dsv2_time_travel" -> 8, "s30_dsv2_compact" -> 7,
      "s31_dsv2_event_retention" -> 10, "s32_dsv2_changefeed" -> 15,
      "s33_dsv2_rename_column" -> 8, "s34_dsv2_ctas" -> 3, "s35_dsv2_partitioned" -> 7,
      "s36_dsv2_changefeed_sql" -> 15, "s37_dsv2_multi_partitioned" -> 7,
      "s38_dsv2_string_prune" -> 7, "s39_dsv2_string_partitioned" -> 7,
      "s40_dsv2_bucketed_spj" -> 7, "s41_dsv2_bloom_prune" -> 10,
      "s42_dsv2_dv_delete" -> 9, "s43_dsv2_months_partitioned" -> 13,
      "s44_dsv2_truncate_binned" -> 7, "s45_dsv2_mor_update" -> 7, "s46_dsv2_clone" -> 14,
      "s47_dsv2_widen" -> 12, "s48_dsv2_tag" -> 14, "s49_dsv2_zorder" -> 12,
      "s50_dsv2_binary" -> 7, "s51_dsv2_media" -> 4, "s52_dsv2_embeddings" -> 5,
      "s53_dsv2_decimal38" -> 14, "s54_dsv2_branch_wap" -> 28,
      "s55_dsv2_spec_evolution" -> 15, "s56_dsv2_ntz" -> 19,
      "s57_dsv2_metadata_tables" -> 9) ++
    allow("writes the files it reads: small files to compact, bucketed tables, " +
        "partitioned or nested parquet, the pipeline's text output")(
      "b1_bucketed_join" -> 3, "compact_small_files" -> 20, "eth_csv_pipeline" -> 2,
      "p1_partition_pruning" -> 2, "p4_nested_pruning" -> 3) ++
    allow(
      "iterative: counts and checkpoints each round to pick the loop bound and join sides")(
      "dedup_cc_clusters" -> 42, "dedup_corpus" -> 32, "g2_pagerank" -> 42,
      "g4_shortest_path" -> 29) ++
    allow(
      "index build: writes the vector index to a gseg table and maintains it by stream")(
      "sim_ivf_indexed" -> 58, "sim_lsh_indexed" -> 43) ++
    allow(
      "size-adaptive join: counts and checkpoints the candidate side to choose the plan")(
      "fuzzy_cosine_join" -> 24, "fuzzy_cosine_shuffle" -> 28, "fuzzy_cosine_zipf" -> 28) ++
    allow("collects a bounded driver-side value the plan embeds: offsets, quotas, " +
        "totals, a bitmap, broadcast vectors")(
      "a26_heavy_hitters" -> 9, "decon_bloom" -> 10, "decon_semantic" -> 3,
      "emb_covariance" -> 2, "merge_upsert" -> 3, "mix_temperature" -> 8,
      "mix_weighted" -> 5, "pack_chunks" -> 5, "sample_cap_per_source" -> 5,
      "sample_stratified" -> 5, "sim_cosine_topk" -> 2, "sql_var_suite" -> 5,
      "text_jsd" -> 10, "w_global_row_number" -> 5) ++
    allow(
      "counts a persisted frame so the branches that share it do not race a cold cache")(
      "decon_ngram_hashed" -> 5, "decon_ngram_overlap" -> 3, "dedup_minhash_lsh" -> 4,
      "dedup_substring" -> 4, "text_tfidf" -> 3)).toMap

  private def allow(why: String)(bounds: (String, Int)*) =
    bounds.map { case (q, n) => q -> ((n, why)) }

  private def boundOf(query: String): Int = BuildJobs.get(query).fold(0)(_._1)

  /** Call sites of the jobs run under each tag; a job's result stage
    * is its newest and is named after the call site. */
  private val jobs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(Bench.QueryProperty)))
        .foreach { tag =>
          jobs.computeIfAbsent(tag, _ => new ConcurrentLinkedQueue[String]())
            .add(j.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
          ()
        }
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    val counts = jobs.asScala.collect { case (t, sites) if t.startsWith("build:") =>
      (t.stripPrefix("build:"), sites.size) }.toSeq.sortBy { case (q, n) => (-n, q) }
    val over = counts.filter { case (q, n) => n > boundOf(q) }
    if (over.nonEmpty) {
      println("[SparkEntrySpec] builds over their job bound: " +
        over.map { case (q, n) => s"$q=$n" }.mkString(", "))
      println("[SparkEntrySpec] build jobs per query: " +
        counts.map { case (q, n) => s"$q=$n" }.mkString(", "))
    }
  }

  /** Builds with `build` and counts the jobs it ran. Jobs are tagged
    * with Bench's query property rather than a job group: a stream
    * gate's micro-batch jobs run under the stream's own job group but
    * keep the local properties of the thread that started it. */
  private def countingBuildJobs(name: String)(build: => DataFrame): (DataFrame, Seq[String]) = {
    val sc = spark.sparkContext
    def tagged[T](tag: String)(body: => T): T = {
      sc.setLocalProperty(Bench.QueryProperty, tag)
      try body finally sc.setLocalProperty(Bench.QueryProperty, null)
    }
    val df = tagged(s"build:$name")(build)
    // the listener sees jobs in submission order: once this later job
    // is seen, every build job has been counted
    tagged(s"fence:$name")(sc.parallelize(Seq(0), 1).count())
    eventually(timeout(30.seconds), interval(10.millis)) {
      assert(jobs.containsKey(s"fence:$name"))
    }
    (df, Option(jobs.get(s"build:$name")).fold(Seq.empty[String])(_.asScala.toSeq))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows") {
      val (df, sites) = countingBuildJobs(name)(fn(spark, sfDir))
      val bound = boundOf(name)
      assert(sites.size <= bound, s"building $name ran ${sites.size} Spark jobs; " +
        s"at most $bound allowed. Call sites: ${sites.mkString(", ")}")
      assert(df.columns.nonEmpty)
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      assert(df.count() > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every build-job allowance names a query and gives a reason") {
    val unknown = BuildJobs.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowances for unknown queries: $unknown")
    assert(BuildJobs.values.forall { case (n, why) => n > 0 && why.nonEmpty })
  }
}
