package graft

import org.apache.spark.sql.SparkSession

/** r09 sf1 scale probe (measured-not-argued, BASELINE.md format):
  * the sort-group pair kernel (g4_shortest_path, mb_frequent_pairs)
  * and the gseg storage-partitioned join (s18) at sf0.1 and the 10×
  * /tmp/graft_sf1 frames, on the Bench shape (local[32], 32 shuffle
  * partitions). Prints per-run wall + job counts + the operators' own
  * counters. Generate the 10× frames first (see BASELINE.md repro —
  * r09 adds orders.parquet with the same replica offsets as
  * lineitem); run: sbt "Test/runMain graft.Sf1Probe". */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      })
    val queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "g4_shortest_path" -> ((s, d) => graft.operators.CoreOps.g4ShortestPath(s, d)),
        "mb_frequent_pairs" -> ((s, d) => graft.operators.Basket.frequentPairs(s, d)),
        "s18_dsv2_spj_join" -> ((s, d) => graft.operators.CoreOps.s18SegSpjJoin(s, d)),
        // gate-cost-cap claims measured: the r9 stream gates slice by
        // user_id/doc_id prefixes, so their cost should be CONSTANT
        // when the corpus grows 10× with replicas outside the slices
        "stream_join_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamJoinParity(s, d)),
        "stream_outer_join_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamOuterJoinParity(s, d)),
        "stream_tws_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamTwsParity(s, d)),
        "stream_neardup_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamNearDupParity(s, d)),
        // r10 additions: the timer/init tws gates (user<60 slice ⇒
        // constant cost at 10×) and the agg-degrade scan row (header
        // agg over 10× segments: jobs constant, wall grows only with
        // the one-time layout write)
        "stream_tws_timer_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamTwsTimerParity(s, d)),
        "stream_tws_init_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamTwsInitParity(s, d)),
        "stream_lastk_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamLastKParity(s, d)),
        "stream_tws_restart_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamTwsRestartParity(s, d)),
        "s19_dsv2_agg_degrade" -> ((s, d) =>
          graft.operators.CoreOps.s19SegAggDegrade(s, d)),
        // r11 additions: the changefeed gate (state-sized changelog
        // read, not corpus-sized) and batch-mode tws (slice-capped)
        "stream_state_changefeed" -> ((s, d) =>
          graft.streaming.StreamGates.streamStateChangefeed(s, d)),
        "tws_batch_unified" -> ((s, d) =>
          graft.streaming.StreamGates.twsBatchUnified(s, d)),
        // r12 additions: the gseg DML rows (VERDICT r11 #2). The
        // copy-on-write claim measured: the target table write is
        // table-proportional BY DESIGN (it writes 10× the rows), but
        // the REWRITE must track the affected groups — candidates
        // stay 8 (range layout is repartitionByRange(8) at both SFs),
        // runtime candidates / replaced_files stay feed-proportional,
        // never table-proportional, and job counts stay constant
        "s21_dsv2_delete" -> ((s, d) =>
          graft.operators.CoreOps.s21DsvDelete(s, d)),
        "s22_dsv2_update" -> ((s, d) =>
          graft.operators.CoreOps.s22DsvUpdate(s, d)),
        "s23_dsv2_merge" -> ((s, d) =>
          graft.operators.CoreOps.s23DsvMerge(s, d)),
        "s24_dsv2_merge_pruned" -> ((s, d) =>
          graft.operators.CoreOps.s24DsvMergePruned(s, d)),
        "s25_dsv2_add_column" -> ((s, d) =>
          graft.operators.CoreOps.s25DsvAddColumn(s, d)),
        "s26_dsv2_merge_sync" -> ((s, d) =>
          graft.operators.CoreOps.s26DsvMergeSync(s, d)),
        "s27_dsv2_drop_column" -> ((s, d) =>
          graft.operators.CoreOps.s27DsvDropColumn(s, d)),
        "s28_dsv2_vacuum" -> ((s, d) =>
          graft.operators.CoreOps.s28DsvVacuum(s, d)),
        "s29_dsv2_time_travel" -> ((s, d) =>
          graft.operators.CoreOps.s29DsvTimeTravel(s, d)),
        "s30_dsv2_compact" -> ((s, d) =>
          graft.operators.CoreOps.s30DsvCompact(s, d)),
        // the gseg streaming sink slices user_id < 40 ⇒ constant cost
        "stream_gseg_sink_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamSegSinkParity(s, d)),
        // retention DELETE: rewrite cost tracks the horizon boundary
        "s31_dsv2_event_retention" -> ((s, d) =>
          graft.operators.CoreOps.s31DsvEventRetention(s, d)),
        // r13 additions: the changefeed diff is bounded by the
        // commits' churn (changed files), not the table; rename is
        // pure metadata, so its cost is the writes it wraps
        "s32_dsv2_changefeed" -> ((s, d) =>
          graft.operators.CoreOps.s32DsvChangefeed(s, d)),
        "s33_dsv2_rename_column" -> ((s, d) =>
          graft.operators.CoreOps.s33DsvRenameColumn(s, d)),
        "s34_dsv2_ctas" -> ((s, d) =>
          graft.operators.CoreOps.s34DsvCtas(s, d)),
        "s35_dsv2_partitioned" -> ((s, d) =>
          graft.operators.CoreOps.s35DsvPartitionedTable(s, d)),
        // the gen-offset stream gate slices user_id < 40 ⇒ constant
        "stream_gseg_gen_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamSegGenParity(s, d)),
        // r14 additions: the CDF read surface — append files and diff
        // files must track the commits' churn, never the table size
        // (gseg_cdf_* counters), and the composite-key SPJ keeps its
        // zero-exchange shape with key_groups constant at 10×
        "s36_dsv2_changefeed_sql" -> ((s, d) =>
          graft.operators.CoreOps.s36DsvChangefeedSql(s, d)),
        "s37_dsv2_multi_partitioned" -> ((s, d) =>
          graft.operators.CoreOps.s37DsvMultiPartitioned(s, d)),
        // the CDF stream gate slices user_id < 40 ⇒ constant cost
        "stream_gseg_cdf_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamSegCdfParity(s, d)),
        // string zone maps: the prefix lookup must keep its skip
        // RATIO as the name-range-laid table grows (files_total and
        // jobs constant by layout; skipped tracks the prefix slice)
        "s38_dsv2_string_prune" -> ((s, d) =>
          graft.operators.CoreOps.s38DsvStringPrune(s, d)),
        // r15 additions: declared layouts must stay scale-invariant —
        // the string-keyed SPJ's key_groups count is the 24-class
        // domain and the bucketed SPJ's is its 16 buckets at ANY
        // table size; the CDF-maintained LSH index's per-batch cost
        // tracks each commit's churn (cdf append/diff counters), and
        // batches_applied stays the history's commit count
        "s39_dsv2_string_partitioned" -> ((s, d) =>
          graft.operators.CoreOps.s39DsvStringPartitioned(s, d)),
        "s40_dsv2_bucketed_spj" -> ((s, d) =>
          graft.operators.CoreOps.s40DsvBucketedSpj(s, d)),
        "stream_cdf_index_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamCdfIndexParity(s, d)),
        // r15 merge-on-read DELETE: dv cost must track the DELETED
        // rows (gseg_dv_deleted_rows grows 10× with the table's
        // matching rows) while the commit stays vector-writes-only —
        // segments_preserved pins that no segment was rewritten at
        // either scale, and the CDF read of the dv commit is one
        // pruned pass per touched segment (8 at both scales)
        "s42_dsv2_dv_delete" -> ((s, d) =>
          graft.operators.CoreOps.s42DsvDvDelete(s, d)),
        // r15 temporal layout: the months(d) table's key-group count
        // is the DATE DOMAIN's month count (~83 for TPC-H), constant
        // at any row scale; month-range pruning skips a constant
        // FRACTION of files
        "s43_dsv2_months_partitioned" -> ((s, d) =>
          graft.operators.CoreOps.s43DsvMonthsPartitioned(s, d)),
        // truncate(1000, k): the bin count tracks the KEY DOMAIN
        // (which grows with the table here — disjoint replica key
        // ranges), never the row count within a bin
        "s44_dsv2_truncate_binned" -> ((s, d) =>
          graft.operators.CoreOps.s44DsvTruncateBinned(s, d)),
        // mor DELETE through the CDF stream: user_id < 40 slice ⇒
        // constant cost at 10× (replicas land outside the slice)
        "stream_dv_cdf_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamDvCdfParity(s, d)),
        // mor UPDATE: vectors + appended deltas — the appended bytes
        // track the UPDATED rows (10% of the table at either scale),
        // never the resident bytes; segments stay shared
        "s45_dsv2_mor_update" -> ((s, d) =>
          graft.operators.CoreOps.s45DsvMorUpdate(s, d)),
        // r16 additions: widening is METADATA-only (cost = the two
        // appends + the DELETE's affected-file rewrite; jobs
        // constant); tags are metadata-grain (the tagged-snapshot
        // aggregate is table-proportional by design, the pin itself
        // free); the zorder re-layout is a one-shot table rewrite by
        // design, but the PRUNED single-dimension aggregates must
        // keep their skip RATIO (gseg_files_skipped / files_total
        // constant fraction) and job counts at any scale
        "s47_dsv2_widen" -> ((s, d) =>
          graft.operators.CoreOps.s47DsvWiden(s, d)),
        "s48_dsv2_tag" -> ((s, d) =>
          graft.operators.CoreOps.s48DsvTag(s, d)),
        "s49_dsv2_zorder" -> ((s, d) =>
          graft.operators.CoreOps.s49DsvZorder(s, d)),
        // binary payloads: byte volume is table-proportional BY
        // DESIGN (it stores the corpus); jobs and the DML's
        // affected-file counters must stay constant
        "s50_dsv2_binary" -> ((s, d) =>
          graft.operators.CoreOps.s50DsvBinary(s, d)),
        // r17 additions (+ the two r16 rows VERDICT flagged unprobed):
        // media/embedding payload volume is table-proportional BY
        // DESIGN; jobs and the mor DELETE's vector-only commit shape
        // must stay constant. decimal38's widen stays metadata-only
        // at any scale (jobs constant; the DELETE's affected files
        // track the layout, not the row count). branch/WAP costs are
        // metadata-grain: fork and publish are pointer swaps at any
        // table size (the staged append is table-proportional by
        // design). spec evolution is one sidecar write; both layout
        // prunes must keep their skip ratios. The ANN index lifecycle
        // cost = churn of its DML commits + the nprobe/nlist search.
        "s51_dsv2_media" -> ((s, d) =>
          graft.operators.CoreOps.s51DsvMedia(s, d)),
        "s52_dsv2_embeddings" -> ((s, d) =>
          graft.operators.CoreOps.s52DsvEmbeddings(s, d)),
        "s53_dsv2_decimal38" -> ((s, d) =>
          graft.operators.CoreOps.s53DsvDecimal38(s, d)),
        "s54_dsv2_branch_wap" -> ((s, d) =>
          graft.operators.CoreOps.s54DsvBranchWap(s, d)),
        "s55_dsv2_spec_evolution" -> ((s, d) =>
          graft.operators.CoreOps.s55DsvSpecEvolution(s, d)),
        "sim_ivf_indexed" -> ((s, d) =>
          graft.streaming.StreamGates.simIvfIndexed(s, d)),
        // r18 additions: the LSH index lifecycle mirrors ivf's
        // (maintenance = commit churn; the search now reads only the
        // probed cells' FILES — skip counters must scale with the
        // layout, not the corpus). The WAP changefeed's cost is the
        // BRANCH lineage's churn: main's 10× traffic is never read.
        // NTZ is an ordinary column lifecycle: jobs constant, the
        // June-window prune keeps its skip ratio.
        "sim_lsh_indexed" -> ((s, d) =>
          graft.streaming.StreamGates.simLshIndexed(s, d)),
        "stream_wap_cdf_parity" -> ((s, d) =>
          graft.streaming.StreamGates.streamWapCdfParity(s, d)),
        "s56_dsv2_ntz" -> ((s, d) =>
          graft.operators.CoreOps.s56DsvNtz(s, d)),
        // metadata views are METADATA-grain: job count and the view
        // row counts track the file/snapshot/ref inventory, never
        // the stored row count
        "s57_dsv2_metadata_tables" -> ((s, d) =>
          graft.operators.CoreOps.s57DsvMetadataTables(s, d)))
    // optional arg: comma-separated names — probe only those
    val only = args.headOption.map(_.split(',').toSet)
    val picked = queries.filter(q => only.forall(_.contains(q._1)))
    // warm the JVM so the first timed row isn't cold JIT
    picked.foreach(_._2(spark, "/root/testdata/sf0.01").count())
    for (d <- Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")) {
      for ((name, fn) <- picked) {
        spark.catalog.clearCache()
        Counters.clear()
        Thread.sleep(200); jobs = 0
        val t0 = System.nanoTime()
        val n = fn(spark, d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        println(f"PROBE $name%-18s $d%-22s $sec%6.2f s  jobs=$jobs%-3d rows=$n " +
          Counters.drain().toSeq.sorted.map { case (k, v) => s"$k=$v" }
            .mkString(" "))
      }
    }
    spark.stop()
  }
}
