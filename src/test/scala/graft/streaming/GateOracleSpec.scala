package graft.streaming

import graft.{SparkEntry, SparkSpec}

/** Tier-1 coverage for the stream gates no other spec runs: each gate
  * runs at sf0.001, and every column its oracle pins to a constant
  * TRUE (`CAST(1 AS BOOLEAN) AS x` or `TRUE AS x`) must be true in the
  * gate's row. Data-adaptive oracle columns (such as dv_commit) are
  * skipped by construction, and relational columns are the oracle
  * check's job.
  *
  * Runtime bound: the 14 gates together must finish within
  * [[BoundSec]]. They took 47 s at sf0.001 on 4 cores (and total about
  * 23 s at sf0.1 on 32 cores in the r18 bench ledger); the bound
  * leaves 6x room for a loaded host. */
class GateOracleSpec extends SparkSpec {
  private val BoundSec = 300.0
  private val ConstTrue = """(?i)(?:CAST\(1 AS BOOLEAN\)|TRUE)\s+AS\s+(\w+)""".r
  private val gates = Seq(
    "stream_dedup_parity", "stream_upsert_parity", "stream_gseg_gen_parity",
    "stream_gseg_cdf_parity", "stream_dv_cdf_parity", "stream_cdf_index_parity",
    "stream_gseg_sink_parity", "stream_static_join_parity", "stream_state_reader",
    "stream_state_changefeed", "tws_batch_unified", "sim_ivf_indexed",
    "sim_lsh_indexed", "stream_wap_cdf_parity")
  private var totalSec = 0.0

  gates.foreach { name =>
    test(s"$name: oracle-constant TRUE columns hold at sf0.001") {
      val pinned = ConstTrue.findAllMatchIn(SparkEntry.oracleSql(name))
        .map(_.group(1)).toSeq
      assert(pinned.nonEmpty, s"$name: the oracle pins no constant TRUE column")
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      totalSec += (System.nanoTime() - t0) / 1e9
      assert(rows.length === 1)
      val falses = pinned.filterNot(c => rows(0).getAs[Boolean](c))
      assert(falses.isEmpty, s"$name: false at sf0.001: ${falses.mkString(", ")}")
    }
  }

  test("the gates stay within the stated runtime bound") {
    assert(totalSec < BoundSec, f"the 14 gates took $totalSec%.1f s")
  }
}
