package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-visible correctness gates for the approximate / seed-dependent
  * operators (SimHash pairs, LSH ANN, IVF ANN). Their raw outputs have
  * no SQL oracle — DuckDB cannot re-derive hash-seeded buckets — so each
  * gate instead computes, inside Spark, the property that MAKES the
  * operator correct, and returns it as a 1-row boolean frame a trivial
  * constant oracle can check:
  *
  *  - blocking/full-probe EXACTNESS: pigeonhole SimHash blocking must
  *    equal brute-force Hamming pairs (a theorem, checked); IVF with
  *    nprobe = nlist must equal brute-force top-k (ditto).
  *  - RECALL floors: probabilistic ANN recall vs brute force, with
  *    thresholds set from the corpus's measured similarity profile.
  *
  * Everything is declarative (anti-join emptiness + one cross join of
  * 1-row aggregates), so a gate is a single Spark job, no driver-side
  * set math. These double as the quality-gate pattern a production
  * pipeline runs after re-tuning ANN parameters at a new data scale.
  */
object Gates {
  /** (left ∆ right) is empty, as a Column-producing pair of anti joins:
    * both directions must be empty for set equality. Shared with the
    * streaming parity gate ([[graft.streaming.StreamGates]]). */
  private[graft] def symDiffEmpty(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    val lOnly = left.join(right, keys, "left_anti")
      .agg(count(lit(1)).as("l_only"))
    val rOnly = right.join(left, keys, "left_anti")
      .agg(count(lit(1)).as("r_only"))
    lOnly.crossJoin(rOnly)
  }

  /** Evaluate a one-row gate frame eagerly, release the given cached
    * frames, and hand back the result as a fresh local DataFrame — the
    * persists above never outlive the gate call, so sessions without
    * Bench/Verify's clearCache-between-queries discipline (specs,
    * interactive use) can't accumulate cached corpora. */
  private[functions] def sealGate(s: SparkSession, gate: DataFrame,
      cached: org.apache.spark.sql.Dataset[_]*): DataFrame = {
    val rows = gate.collect()
    cached.foreach(_.unpersist())
    s.createDataFrame(java.util.Arrays.asList(rows: _*), gate.schema)
  }

  /** Quantile-sketch gate: percentile_approx (GK sketch — the only way
    * to do quantiles in one pass at 100 TB) checked against the
    * sketch's ACTUAL contract — RANK error ≤ n/accuracy — not a value
    * tolerance: on a steep or heavy-tailed distribution a within-spec
    * rank error can move the VALUE arbitrarily, so a value-relative
    * gate would flake on data it wasn't calibrated for. For each group
    * and probe p, the approx value v (an observed value, occupying
    * ranks [#{x<v}+1, #{x≤v}]) must overlap the permitted rank band
    * [p·n − n/acc − 1, p·n + n/acc + 1] (±1 absorbs the ⌈p·n⌉
    * rounding convention). Both sides computed in-engine (sketch merge
    * order varies with partitioning, so no SQL oracle can reproduce
    * the sketch — the bound is the contract), booleans checked by a
    * constant oracle. All-NULL groups drop out of the posexplode and
    * pass vacuously, like an empty table. */
  def quantileGate(s: SparkSession, d: String, accuracy: Int = 1000): DataFrame = {
    val probes = array(lit(0.25), lit(0.5), lit(0.75))
    // NULL-keyed groups must reach the rank check too: an equi-join on
    // the raw group key would silently drop them (NULL != NULL) and
    // the gate would pass vacuously on exactly the rows it never saw —
    // same sentinel-coalesce trick as Sampling.stratumRanks
    val vals = graft.Tables.orders(s, d)
      .select(coalesce(col("o_orderpriority"), lit("\u0000")).as("_k"),
        col("o_totalprice"))
      .filter(col("o_totalprice").isNotNull)
    val ap = vals.groupBy(col("_k"))
      .agg(percentile_approx(col("o_totalprice"), probes, lit(accuracy))
        .as("approx"))
      .select(col("_k"), posexplode(col("approx")).as(Seq("i", "v")))
      .withColumn("p", (col("i") + 1) * lit(0.25))
    vals.join(broadcast(ap), Seq("_k"))
      .groupBy(col("_k"), col("i"), col("p"), col("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < col("v"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("o_totalprice") <= col("v"), 1L).otherwise(0L)).as("le"))
      .select(((col("lt") + 1 <= col("p") * col("n") + col("n") / accuracy + 1)
        && (col("le") >= col("p") * col("n") - col("n") / accuracy - 1))
        .as("ok"))
      .agg(coalesce(expr("bool_and(ok)"), lit(true)).as("quantiles_ok"))
  }

  /** Mergeable-sketch gate [a15_hll_merge]: the property that makes
    * incremental/partitioned count-distinct work at 100 TB — HLL
    * sketches built per partition (here per ship-month) and UNIONED at
    * query time must estimate what one pass over the whole table
    * estimates. This is the pattern behind pre-aggregated rollup
    * tables: store a sketch per day/segment, merge on read, never
    * rescan history. What is NOT the contract: estimate equality
    * between the two paths. BOTH are sketch unions — Spark's
    * hll_sketch_agg itself merges per-partition partial sketches, and
    * DataSketches promotes union targets HLL_4→HLL_8 — so each path's
    * estimate moves a little with partition layout (measured 150443
    * merged vs 149269 direct on 147236 true at sf0.1). The durable,
    * partition-robust property is each path landing within the
    * configured relative error of the TRUE distinct count. Checked
    * in-engine (DuckDB's approx_count_distinct is a different sketch —
    * no cross-engine value oracle exists), booleans vs a constant
    * oracle. */
  def hllMergeGate(s: SparkSession, d: String, relErr: Double = 0.05): DataFrame = {
    // true calendar months (date_trunc, ~80 partitions over the TPC-H
    // range), not month-of-year — the rollup pattern stores one sketch
    // per partition, and a 12-super-sketch union would test far fewer
    // merges than the claim covers
    val li = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), date_trunc("month", col("l_shipdate")).as("m"))
    val merged = li.groupBy(col("m"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val direct = li.agg(
      hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).as("est_direct"),
      countDistinct(col("l_orderkey")).as("exact"))
    merged.crossJoin(direct).select(
      (abs(col("est_merged") - col("exact")) <= col("exact") * relErr)
        .as("merge_consistent"),
      (abs(col("est_direct") - col("exact")) <= col("exact") * relErr)
        .as("within_err"))
  }

  /** Sliding count-distinct gate [ev_sliding_distinct]: the "7-day
    * rolling uniques" production pattern — ONE mergeable HLL sketch per
    * day (partial-agg'd map-side like any aggregate), then the rolling
    * window UNIONS the ≤7 daily sketches per anchor day instead of
    * re-scanning seven days of raw events for every day of output. At
    * 100 TB the raw-rescan formulation reads 7× the corpus; this one
    * reads it once and then works over one sketch row per day — the
    * day-grain window is CALENDAR-bounded (rows = days, never data
    * volume), so the empty-PARTITION-BY window is state-sized by the
    * same argument as the a15/a18 sketch-blob collects. The RANGE frame
    * on epoch-day keeps absent calendar days from silently widening
    * the window (a ROWS frame would span 7 PRESENT days, not 7
    * calendar days).
    *
    * Gate: every day's windowed estimate within relErr of the EXACT
    * 7-day distinct — the referee explodes each distinct (day, user)
    * pair to the ≤7 anchor windows it covers and counts exactly, one
    * bounded shuffle of (day, user) pairs. In-engine booleans (DuckDB's
    * HLL is a different sketch; no cross-engine value oracle), vs a
    * constant oracle — the a15 convention. */
  def slidingDistinctGate(s: SparkSession, d: String, relErr: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val pairs = ev.distinct() // one row per (day, user): feeds BOTH paths
      .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val daily = pairs.groupBy(col("dn"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daily.withColumn("est",
      hll_sketch_estimate(hll_union_agg(col("sk")).over(
        Window.orderBy(col("dn")).rangeBetween(-6, 0))))
      .select(col("dn"), col("est"))
    val exact = pairs
      .select(explode(sequence(col("dn"), col("dn") + 6)).as("dn"),
        col("user_id"))
      .groupBy(col("dn"))
      .agg(countDistinct(col("user_id")).as("exact"))
    val gate = est.join(exact, Seq("dn")) // inner: only days with data anchor
      .select((abs(col("est") - col("exact")) <= col("exact") * relErr)
        .as("ok"))
      .agg(coalesce(expr("bool_and(ok)"), lit(false)).as("sliding_distinct_ok"))
      .crossJoin(est.agg(count(lit(1)).as("n_days")))
    val rows = gate.collect()
    pairs.unpersist()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), gate.schema)
  }

  /** Count-min-sketch gate [a18_count_min]: the frequency sibling of
    * the HLL gate [a15] — per-month CMS sketches over l_partkey,
    * merged on read, must bound the true counts of the heaviest keys.
    * This is the mergeable-sketch rollup pattern for "how often does
    * key X appear": store a ~100 KB sketch per partition, answer
    * frequency probes over any partition range by merging sketches,
    * never rescan history.
    *
    * The contract checked is CMS's actual guarantee: estimates never
    * undercount (every counter the key hashes to was incremented at
    * least `true` times) and overcount by at most eps·N. Unlike HLL,
    * CMS merge is EXACT integer addition — commutative and
    * associative — so with a fixed seed the merged estimate is
    * bit-identical under any partitioning, and merged-vs-direct
    * equality IS a valid check here (it pins the merge path; a
    * seed/width mismatch or a byte-order bug would break it). The
    * driver-side merge touches only the ~80 monthly sketch blobs —
    * bounded by the calendar, not the data. */
  /** MIPS-reduction gate [sim_mips_reduction]: searching the
    * one-dimension-augmented corpus by NEAREST L2 must return exactly
    * the brute-force maximum-inner-product top-k — the identity
    * |q̂−x̂|² = |q|² + M² − 2·q·x makes the two rankings equal, which
    * is what lets the library's L2 ANN indexes (IVF, PQ) serve MIPS
    * without modification. Checked as set equality per query
    * ([[Similarity.mipsTopK]] vs [[Similarity.mipsViaL2TopK]]); the
    * query count anchors the oracle. */
  def mipsReductionGate(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 5): DataFrame = {
    // brute feeds both anti-join directions plus the query count, and
    // viaL2 both directions — persist, or each subtree re-runs the
    // full corpus scoring pass (the pqRecallGate discipline)
    val brute = Similarity.mipsTopK(s, d, nQueries, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val viaL2 = Similarity.mipsViaL2TopK(s, d, nQueries, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sealGate(s, symDiffEmpty(viaL2, brute, Seq("query_id", "vec_id"))
      .crossJoin(brute.agg(countDistinct(col("query_id")).as("n_queries")))
      .select((col("l_only") === 0 && col("r_only") === 0)
        .as("reduction_exact"), col("n_queries")),
      brute, viaL2)
  }

  /** Sketch set-intersection gate [a27_hll_intersection]: estimate
    * |clickers ∩ viewers| by inclusion–exclusion over three HLL
    * sketches (|A| + |B| − |A∪B|) — the audience-overlap pattern
    * where A and B are far too large to materialize and intersect
    * exactly. The union sketch is hll_union_agg over the SAME
    * per-type sketches that fed the |A|/|B| estimates, so the whole
    * report derives from ONE corpus pass producing two sketch rows
    * (bytes, not data). Error compounds through the subtraction
    * (three ±relErr estimates against a difference), so the bound is
    * checked against the UNION size, not the (smaller) intersection —
    * the standard caveat of inclusion–exclusion on sketches, stated
    * rather than hidden. The exact intersection (one distinct-pair
    * aggregate, the referee) is emitted as a value column so the
    * oracle pins it; the bound booleans are in-engine (DuckDB's HLL
    * is a different sketch). */
  def hllIntersectionGate(s: SparkSession, d: String,
      relErr: Double = 0.05): DataFrame = {
    val ev = graft.Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("user_id"))
    val sketches = ev.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = sketches.agg(
      sum(when(col("event_type") === "click",
        hll_sketch_estimate(col("sk")))).as("est_a"),
      sum(when(col("event_type") === "view",
        hll_sketch_estimate(col("sk")))).as("est_b"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_inter"))
    val exact = ev.groupBy(col("user_id"))
      .agg(count_distinct(col("event_type")).as("nt"))
      .agg(count(when(col("nt") === 2, 1)).as("exact_both"),
        count(lit(1)).as("exact_union"))
    est.crossJoin(exact).select(
      col("exact_both"),
      (abs(col("est_inter") - col("exact_both")) <=
        lit(3 * relErr) * col("exact_union")).as("inter_within_err"),
      (abs(col("est_union") - col("exact_union")) <=
        lit(relErr) * col("exact_union")).as("union_within_err"))
  }

  def countMinGate(s: SparkSession, d: String, eps: Double = 0.001,
      confidence: Double = 0.99, nProbes: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val li = graft.Tables.lineitem(s, d)
      .select(col("l_partkey"), date_trunc("month", col("l_shipdate")).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (okMerged, okDirect, agree) =
      try {
        // exact truth for the probe keys (heaviest keys, unique-ordered)
        // and the row total for the eps·N bound — one aggregate each
        val truth = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("l_partkey").asc).limit(nProbes)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val n = li.count()
        def readSk(bytes: Array[Byte]): CountMinSketch =
          CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
        val monthly = li.groupBy(col("m"))
          .agg(count_min_sketch(col("l_partkey"), lit(eps), lit(confidence),
            lit(42)).as("sk"))
          .collect().map(r => readSk(r.getAs[Array[Byte]]("sk")))
        monthly.reduceOption { (a, b) => a.mergeInPlace(b); a } match {
          case None => (true, true, true) // empty table: vacuous pass,
          // like the siblings' empty-input conventions (quantileGate's
          // coalesce(bool_and, true), hllMergeGate's aggregate-only plan)
          case Some(merged) =>
            val direct = readSk(li.agg(count_min_sketch(col("l_partkey"),
              lit(eps), lit(confidence), lit(42)).as("sk"))
              .head().getAs[Array[Byte]]("sk"))
            val slack = (eps * n).toLong
            def within(sk: CountMinSketch): Boolean =
              truth.forall { case (k, c) =>
                val e = sk.estimateCount(k); e >= c && e <= c + slack
              }
            (within(merged), within(direct), truth.forall { case (k, _) =>
              merged.estimateCount(k) == direct.estimateCount(k)
            })
        }
      } finally li.unpersist()
    Seq((okMerged, okDirect, agree))
      .toDF("merged_within_bound", "direct_within_bound", "paths_agree")
  }

  /** Runtime bloom-filter join pruning gate [P3]: the shuffle-join
    * analogue of dynamic partition pruning [p2] — when a selective
    * filter sits on one join side, Catalyst builds a bloom filter from
    * that side's keys at runtime and injects `might_contain` into the
    * OTHER side's scan, so the big side drops non-joining rows BEFORE
    * the shuffle. At 100 TB this is the difference between shuffling a
    * full fact table and shuffling the ~1% that survives the semi-join
    * reduction; locally the tables sit under the injection thresholds,
    * so the gate pins them (application-side floor to 0, broadcast off
    * so a shuffle join exists to prune) — on a gate-private
    * `newSession()` child so the pins are invisible to any query
    * running concurrently on the caller's session (a set/restore on
    * the shared session would race it), exactly how a cluster job
    * would rely on the defaults.
    *
    * Checked: (1) `might_contain` is actually in the optimized plan —
    * the feature engaged, not silently skipped; (2) the pruned result
    * multiset equals the same query's result under default settings —
    * a bloom filter may only drop rows the join would drop anyway
    * (false positives pass through to the exact join; false negatives
    * are impossible). Both runs' group rows are compared driver-side
    * (bounded: one row per qualifying order); at corpus scale the same
    * check is the symDiffEmpty of two materialized outputs. Booleans
    * vs a constant oracle; n_groups ties the gate to the data (the
    * oracle recomputes it relationally). */
  def bloomJoinGate(s: SparkSession, d: String): DataFrame = {
    // gate-private session: both runs build their plans here, the pins
    // are set once and die with the child — nothing on the caller's
    // session mutates, so there is no restore and nothing to race
    val iso = s.newSession()
    def joined = graft.Tables.lineitem(iso, d)
      .join(graft.Tables.orders(iso, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") < 10000),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
    def rowsOf(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().iterator
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val base = rowsOf(joined) // child defaults: broadcast join, no bloom
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    val bloomed = joined // fresh plan, optimized under the pins
    val planOk = bloomed.queryExecution.optimizedPlan.toString
      .contains("might_contain")
    val rows = rowsOf(bloomed)
    import s.implicits._
    Seq((planOk, rows == base, rows.size.toLong))
      .toDF("bloom_in_plan", "results_equal", "n_groups")
  }

  /** AQE skew-join gate [skew_aqe_join]: the AUTOMATIC half of the
    * skew story — [[graft.operators.Skew.skewDemo]] shows manual
    * salting; a 100 TB cluster mostly relies on adaptive execution
    * detecting the hot partition at runtime and splitting it across
    * tasks instead. The gate builds a deliberately skewed join (~90% of
    * an exploded lineitem collapses onto one key), runs it under skew
    * thresholds scaled to local data volume on a gate-private session,
    * and checks:
    *  (1) the FINAL adaptive plan really took the skew path —
    *      `SortMergeJoin(skew=true)` plus a skewed AQEShuffleRead (the
    *      feature engaged, not silently skipped), and
    *  (2) the skew-split result equals the same aggregate under
    *      default confs (splitting may only change parallelism, never
    *      values; sums go through DECIMAL so the comparison is exact
    *      regardless of partitioning).
    * The upstream `repartition(12)` is load-bearing, not cosmetic: AQE
    * can only split a skewed reduce partition at MAP-output boundaries,
    * so a single-mapper shuffle (one parquet file at local SF) is
    * unsplittable no matter how skewed — the same reason a real
    * cluster's skew handling degrades when upstream stages are
    * over-coalesced. n_groups ties the gate to the data relationally. */
  def aqeSkewJoinGate(s: SparkSession, d: String): DataFrame = {
    // ×3 keeps the planted hot partition comfortably over the pinned
    // 64KB skew threshold at every tested SF (sf0.001: ~16k hot rows
    // ≈ 150KB shuffled) while moving ~4× less data than the ×12 this
    // gate first shipped with — it is a PLAN gate, not a volume test
    // (that ×12 made it the single slowest bench query at 20s/264MB).
    def skewedAgg(sess: SparkSession, mapBlocks: Boolean): DataFrame = {
      val exploded = graft.Tables.lineitem(sess, d)
        .withColumn("rep", explode(array((0 until 3).map(lit): _*)))
      // >1 map block per shuffle: AQE can only split a skewed reduce
      // partition along map-output boundaries, so the PINNED run
      // repartitions to 12 map tasks first; the broadcast referee has
      // no reduce partition to split and skips that whole extra shuffle
      val fact = (if (mapBlocks) exploded.repartition(12) else exploded)
        .select(
          when(pmod(col("l_orderkey"), lit(10)) < 9, lit(1L))
            .otherwise(col("l_orderkey")).as("k"),
          (col("l_extendedprice") * col("rep") + col("l_orderkey"))
            .as("payload"))
      val dim = graft.Tables.orders(sess, d)
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      fact.join(dim, "k")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("payload").cast("decimal(18,2)")).cast("double")
            .as("sum_payload"))
    }
    def rowsOf(df: DataFrame): Seq[(String, Long, Double)] =
      df.collect().iterator
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
    val iso = s.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "true")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // a shuffle join must exist
    iso.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // local volumes are far below cluster defaults (256MB threshold):
    // scale the knobs so the planted hot partition is over them, the
    // same re-tuning a cluster job does per data scale
    iso.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    iso.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    iso.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
    iso.conf.set("spark.sql.shuffle.partitions", "8")
    val skewed = skewedAgg(iso, mapBlocks = true)
    // the referee keeps the defaults: broadcast, no pins
    val (base, rows) = graft.Overlap.run(s) {
      rowsOf(skewedAgg(s.newSession(), mapBlocks = false))
    } {
      rowsOf(skewed) // executes; AQE finalizes the plan
    }
    val plan = skewed.queryExecution.executedPlan.toString
    val engaged = plan.contains("SortMergeJoin(skew=true)") &&
      plan.contains("skewed")
    import s.implicits._
    Seq((engaged, rows == base, rows.size.toLong))
      .toDF("skew_join_applied", "results_equal", "n_groups")
  }

  /** SimHash gate: pigeonhole-blocked pairs == brute-force all-pairs
    * Hamming-distance pairs (exact set equality — the pigeonhole bound
    * guarantees it; this checks the implementation, not the theorem). */
  def simhashGate(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    val sh = Dedup.simhash(s, d)
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"))
    val blocked = Dedup.simhashPairs(s, d, maxHamming)
      .select(col("doc_a"), col("doc_b"))
    symDiffEmpty(blocked, brute, Seq("doc_a", "doc_b"))
      .select((col("l_only") === 0 && col("r_only") === 0)
        .as("blocking_complete"))
  }

  /** LSH ANN gate: multiprobe recall@k vs brute force ≥ floor, and the
    * ANN result is well-formed (k rows per query). The floor is set
    * below the measured recall (≈0.9+ with multiprobe=1 on this
    * corpus profile) but high enough that a broken bucketing fails. */
  def lshRecallGate(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 5, floor: Double = 0.7): DataFrame = {
    // brute force is the most expensive exact scan in the gate and is
    // referenced by several plan subtrees below — persist so the corpus
    // is scanned once, not once per subtree (nQueries×k rows cached)
    val brute = Similarity.cosineTopK(s, d, nQueries, k)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ann feeds the hit join AND the row count — persist, or the whole
    // LSH bucketing + candidate join reruns per subtree (it was the
    // query's dominant shuffle, doubled)
    val ann = Similarity.lshTopK(s, d, nQueries, k, multiprobe = 1)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hits = ann.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val stats = brute.agg(count(lit(1)).as("total"))
      .crossJoin(ann.agg(count(lit(1)).as("n_ann")))
    sealGate(s, hits.crossJoin(stats).select(
      (col("hits") >= col("total") * floor).as("recall_ok"),
      (col("n_ann") === nQueries.toLong * k).as("rows_ok")),
      brute, ann)
  }

  /** SemDeDup gate: the cluster-pruned near-dup pairs
    * ([[Similarity.semDedupPairsOn]]) must be (1) a SUBSET of the
    * exact threshold pairs — every candidate is verified with exact
    * cosine, so a false positive means the verify step broke — and
    * (2) above a recall floor against the exact all-pairs scan. The
    * floor (0.8) sits under the measured nprobe=4 recall (1.0 / 1.0 /
    * 0.944 at sf0.001/0.01/0.1) but far above what a broken
    * assignment or join could produce. k-means is deterministic, so
    * the booleans are stable per dataset. */
  def semDedupGate(s: SparkSession, d: String, threshold: Double = 0.45,
      nlist: Int = 16, nprobe: Int = 4, floor: Double = 0.8): DataFrame = {
    // one persisted vector frame backs training and assignment — the
    // parquet scan runs once, not once per Lloyd pass
    val vecs = Ivf.vectors(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Ivf.trainCentroidsOn(vecs, nlist)
    // both sides feed two gate subtrees each (subset + recall) —
    // persist, or the candidate join / exact all-pairs scan rerun
    val cand = Similarity.semDedupPairsOn(vecs, cents, threshold, nprobe)
      .select(col("vec_a"), col("vec_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = Similarity.embeddingNearDupBlocked(s, d, threshold)
      .select(col("vec_a"), col("vec_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fp = cand.join(exact, Seq("vec_a", "vec_b"), "left_anti")
      .agg(count(lit(1)).as("n_fp"))
    val hits = cand.join(exact, Seq("vec_a", "vec_b"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val tot = exact.agg(count(lit(1)).as("total"))
    sealGate(s, fp.crossJoin(hits).crossJoin(tot).select(
      (col("n_fp") === 0).as("verified_subset"),
      (col("hits") >= col("total") * floor).as("recall_ok")),
      cand, exact, vecs)
  }

  /** IVF ANN gate: probing every list must reproduce brute force
    * EXACTLY (full scan through the index is lossless), and the
    * configured partial probe keeps recall above the floor. */
  def ivfRecallGate(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      floor: Double = 0.6): DataFrame = {
    // one index serves both probe settings — ivfTopK would otherwise
    // re-train identical centroids (2 Lloyd passes + collect) per call,
    // doubling the gate's cost for byte-identical results; one persisted
    // vector frame backs training, query collection, and both probe
    // passes, so parquet is scanned once instead of per step
    val vecs = Ivf.vectors(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = Ivf.trainCentroidsOn(vecs, nlist)
    // brute feeds the full-probe symmetric diff AND the recall floor —
    // persist so the exact corpus scan runs once across all subtrees
    val brute = Similarity.cosineTopK(s, d, nQueries, k)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // full feeds BOTH directions of the symmetric diff — persist, or
    // the full-probe index scan reruns per anti-join branch
    val full = Ivf.ivfTopKOn(vecs, cents, nQueries, k, nprobe = nlist)
      .select(col("query_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val part = Ivf.ivfTopKOn(vecs, cents, nQueries, k, nprobe)
      .select(col("query_id"), col("vec_id"))
    val exact = symDiffEmpty(full, brute, Seq("query_id", "vec_id"))
      .select((col("l_only") === 0 && col("r_only") === 0)
        .as("full_probe_exact"))
    val hits = part.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val tot = brute.agg(count(lit(1)).as("total"))
    sealGate(s, exact.crossJoin(hits.crossJoin(tot)
      .select((col("hits") >= col("total") * floor).as("recall_ok"))),
      brute, vecs, full)
  }
}
