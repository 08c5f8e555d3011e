package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Market-basket co-occurrence mining — the frequent-itemset shape
  * (recommendations, "bought-together", cross-sell) whose naive form
  * is an unbounded self-join. Scale discipline, in order:
  *
  *  1. Apriori prefilter: a PAIR can only reach `minsup` if BOTH its
  *     items individually do (downward closure), so items below
  *     support are dropped BEFORE pair generation — on a long-tailed
  *     catalog that removes most of the item stream map-side (here a
  *     left-semi join against the frequent-item set).
  *  2. Pair fan-out is per-basket quadratic: each basket of k items
  *     emits k(k-1)/2 pairs via the orderkey self-join, so ONE
  *     pathological basket (a crawler session, a power user's cart)
  *     can emit more pairs than the rest of the corpus combined.
  *     [[capBaskets]] enforces the bound: baskets over the cap are
  *     deterministically down-sampled to it (hash-ranked, so the kept
  *     subset is an unbiased pseudo-random sample, stable across
  *     partitionings and reruns), and every engagement is counted
  *     in an observed metric. TPC-H baskets are ≤7 lines so the cap
  *     never engages on the oracle-gated rows — capped ≡ uncapped
  *     below the cap is the property BasketSpec pins.
  *  3. Support counting is ONE partial-agg'd hash aggregate on the
  *     (a, b) pair key; no row ever carries basket contents.
  */
object Basket {
  /** Per-basket fan-out guard: keep at most `cap` items per basket,
    * chosen by xxhash64 rank (deterministic sample — item-id order
    * would bias toward low ids). Baskets at or under the cap pass
    * through untouched, so the guard is semantics-free exactly until
    * the moment it is needed; engagements land in bench metrics as
    * `<counterPrefix>_capped_baskets`. The window's partition key is
    * the pair join's own shuffle key, so the added cost is one
    * in-partition sort, not a new shuffle shape.
    *
    * PURE: the returned frame is a lazy description — no persist, no
    * job at construction time. Self-join consumers (frequentPairs,
    * g4's edge build) still pay ONE shuffle: both branches' exchanges
    * are identical, so Spark's exchange/stage reuse computes the
    * shuffle once (the deterministic xxhash64 rank makes per-branch
    * recomputation of the window above it safe). Cap engagements are
    * counted IN the caller's own job — exactly one row per
    * over-cap basket carries rank cap+1 — as the observed metric
    * `<counterPrefix>_capped_baskets`, which stays on the plan: after
    * an action, the consuming frame's `queryExecution.observedMetrics`
    * holds it, and [[graft.Bench]] adds it to the query's counters. */
  def capBaskets(items: DataFrame, keyCol: String, itemCol: String,
      cap: Int, counterPrefix: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(xxhash64(col(keyCol), col(itemCol)), col(itemCol))
    // EXPLICIT partition count on the window's input: the stage above
    // this window is the per-basket-quadratic pair kernel (cheap
    // bytes, expensive rows), and AQE's byte-based coalescing folded
    // it onto 10 of 32 cores at sf0.1 (watched live in
    // mb_frequent_pairs). A user-specified repartition width is
    // exempt from coalescing; same hash key as the window's own
    // requirement, so no extra exchange is added.
    val nParts = items.sparkSession.sparkContext.defaultParallelism
    val ranked = items.repartition(nParts, col(keyCol))
      .withColumn("_rnk", row_number().over(w))
    ranked.observe(s"${counterPrefix}_capped_baskets",
        coalesce(sum(when(col("_rnk") === cap + 1, 1L)), lit(0L)))
      .filter(col("_rnk") <= cap).drop("_rnk")
  }

  /** Default basket cap: 64 items ⇒ ≤ 2,016 pairs per basket. TPC-H
    * orders hold ≤7 lines, so the oracle rows run uncapped semantics
    * through the capped code path. */
  val DefaultBasketCap = 64

  /** Per-pair co-occurrence counts over capped baskets — the shared
    * core of [[frequentPairs]] and g4's edge build. Replaces the
    * earlier sort-merge SELF-JOIN of the capped frame (two window
    * branches + join machinery over the same shuffle) with a
    * sort-group KERNEL: [[capBaskets]]'s window already delivers rows
    * clustered by basket (its required sort — WindowExec's output
    * order, preserved by the narrow project above it), so one
    * mapPartitions pass buffers ≤cap items per basket and emits every
    * (a, b) value-pair with a < b directly — identical multiset to the
    * self-join's `x.item < y.item` output (value comparison: duplicate
    * items never self-pair, multiplicities multiply) for ANY row
    * order, since membership only depends on the buffered set. Plan:
    * ONE shuffle of items (the window's), per-basket-quadratic
    * map-side fan-out bounded by the cap, then the partial-agg'd hash
    * aggregate on the pair key — at 100 TB the items move once and
    * the pairs partial-reduce before they move. */
  def pairCounts(items: DataFrame, keyCol: String, itemCol: String,
      cap: Int, counterPrefix: String): DataFrame = {
    val s = items.sparkSession
    import s.implicits._
    capBaskets(items, keyCol, itemCol, cap, counterPrefix)
      .select(col(keyCol).cast("long"), col(itemCol).cast("long"))
      .as[(Long, Long)]
      .mapPartitions(pairIterator)
      .toDF("pair_a", "pair_b")
      .groupBy(col("pair_a"), col("pair_b"))
      .agg(count(lit(1)).as("support"))
  }

  /** The per-partition pair kernel, with the contiguity contract it
    * depends on ENFORCED: [[capBaskets]]'s window sorts each physical
    * partition by (key asc, rank order), so keys must arrive
    * non-decreasing — a key reappearing after its group closed means
    * some plan change broke the clustering, and the kernel would
    * silently UNDERCOUNT cross pairs (a split group pairs only within
    * its fragments). The O(1)-memory monotonicity assertion turns
    * that silent wrong answer into a loud failure; BasketSpec feeds
    * it adversarial orderings directly. */
  private[operators] def pairIterator(
      rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val it = rows.buffered
    new Iterator[(Long, Long)] {
      private var lastKey = Long.MinValue
      private var first = true
      private var pending: Iterator[(Long, Long)] = Iterator.empty
      private def refill(): Unit =
        while (!pending.hasNext && it.hasNext) {
          val k = it.head._1
          if (!first && k <= lastKey)
            throw new IllegalStateException(
              s"pairCounts contiguity contract violated: basket key $k " +
                s"after $lastKey — upstream no longer delivers rows " +
                "sorted by basket within the partition")
          first = false; lastKey = k
          val xs = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (it.hasNext && it.head._1 == k) xs += it.next()._2
          pending = xs.indices.iterator.flatMap(i =>
            xs.indices.iterator
              .filter(j => xs(i) < xs(j))
              .map(j => (xs(i), xs(j))))
        }
      override def hasNext: Boolean = { refill(); pending.hasNext }
      override def next(): (Long, Long) = { refill(); pending.next() }
    }
  }

  /** Part pairs co-ordered in ≥ `minsup` distinct orders. The apriori
    * step is a pure optimization (pairs it removes cannot pass the
    * HAVING), so the oracle states the plain self-join + HAVING and
    * the engine must produce exactly that result through pruning —
    * executed via the [[pairCounts]] sort-group kernel, not a join. */
  def frequentPairs(s: SparkSession, d: String, minsup: Int = 2,
      maxBasketSize: Int = DefaultBasketCap): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val freq = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_ord"))
      .filter(col("n_ord") >= minsup)
      .select(col("l_partkey"))
    pairCounts(li.join(freq, Seq("l_partkey"), "left_semi"),
        "l_orderkey", "l_partkey", maxBasketSize, "mb")
      .select(col("pair_a").as("part_a"), col("pair_b").as("part_b"),
        col("support"))
      .filter(col("support") >= minsup)
  }
}
