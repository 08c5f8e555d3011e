package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class BasketSpec extends SparkSpec {
  /** capBaskets' engagement count, read from the plan of the action
    * that ran `df`: the observed metric stays on it. */
  private def capped(df: DataFrame, prefix: String): Option[Long] =
    df.queryExecution.observedMetrics.get(s"${prefix}_capped_baskets")
      .map(_.getLong(0))

  test("frequent pairs: apriori pruning never changes the answer") {
    // brute-force reference on the real data: pair support via a plain
    // self-join with NO item prefilter
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val want = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey"), col("b.l_partkey"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Basket.frequentPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("capBaskets: identity when every basket is at or under the cap") {
    import spark.implicits._
    val items = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 99L))
      .toDF("bk", "item")
    val df = Basket.capBaskets(items, "bk", "item", 3, "spec")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (3L, 99L)))
    assert(capped(df, "spec").contains(0L))
  }

  test("capBaskets: oversized baskets cut to the cap, deterministically, counted") {
    import spark.implicits._
    val items = ((0 until 20).map(i => (1L, i.toLong)) ++
      Seq((2L, 5L), (2L, 6L))).toDF("bk", "item")
    def run(parts: Int) = {
      val df = Basket.capBaskets(items.repartition(parts), "bk", "item", 4, "spec")
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(capped(df, "spec").contains(1L), "cap engagement not counted")
      rows
    }
    val a = run(1)
    assert(a.count(_._1 == 1L) === 4, s"basket 1 not capped: $a")
    assert(a.count(_._1 == 2L) === 2, "under-cap basket disturbed")
    // hash-ranked keep-set is partition-invariant
    assert(run(7) === a)
  }

  test("pairIterator: sorted-by-basket input emits exactly the a<b pairs") {
    val rows = Iterator((1L, 3L), (1L, 1L), (1L, 2L), (2L, 9L), (3L, 4L), (3L, 4L))
    val got = Basket.pairIterator(rows).toSeq
    // value comparison: duplicates never self-pair, multiplicities multiply
    assert(got.sorted === Seq((1L, 2L), (1L, 3L), (2L, 3L)).sorted)
  }

  test("pairIterator: adversarial ordering trips the contiguity guard") {
    // a basket key reappearing after its group closed = broken
    // clustering; the kernel must fail loudly, never undercount
    val bad = Iterator((1L, 10L), (2L, 20L), (1L, 11L))
    val ex = intercept[IllegalStateException] {
      Basket.pairIterator(bad).toList
    }
    assert(ex.getMessage.contains("contiguity"))
    // equal-key interleave (descending) is equally broken
    val desc = Iterator((5L, 1L), (4L, 1L))
    intercept[IllegalStateException] { Basket.pairIterator(desc).toList }
    // empty input is fine
    assert(Basket.pairIterator(Iterator.empty).isEmpty)
  }

  test("capBaskets: two collects of one frame read the same count") {
    import spark.implicits._
    val items = ((0 until 9).map(i => (1L, i.toLong))).toDF("bk", "item")
    val df = Basket.capBaskets(items, "bk", "item", 4, "dup")
    df.collect()
    assert(capped(df, "dup").contains(1L))
    df.collect() // the same plan again: its metric is reset, not added to
    assert(capped(df, "dup").contains(1L))
  }

  test("frequentPairs: a cap below basket size bounds the pair fan-out") {
    // TPC-H baskets are <=7; cap at 2 so the cap REALLY engages, and
    // every surviving basket emits at most 1 pair
    val capped = Basket.frequentPairs(spark, sfDir, minsup = 2,
      maxBasketSize = 2)
    val counted = capped.agg(sum(col("support"))).head()
    val full = Basket.frequentPairs(spark, sfDir)
      .agg(sum(col("support"))).head()
    assert(counted.isNullAt(0) ||
      counted.getLong(0) <= full.getLong(0))
  }

  test("unpivot melts the wide aggregate losslessly") {
    val wide = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val long = CoreOps.a25Unpivot(spark, sfDir)
      .filter(col("metric") === "sum_qty")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(long === wide) // one long row per (flag, metric), same values
    val nMetrics = CoreOps.a25Unpivot(spark, sfDir)
      .select("metric").distinct().count()
    assert(nMetrics === 3)
  }
}
