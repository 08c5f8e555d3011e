package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Scale design (100 TB): brute-force cosine is the correctness
  * baseline — it is O(|Q|·|C|) and only viable when the query set is
  * small or the corpus is blocked. The scale path is random-hyperplane
  * LSH: bucketing is map-only per vector, the candidate join shuffles
  * only (table, bucket) keys, and exact cosine runs on candidates.
  * Elementwise float→double casts keep the arithmetic exact and
  * portable to the DuckDB oracle.
  */
object Similarity {
  /** embedding cast to double elementwise (exact — every float is
    * representable) so downstream math matches the oracle. */
  private def vecD(c: Column): Column = transform(c, x => x.cast(DoubleType))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))

  /** Left-to-right primitive dot product — the same IEEE summation
    * order as [[dot]]/the DuckDB oracle's list_sum, so results are
    * bit-identical; a tight double[] loop instead of per-element boxed
    * HigherOrderFunction evaluation (HOFs don't codegen). */
  private[graft] def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private[graft] def normArr(a: Array[Double]): Double = math.sqrt(dotArr(a, a))

  /** Collect + broadcast one side as primitive arrays (norms
    * precomputed) — the build side of a broadcast nested-loop join,
    * viable whenever that side fits an executor (queries always;
    * the corpus for the exact-all-pairs baseline only). */
  private[graft] def broadcastVecs(s: SparkSession, df: DataFrame) = {
    val arr = df.collect().map { r =>
      val v = r.getSeq[Double](1).toArray
      (r.getLong(0), v, normArr(v))
    }.sortBy(_._1)
    s.sparkContext.broadcast(arr)
  }

  /** Brute-force cosine top-k: query vectors vec_id < nQueries against
    * the full corpus. Queries are broadcast; each corpus partition
    * streams once through a primitive-array kernel keeping a per-query
    * top-k heap — one distributed pass, no shuffle until the final
    * k·|Q| merge. */
  def cosineTopK(s: SparkSession, d: String, nQueries: Int = 20, k: Int = 5): DataFrame =
    cosineTopKOf(s, vectors(s, d), nQueries, k)

  /** [[cosineTopK]] over an arbitrary (vec_id, v: array<double>)
    * frame — the seam that lets the SAME kernel and oracle run over
    * any storage (parquet via [[vectors]], a gseg vector table via
    * s52's read). */
  def cosineTopKOf(s: SparkSession, vecs: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    import s.implicits._
    val bc = broadcastVecs(s, vecs.filter(col("vec_id") < nQueries))
    val scored = vecs
      .select(col("vec_id").as("_1"), col("v").as("_2"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (id, v) =>
          val n = normArr(v)
          qs.iterator.filter(_._1 != id).map { case (qid, qv, qn) =>
            (qid, id, dotArr(qv, v) / (qn * n))
          }
        }
      }.toDF("query_id", "vec_id", "cos")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ threshold.
    * Quadratic BRUTE-FORCE baseline — corpus collected + broadcast,
    * each partition scans its rows against the higher-id half. Only
    * viable while the corpus fits the driver; kept as the spec's
    * referee for [[embeddingNearDupBlocked]], which is the production
    * entry (same exact output, no driver collect). */
  def embeddingNearDup(s: SparkSession, d: String, threshold: Double = 0.45): DataFrame = {
    import s.implicits._
    val bc = broadcastVecs(s, vectors(s, d))
    vectors(s, d)
      .select(col("vec_id").as("_1"), col("v").as("_2"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (id, v) =>
          val n = normArr(v)
          // all is vec_id-sorted: binary-search the strict upper half
          var lo = 0; var hi = all.length
          while (lo < hi) { val m = (lo + hi) >>> 1
            if (all(m)._1 <= id) lo = m + 1 else hi = m }
          all.iterator.drop(lo).map { case (bId, bV, bN) =>
            (id, bId, dotArr(v, bV) / (n * bN))
          }.filter(_._3 >= threshold)
        }
      }.toDF("vec_a", "vec_b", "cos")
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Threshold-complete near-dup pairs WITHOUT a driver collect or a
    * full-corpus broadcast: block-partitioned all-pairs. Every vector
    * is replicated to the block-pair keys its block is responsible
    * for (asymmetric: ~nBlocks/2 replicas per side on average),
    * the self-join is co-partitioned on the block-pair id, and the
    * codegen'd [[VectorExpressions.vecCosine]] filter streams through
    * the join output — nothing quadratic is ever materialized.
    *
    * Why not LSH here: hyperplane LSH is probabilistic, and this
    * corpus's qualifying pairs sit right at the threshold (cos
    * 0.45–0.51, per-bit agreement p≈0.65) — at T=24/b=6 the expected
    * miss count at sf0.01 is ≈2 of 14 pairs, which breaks the exact
    * oracle. Enumerating EVERY pair above a cosine threshold is
    * inherently Ω(candidate pairs); the right scale lever is the
    * block-partitioned exact scan (shuffle = N·nBlocks rows, compute
    * spread over nBlocks·(nBlocks+1)/2 co-partitioned tasks, one
    * side of each task's block-pair buffered ≈ 2N/nBlocks rows).
    * Approximate top-k — where misses are acceptable — is
    * [[lshTopK]]/[[graft.functions.Ivf.ivfTopK]].
    *
    * At 100 TB: pick nBlocks ≈ corpus_bytes / executor_budget so one
    * block fits an executor; replication grows as √tasks, compute is
    * embarrassingly parallel. */
  def embeddingNearDupBlocked(s: SparkSession, d: String,
      threshold: Double = 0.45, nBlocks: Int = 8): DataFrame = {
    // norm computed ONCE per vector (per replica row), never per pair —
    // the O(N²) inner loop is a single codegen'd vec_dot + scalar math
    val v = vectors(s, d)
      .withColumn("blk", pmod(col("vec_id"), lit(nBlocks)).cast(IntegerType))
      .withColumn("nrm", VectorExpressions.vecNormD(col("v")))
    // ASYMMETRIC replication (r18, guide §2.3 — same rework as
    // FuzzyJoin.cosineAllPairsJoin): the left side carries a block-k
    // vector at the pairs (k, o ≥ k), the right side at (o ≤ k, k),
    // so a cross-block pair meets EXACTLY once and a same-block pair
    // exactly once at the diagonal (k, k) under the id-order dedup —
    // the previous symmetric scheme (both sides at all nBlocks pairs)
    // matched every cross-block pair twice and every same-block pair
    // at all nBlocks keys (~4× the candidate iterations) and shuffled
    // 2× the replica bytes. Canonical (vec_a, vec_b) ordering moves
    // to least/greatest after the join; the cosine is symmetric under
    // the swap, so emitted values are bit-identical.
    val a = v.select(col("vec_id").as("vec_l"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("ba"),
      explode(transform(sequence(col("blk"), lit(nBlocks - 1)),
        o => col("blk") * nBlocks + o)).as("bp"))
    val b = v.select(col("vec_id").as("vec_r"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("bb"),
      explode(transform(sequence(lit(0), col("blk")),
        o => o * nBlocks + col("blk"))).as("bp"))
    a.join(b, Seq("bp"))
      // cross-block matches are unique by construction; the diagonal
      // (k, k) needs the ordering dedup (it also drops self-pairs)
      .filter(col("ba") =!= col("bb") || col("vec_l") < col("vec_r"))
      .select(least(col("vec_l"), col("vec_r")).as("vec_a"),
        greatest(col("vec_l"), col("vec_r")).as("vec_b"),
        (VectorExpressions.vecDotD(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Hyperplane-LSH shape. Tuned for this corpus's similarity profile:
    * true neighbors sit at cos≈0.3–0.4 (θ≈68°, per-bit agreement
    * p=1−θ/π≈0.62), so recall per table is p^bits and overall
    * 1−(1−p^b)^T ⇒ b=6, T=24 gives ≈0.75 recall while a random pair
    * (p=0.5) collides in ≈30% of probes. At larger corpus scale raise
    * bits with log₂|corpus| (buckets must stay small) and add
    * multiprobe to recover the recall the extra bits cost. */
  val LshTables = 24
  val LshBits   = 6
  val Dim       = 64

  /** Deterministic random hyperplanes (seeded), built driver-side as
    * plan literals — tiny (8×12×64 doubles) and identical on every
    * executor. */
  private lazy val hyperplanes: IndexedSeq[IndexedSeq[Array[Double]]] = {
    val rng = new scala.util.Random(42)
    IndexedSeq.fill(LshTables)(IndexedSeq.fill(LshBits)(
      Array.fill(Dim)(rng.nextGaussian())))
  }

  /** Random-hyperplane LSH bucket ids: for each table, a LshBits-bit
    * signature of sign(v·h). Map-only per vector — the LshTables×LshBits
    * dot products run in one primitive-array kernel pass. */
  def lshBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planes = s.sparkContext.broadcast(hyperplanes)
    vectors(s, d)
      .select(col("vec_id").as("_1"), col("v").as("_2"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val hp = planes.value
        it.flatMap { case (id, v) =>
          val nrm = normArr(v) // once per vector, reused by every probe
          (0 until LshTables).iterator.map { t =>
            var bucket = 0L
            var i = 0
            while (i < LshBits) {
              if (dotArr(v, hp(t)(i)) >= 0) bucket |= (1L << i)
              i += 1
            }
            (id, v, nrm, t, bucket)
          }
        }
      }.toDF("vec_id", "v", "nrm", "tbl", "bucket")
  }

  /** ANN top-k via LSH: candidates = corpus vectors sharing any bucket
    * with the query, then exact cosine on candidates only. Probabilistic
    * recall (measured against brute force in the spec) — no SQL oracle.
    *
    * `multiprobe`: also probe every bucket within Hamming distance 1 of
    * each query signature (LshBits extra probes per table). Lifts
    * per-table hit probability from p^b to p^b + b·p^(b-1)(1−p) at the
    * cost of proportionally more candidates — the standard recall/cost
    * knob when raising table count is too expensive. */
  def lshTopK(s: SparkSession, d: String, nQueries: Int = 20, k: Int = 5,
      multiprobe: Int = 0): DataFrame = {
    // bucket pass feeds both the query side and the corpus side —
    // persist so the hyperplane kernel scans the corpus once
    val all = lshBuckets(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queryBuckets = all.filter(col("vec_id") < nQueries)
    val probed =
      if (multiprobe <= 0) queryBuckets
      else {
        val flips = (0 until LshBits).map(i => col("bucket").bitwiseXOR(lit(1L << i)))
        queryBuckets.select(col("vec_id"), col("v"), col("nrm"), col("tbl"),
          explode(array((col("bucket") +: flips): _*)).as("bucket"))
      }
    val queries = probed
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("tbl"), col("bucket"))
    val cand = all.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("vec_id"), col("v"), col("nrm"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.select(col("query_id"), col("vec_id"),
      (VectorExpressions.vecDotD(col("qv"), col("v")) /
        (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** SemDeDup-style cluster-pruned near-dup pairs [SEMDEDUP]: instead
    * of the exact all-pairs scan ([[embeddingNearDupBlocked]]),
    * cluster the corpus with k-means and only compare vectors that
    * share a cluster — the candidate set shrinks from N²/2 to
    * Σ|cluster|², which is what makes semantic dedup tractable on a
    * billion-embedding corpus. Single-assignment recall is poor when
    * near-dups straddle a centroid boundary (measured 0.0–0.43 on
    * this corpus at cos≥0.45), so each vector is assigned to its
    * `nprobe` nearest centroids — the same recall lever as IVF probe
    * fan-out; measured recall at nprobe=4/nlist=16 is 1.0 / 1.0 /
    * 0.944 at sf0.001/0.01/0.1. Replication is nprobe·N rows keyed by
    * cluster id; every surviving pair is verified with EXACT cosine,
    * so precision is 1 by construction ([[Gates.semDedupGate]] checks
    * both properties). At 100 TB: nlist scales with corpus size so
    * clusters stay executor-sized; training cost is Ivf's (one
    * partial-sum pass per Lloyd iteration).
    *
    * A pair sharing several probe clusters meets once per shared
    * cluster — the final groupBy collapses duplicates (cos is
    * identical in each, max() is arbitrary-but-equal). */
  def semDedupPairsOn(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double])],
      cents: Array[Array[Double]], threshold: Double = 0.45,
      nprobe: Int = 4): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    val assigned = vecs.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { case (id, v) =>
        val dists = Array.tabulate(cs.length) { i =>
          val c = cs(i)
          var acc = 0.0; var j = 0
          while (j < v.length) { val t = v(j) - c(j); acc += t * t; j += 1 }
          acc
        }
        (0 until cs.length).sortBy(dists(_)).take(nprobe)
          .map(cid => (cid, id, v))
      }
    }.toDF("cid", "vec_id", "v")
      .withColumn("nrm", VectorExpressions.vecNormD(col("v")))
    val a = assigned.select(col("cid"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cid"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (VectorExpressions.vecDotD(col("va"), col("vb")) /
          (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(round(max(col("cos")), 6).as("cos"))
  }

  /** Convenience entry: trains its own centroids (two extra corpus
    * passes). Callers composing with other index consumers should
    * persist a vector frame and use [[semDedupPairsOn]]. */
  def semDedupPairs(s: SparkSession, d: String, threshold: Double = 0.45,
      nlist: Int = 16, nprobe: Int = 4): DataFrame =
    semDedupPairsOn(Ivf.vectors(s, d), Ivf.trainCentroids(s, d, nlist),
      threshold, nprobe)

  /** Symmetric per-vector int8 quantization [QUANT]: q = round(x ·
    * 127/amax) with amax = max|x| per vector — the 4× memory reduction
    * step a corpus takes before ANN indexing. Map-side expression only
    * (amax via array_max, no shuffle); emitted exploded as
    * (vec_id, pos, q) so the DuckDB oracle hash-compares scalar columns
    * (both engines round half away from zero). The eps floor keeps
    * all-zero vectors defined. */
  def quantizeInt8(s: SparkSession, d: String, nVecs: Int = 20): DataFrame =
    graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < nVecs)
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("amax",
        greatest(array_max(transform(col("v"), abs(_))), lit(1e-12)))
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "val")),
        col("amax"))
      .select(col("vec_id"), col("pos").cast("int").as("pos"),
        round(col("val") * 127.0 / col("amax")).cast("int").as("q"))

  /** Per-label embedding centroid [CENTROID]: the mean vector of every
    * label's embeddings — k-means seeding, class prototypes, drift
    * monitoring. posexplode → ONE hash aggregate on (label, dim):
    * partial aggregation combines map-side, so the shuffle carries at
    * most labels × dim rows per input partition no matter how many
    * vectors stream through — the scalable alternative to collecting
    * arrays or zip_with-folding whole groups into a single task.
    * Emitted exploded as (label, dim, mean_x, n); the oracle zips
    * parallel UNNESTs. Cross-row double sums are order-dependent in
    * the last ulps; the compare's 6-dp rounding absorbs that (same
    * contract every avg-of-double query in the suite relies on). */
  def centroidPerLabel(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("label"), posexplode(vecD(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("mean_x"), count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("int").as("dim"),
        col("mean_x"), col("n"))

  /** One (n, Σx, Σxxᵀ) moment block per input partition — the
    * treeAggregate shape MLlib uses for Gram/covariance matrices. */
  private[graft] case class MomentBlock(
    n: Long, sx: Array[Double], sxy: Array[Double])

  /** Sample covariance matrix of the embedding column [COV]: the
    * d×d second-moment statistic behind PCA whitening, Mahalanobis
    * outlier scoring, and embedding-drift monitors. NOT an explode +
    * d² self-join (the oracle's spelling — at 100 TB that shuffles
    * n·d² rows): a mapPartitions kernel accumulates each partition's
    * (n, Σx, Σxxᵀ) in primitive arrays — one 33 KB block per
    * partition TOTAL, independent of row count — and the driver
    * merges P blocks and finalizes (Σxy − ΣxΣy/n)/(n−1), exactly
    * covar_samp's factorization. Output is d² = 4 096 rows however
    * big the corpus is; cross-partition double-sum order shifts only
    * last-ulps, absorbed by the suite-wide 6-dp rounding contract.
    * Eager: the block merge is an action at build time. */
  def embCovariance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blocks = graft.Tables.embeddings(s, d)
      .select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        var n = 0L
        var dim = 0
        var sx: Array[Double] = null
        var sxy: Array[Double] = null
        it.foreach { e =>
          if (sx == null) {
            dim = e.length
            sx = new Array[Double](dim); sxy = new Array[Double](dim * dim)
          }
          n += 1
          var i = 0
          while (i < dim) {
            val vi = e(i).toDouble
            sx(i) += vi
            var j = 0
            val row = i * dim
            while (j < dim) { sxy(row + j) += vi * e(j); j += 1 }
            i += 1
          }
        }
        if (n == 0) Iterator.empty else Iterator.single(MomentBlock(n, sx, sxy))
      }
      .collect()
    val tot = blocks.reduce { (a, b) =>
      var i = 0
      while (i < a.sx.length) { a.sx(i) += b.sx(i); i += 1 }
      i = 0
      while (i < a.sxy.length) { a.sxy(i) += b.sxy(i); i += 1 }
      MomentBlock(a.n + b.n, a.sx, a.sxy)
    }
    val dim = tot.sx.length
    val n = tot.n.toDouble
    val rows = for (i <- 0 until dim; j <- 0 until dim) yield
      (i, j, (tot.sxy(i * dim + j) - tot.sx(i) * tot.sx(j) / n) / (n - 1))
    rows.toDF("i", "j", "cov")
      // + 0.0 canonicalizes IEEE -0.0 → +0.0: a tiny negative
      // covariance rounds to -0.0, and the compare's string sort
      // orders "-0.0" ≠ "0.0" even though the values are equal
      .select(col("i"), col("j"), (round(col("cov"), 6) + 0.0).as("cov"))
  }

  /** Brute-force maximum-inner-product top-k (MIPS — the retrieval
    * metric of un-normalized embedding models, where cosine and L2
    * neighbors differ). Same one-pass broadcast-query shape as
    * [[cosineTopK]]. */
  def mipsTopK(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val bc = broadcastVecs(s, vectors(s, d).filter(col("vec_id") < nQueries))
    val scored = vectors(s, d)
      .select(col("vec_id").as("_1"), col("v").as("_2"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bc.value
        it.flatMap { case (id, v) =>
          qs.iterator.filter(_._1 != id).map { case (qid, qv, _) =>
            (qid, id, dotArr(qv, v))
          }
        }
      }.toDF("query_id", "vec_id", "ip")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("query_id"), col("vec_id"))
  }

  /** MIPS via the L2 reduction: append one dimension
    * x̂ = [x, sqrt(M² − |x|²)] (M = max corpus norm), q̂ = [q, 0] —
    * then |q̂ − x̂|² = |q|² + M² − 2·q·x, so NEAREST-neighbor search on
    * the augmented vectors ranks exactly by inner product. This is
    * the standard trick that lets every L2 ANN index in this library
    * ([[graft.functions.Ivf]], [[graft.functions.Pq]]) serve MIPS
    * unchanged; M comes from one corpus-pass max aggregate. */
  def mipsViaL2TopK(s: SparkSession, d: String, nQueries: Int = 20,
      k: Int = 5): DataFrame = {
    import s.implicits._
    val base = vectors(s, d)
      .select(col("vec_id").as("_1"), col("v").as("_2"))
      .as[(Long, Array[Double])]
    val m2 = base.map { case (_, v) => dotArr(v, v) }
      .agg(max(col("value"))).head().getDouble(0)
    val bc = broadcastVecs(s, vectors(s, d).filter(col("vec_id") < nQueries))
    val scored = base.mapPartitions { it =>
      // augment queries ONCE per partition ([q, 0]), not per pair
      val qAugs = bc.value.map { case (qid, qv, _) =>
        (qid, java.util.Arrays.copyOf(qv, qv.length + 1))
      }
      it.flatMap { case (id, v) =>
        val aug = java.util.Arrays.copyOf(v, v.length + 1)
        aug(v.length) = math.sqrt(math.max(0.0, m2 - dotArr(v, v)))
        qAugs.iterator.filter(_._1 != id).map { case (qid, qAug) =>
          var acc = 0.0; var i = 0
          while (i < qAug.length) {
            val t = qAug(i) - aug(i); acc += t * t; i += 1
          }
          (qid, id, acc)
        }
      }
    }.toDF("query_id", "vec_id", "dist")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select(col("query_id"), col("vec_id"))
  }
}
