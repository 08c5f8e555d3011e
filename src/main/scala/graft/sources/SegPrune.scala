package graft.sources

import java.io.EOFException
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.sources._

import SegSource.{SegHeader, bd}

/** The planning-time pruning pass of every gseg read: which segment
  * files a batch scan ([[SegScan]]), a stream batch
  * ([[SegGenMicroBatchStream]]) or a DML candidate set
  * ([[SegGroupScanBuilder]]) never turns into a task. One value holds
  * one planning request's inputs; [[run]] sends the files through the
  * ordered [[SegPrune.Stages]], each seeing what the one before kept
  * and running only when its inputs exist. A pass reads each header
  * at most once.
  *
  * Counters, added only by [[SegPrune.Result.publish]]:
  *  - `gseg_files_total`: files a batch scan planned over;
  *    `gseg_files_skipped`: every one of them that never became a task,
  *    whatever stage skipped it. Per-stage subsets of it:
  *    `gseg_bloom_files_skipped` (added when > 0),
  *    `gseg_limit_files_skipped` and `gseg_topn_files_skipped` (added,
  *    even as 0, whenever their stage ran).
  *  - `gseg_key_groups`: a key-grouped scan's groups;
  *    `gseg_bucket_groups_pruned`: those the bucket stage emptied.
  *  - `gseg_stream_gen_files` / `_skipped`: a stream batch's files and
  *    the skipped ones; `gseg_rlo_files_total` / `gseg_rlo_candidates`:
  *    a row-level operation's files and the KEPT ones. */
private[sources] final case class SegPrune(
    read: String => SegHeader,
    filters: Seq[Filter],
    masked: String => Long = _ => 0L, // rows the file's vector deletes
    groups: Option[SegPrune.Groups] = None,
    limit: Option[Int] = None,
    topN: Option[SegSource.TopNPush] = None) {
  val header: String => SegHeader = SegPrune.memo(read)

  def run(files: Seq[String]): SegPrune.Result = {
    var left = files
    val skippedBy = Map.newBuilder[String, SegPrune.Stage]
    SegPrune.Stages.filter(_.runs(this)).foreach { s =>
      val kept = s.keep(this, left)
      val ks = kept.toSet
      left.foreach(f => if (!ks(f)) skippedBy += f -> s)
      left = kept
    }
    SegPrune.Result(this, files, left, skippedBy.result())
  }
}

private[sources] object SegPrune {
  /** A lookup that reads each file's header at most once. */
  def memo(read: String => SegHeader): String => SegHeader = {
    val m = new ConcurrentHashMap[String, SegHeader]()
    f => m.computeIfAbsent(f, k => read(k))
  }

  /** A key-grouped scan's layout: its keys, and each group's files. */
  final case class Groups(keys: Seq[SegSource.ClusterKey],
      of: Seq[(Seq[Any], Seq[String])])

  /** `byRows`: a skipped file holds no row matching the filters (else:
    * the kept files already hold the result). */
  sealed abstract class Stage(val byRows: Boolean) {
    def runs(p: SegPrune): Boolean
    def keep(p: SegPrune, files: Seq[String]): Seq[String]
  }

  /** Every row of a `bucket(n, col)` group hashes to the group's id,
    * so a point predicate on `col` can match only in the value's own
    * bucket: the files of every other group go. The scan keeps the
    * emptied groups (the reported partition COUNT holds). The
    * bucket-layout dual of zone-map identity pruning. */
  case object Bucket extends Stage(byRows = true) {
    def runs(p: SegPrune): Boolean = p.filters.nonEmpty &&
      p.groups.exists(_.keys.exists(_.buckets.isDefined))
    def keep(p: SegPrune, files: Seq[String]): Seq[String] = {
      val g = p.groups.get
      val gone = g.of.filterNot { case (k, _) =>
        g.keys.zip(k).forall { case (ck, id) =>
          ck.buckets.forall(n => p.filters.forall(bucketGroupMayMatch(
            _, ck.col, n, id.asInstanceOf[java.lang.Integer].intValue)))
        }
      }.flatMap(_._2).toSet
      files.filterNot(gone)
    }
    private def bucketGroupMayMatch(f: Filter, col: String,
        n: Int, id: Int): Boolean = f match {
      case EqualTo(a, v) if a == col => v != null &&
        SegSource.hashableValue(v).forall(SegSource.bucketOf(_, n) == id)
      case In(a, vs) if a == col => vs.exists(v => v != null &&
        SegSource.hashableValue(v).forall(SegSource.bucketOf(_, n) == id))
      case And(l, r) =>
        bucketGroupMayMatch(l, col, n, id) && bucketGroupMayMatch(r, col, n, id)
      case Or(l, r) =>
        bucketGroupMayMatch(l, col, n, id) || bucketGroupMayMatch(r, col, n, id)
      case _ => true
    }
  }

  /** Header per-column [min, max] and null counts vs the filters.
    * Conservative: unknown shapes and stat-less columns keep the file. */
  case object ZoneMap extends Stage(byRows = true) {
    def runs(p: SegPrune): Boolean = p.filters.nonEmpty
    def keep(p: SegPrune, files: Seq[String]): Seq[String] =
      files.filter(f => p.filters.forall(mayMatch(p.header(f), _)))
    private def mayMatch(h: SegHeader, f: Filter): Boolean = {
      val byName = h.cols.map(c => c.name -> c).toMap
      def range(attr: String): Option[(java.math.BigDecimal, java.math.BigDecimal)] =
        for {
          c <- byName.get(attr)
          mn <- c.minVal.flatMap(bd)
          mx <- c.maxVal.flatMap(bd)
        } yield (mn, mx)
      // string zone maps (v3, ASCII-exact — see the Version scaladoc:
      // byte, UTF-16 and UTF8String orders provably agree under the
      // emission precondition, for ANY filter value)
      def sRange(attr: String): Option[(String, String)] =
        // tag 3 only: tag 11 reuses the string-stat SLOTS for unscaled
        // decimal strings, which must never serve a STRING comparison
        byName.get(attr).filter(_.tag == 3).flatMap(c =>
          for { mn <- c.minStr; mx <- c.maxStr } yield (mn, mx))
      // the value's order against [min, max]: string stats for a String
      // value, exact decimals otherwise; None when the stats cannot judge
      def vsRange(a: String, v: Any): Option[(Int, Int)] = v match {
        case x: String => sRange(a).map { case (mn, mx) =>
          (x.compareTo(mn), x.compareTo(mx)) }
        case _ => for ((mn, mx) <- range(a); x <- bd(v))
          yield (x.compareTo(mn), x.compareTo(mx))
      }
      def inRange(a: String, v: Any): Boolean =
        vsRange(a, v).forall { case (lo, hi) => lo >= 0 && hi <= 0 }
      f match {
        case EqualTo(a, v) => inRange(a, v)
        case GreaterThan(a, v) => vsRange(a, v).forall(_._2 < 0)
        case GreaterThanOrEqual(a, v) => vsRange(a, v).forall(_._2 <= 0)
        case LessThan(a, v) => vsRange(a, v).forall(_._1 > 0)
        case LessThanOrEqual(a, v) => vsRange(a, v).forall(_._1 >= 0)
        // prefix pruning: some s with s.startsWith(v) can live in
        // [mn, mx] iff mx >= v AND mn's |v|-prefix <= v (mn < inc(v)
        // without computing the increment)
        case StringStartsWith(a, v) if v != null =>
          sRange(a).forall { case (mn, mx) =>
            mx.compareTo(v) >= 0 &&
              mn.substring(0, math.min(mn.length, v.length))
                .compareTo(v) <= 0
          }
        case IsNull(a) => byName.get(a).forall(_.nNulls > 0)
        // a null in the IN-list matches nothing; the file survives if ANY
        // value could sit inside its range (or the stats can't judge it)
        case In(a, vs) => (range(a).isEmpty && sRange(a).isEmpty) ||
          vs.exists(v => v != null && inRange(a, v))
        case And(l, r) => mayMatch(h, l) && mayMatch(h, r)
        case Or(l, r) => mayMatch(h, l) || mayMatch(h, r)
        case _ => true
      }
    }
  }

  /** v5 blooms: point lookups prune files zone maps cannot (unsorted
    * keys have overlapping ranges everywhere). Lazy: filter bytes are
    * read only when the column carries a bloom AND the predicate is
    * =/IN — one seek + one bit-array read per (file, column). An =/IN
    * whose non-null value set is EMPTY matches no row and kills the
    * file outright (the zone maps' verdict too). */
  case object Bloom extends Stage(byRows = true) {
    def runs(p: SegPrune): Boolean = p.filters.nonEmpty
    def keep(p: SegPrune, files: Seq[String]): Seq[String] =
      files.filter(f => p.filters.forall(bloomKeep(f, p.header(f), _)))
    private def bloomKeep(file: String, h: SegHeader,
        f: Filter): Boolean = f match {
      case EqualTo(a, v) => bloomContains(file, h, a, Seq(v))
      case In(a, vs) => bloomContains(file, h, a, vs.toSeq)
      case And(l, r) => bloomKeep(file, h, l) && bloomKeep(file, h, r)
      case Or(l, r) => bloomKeep(file, h, l) || bloomKeep(file, h, r)
      case _ => true
    }

    private def bloomContains(file: String, h: SegHeader,
        attr: String, values: Seq[Any]): Boolean = {
      val ci = h.cols.indexWhere(_.name == attr)
      if (ci < 0) return true
      val bl = h.cols(ci).bloom.getOrElse(return true)
      if (bl._2 != SegSource.BloomK) return true // foreign hash count: keep
      val nonNull = values.filter(_ != null)
      if (nonNull.isEmpty) return false // = NULL / IN () matches nothing
      val hashes = nonNull.map(SegSource.bloomHashOf)
      if (hashes.exists(_.isEmpty)) return true // unjudgeable value
      val words = readBloomWords(file, h, ci)
      hashes.flatten.exists(SegSource.bloomTest(words, _))
    }

    /** The blooms close the file, in column order, so column `ci`'s
      * starts at fileLen − Σbloom + Σbloom(cols before ci), the
      * arithmetic SegPartitionReader also relies on: one seek, and the
      * header is not decoded again. */
    private def readBloomWords(file: String, h: SegHeader,
        ci: Int): Array[Long] = {
      val sizes = h.cols.map(_.bloom.map(_._1.toLong).getOrElse(0L))
      val in = new java.io.RandomAccessFile(file, "r")
      try {
        val at = in.length() - sizes.sum + sizes.take(ci).sum
        if (at < 0) throw new EOFException(s"gseg: bad bloom seek in $file")
        val bytes = new Array[Byte](sizes(ci).toInt)
        in.seek(at)
        in.readFully(bytes)
        val words = new Array[Long](bytes.length / 8)
        java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
        words
      } finally in.close()
    }
  }

  /** Takes files from the front until header row counts cover k. Plain
    * layouts with no filters only: filtered survivor counts are
    * unknowable from headers. Counts are net of deletion vectors — a
    * count that included masked rows would cover k with files that
    * cannot deliver. */
  case object Limit extends Stage(byRows = false) {
    def runs(p: SegPrune): Boolean = p.filters.isEmpty &&
      p.groups.isEmpty && p.limit.isDefined && p.topN.isEmpty
    def keep(p: SegPrune, files: Seq[String]): Seq[String] = {
      var need = p.limit.get.toLong
      files.takeWhile { f =>
        val take = need > 0
        if (take) need -= p.header(f).nRows.toLong - p.masked(f)
        take
      }
    }
  }

  /** Keeps only files that can hold a top-k row: order files by min
    * (DESC; by max for ASC) and accumulate non-null counts to k. Every
    * one of those rows is ≥ its file's min, so the kth-best value is ≥
    * the boundary τ; drop files whose max < τ (min > τ for ASC). Sound
    * because header stats are exact. Declined when nulls could lead the
    * ordering (NULLS FIRST with nulls present) or when non-null counts
    * never reach k. Deletion vectors UNDERSTATE the non-null count
    * (every masked row assumed non-null): more files count toward k, τ
    * only loosens, and the stale-wide min/max are conservative as for
    * zone maps — sound, never tight. Same rule as [[Limit]] otherwise. */
  case object TopN extends Stage(byRows = false) {
    def runs(p: SegPrune): Boolean =
      p.filters.isEmpty && p.groups.isEmpty && p.topN.isDefined
    def keep(p: SegPrune, files: Seq[String]): Seq[String] = {
      val t = p.topN.get
      val stats = files.map { f =>
        val h = p.header(f)
        val cm = h.cols.find(_.name == t.col)
        val nulls = cm.map(_.nNulls).getOrElse(0L)
        (cm.flatMap(_.minVal).flatMap(bd),
          cm.flatMap(_.maxVal).flatMap(bd),
          math.max(0L, h.nRows.toLong - nulls - p.masked(f)), nulls)
      }
      if ((t.nullsFirst && stats.exists(_._4 > 0)) ||
          !stats.forall(s => s._1.isDefined && s._2.isDefined)) return files
      val ordered =
        if (t.desc) stats.sortBy(_._1.get).reverse else stats.sortBy(_._2.get)
      var acc = 0L
      var tau: java.math.BigDecimal = null
      val it = ordered.iterator
      while (it.hasNext && acc < t.k) {
        val s = it.next()
        acc += s._3
        tau = (if (t.desc) s._1 else s._2).get
      }
      if (acc < t.k) files // fewer than k sortable rows: keep all
      else files.zip(stats).collect {
        case (f, (mn, mx, _, _)) if (if (t.desc) mx.get.compareTo(tau) >= 0
            else mn.get.compareTo(tau) <= 0) => f
      }
    }
  }

  val Stages: Seq[Stage] = Seq(Bucket, ZoneMap, Bloom, Limit, TopN)

  /** Which planner a result's counters describe. */
  sealed trait Planner
  case object BatchScan extends Planner
  case object StreamBatch extends Planner
  case object DmlCandidates extends Planner

  /** `skippedBy`: every skipped file and the stage that skipped it. */
  final case class Result(pass: SegPrune, files: Seq[String],
      kept: Seq[String], skippedBy: Map[String, Stage]) {
    lazy val keptSet: Set[String] = kept.toSet
    def skipped(s: Stage): Long = skippedBy.valuesIterator.count(_ == s).toLong
    /** The files every stage with `byRows` kept. */
    def matching: Seq[String] =
      files.filter(f => skippedBy.get(f).forall(!_.byRows))

    def publish(planner: Planner): Unit = {
      def add(key: String, n: Long): Unit = graft.Counters.add(key, n)
      val (total, gone) = (files.size.toLong, (files.size - kept.size).toLong)
      planner match {
        case BatchScan =>
          pass.groups.foreach { g =>
            add("gseg_key_groups", g.of.size.toLong)
            val emptied = g.of.count(_._2.forall(skippedBy.get(_).contains(Bucket)))
            if (emptied > 0) add("gseg_bucket_groups_pruned", emptied.toLong)
          }
          add("gseg_files_total", total)
          add("gseg_files_skipped", gone)
          if (skipped(Bloom) > 0) add("gseg_bloom_files_skipped", skipped(Bloom))
          if (Limit.runs(pass)) add("gseg_limit_files_skipped", skipped(Limit))
          if (TopN.runs(pass)) add("gseg_topn_files_skipped", skipped(TopN))
        case StreamBatch =>
          add("gseg_stream_gen_files", total)
          add("gseg_stream_gen_skipped", gone)
        case DmlCandidates =>
          add("gseg_rlo_files_total", total)
          add("gseg_rlo_candidates", kept.size.toLong)
      }
    }
  }
}
