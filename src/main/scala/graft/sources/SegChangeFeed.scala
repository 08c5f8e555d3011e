package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** GENERATION-DIFF CHANGEFEED over a gseg table's retained time-travel
  * snapshots — the incremental-pipeline feed (Delta CDF /
  * `table_changes`, Iceberg incremental reads) that turns copy-on-write
  * history from a rollback tool into something a 100 TB consumer can
  * subscribe to: "give me exactly what changed between generation A
  * and generation B" without rescanning the table.
  *
  * Why it scales — the two-level bound:
  *  1. FILE level (metadata only): two retained snapshot manifests
  *     diff into `removed` (in A, not in B) and `added` (in B, not in
  *     A) segment-name sets. Copy-on-write shares every untouched
  *     file between generations, so both sets are bounded by the
  *     files the intervening commits actually rewrote — a DML that
  *     touched 2 of 80 000 files yields a 4-file diff, and the
  *     common 79 998 are never opened.
  *  2. ROW level (distributed): a replaced file's rows are NOT all
  *     changes — the rewrite carries its kept rows verbatim. The two
  *     pinned reads (exactly the removed / added file sets, served
  *     through the ordinary scan with pruning and pushdown) FULL
  *     OUTER JOIN on the table key; a key present only on the added
  *     side is an `insert`, only on the removed side a `delete`, on
  *     both sides with a differing payload an `update_preimage` /
  *     `update_postimage` pair, and on both sides unchanged (the
  *     rewrite artifact, or a compaction that moved every row) emits
  *     NOTHING. The join's inputs are changed-file rows only — never
  *     the table — so its cost tracks the churn, not the data.
  *
  * Semantics are ENDPOINT diffs (like Delta's `table_changes` between
  * two versions, collapsed): a row inserted and then deleted between
  * the endpoints emits nothing; an updated-twice row emits one
  * pre/post pair from the endpoint states. The per-commit replay view
  * is the composition of single-step diffs (gen, gen+1).
  *
  * Requirements stated honestly: `keyCols` must identify a row within
  * the table (the primary-key contract every keyed CDF has); both
  * generations must still be retained (vacuum bounds the window —
  * resolution fails loudly past it, exactly like VERSION AS OF).
  */
object SegChangeFeed {
  /** The `_change_type` column (Delta CDF's column name and values,
    * a de-facto public convention consumers already speak). */
  val ChangeTypeCol = "_change_type"

  /** Row-level changes between two retained generations of the gseg
    * table at `dir`. Output schema: the table columns plus
    * [[ChangeTypeCol]] (`insert` / `delete` / `update_preimage` /
    * `update_postimage`). Distributed end to end: two pinned scans
    * bounded by the CHANGED files, one full-outer join on the key. */
  def changes(spark: SparkSession, dir: String, schema: StructType,
      fromGen: Long, toGen: Long, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "gseg changefeed: keyCols must be non-empty")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"gseg changefeed: key column '$k' is not in the schema"))
    val from = SegManifest.retained(dir, fromGen, "changefeed")
    val to = SegManifest.retained(dir, toGen, "changefeed")
    val fromSet = from.names.toSet
    val toSet = to.names.toSet
    // a carried segment whose deletion vector CHANGED between the
    // endpoints is part of the diff exactly like a rewrite: it reads
    // on BOTH sides, each under its own generation's vector — the
    // row-level join then classifies the masked-out rows as deletes
    // (vector grew) or resurrections (rollback restored a smaller
    // map), and the still-shared rows as carried
    def dvChanged(n: String): Boolean =
      from.dvs.get(n) != to.dvs.get(n)
    val removed = ((fromSet -- toSet) ++
      (fromSet & toSet).filter(dvChanged)).toSeq.sorted
    val added = ((toSet -- fromSet) ++
      (fromSet & toSet).filter(dvChanged)).toSeq.sorted

    def pinnedRead(names: Seq[String],
        dvs: Map[String, String]): DataFrame =
      spark.read.format("gseg").schema(schema)
        .option(SegSource.PinnedFilesOption, names.mkString(","))
        // each side pins ITS generation's vector map (possibly empty
        // — the empty string pins "no vectors", never the live map)
        .option(SegSource.PinnedDvsOption,
          names.flatMap(n => dvs.get(n).map(d => s"$n=$d")).mkString(","))
        .load(dir)

    val nonKey = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    def sideCols(side: String): Seq[Column] =
      nonKey.map(c => col(c).as(s"__${side}_$c")) :+
        lit(true).as(s"__${side}_present")
    val pre = pinnedRead(removed, from.dvs)
      .select(keyCols.map(col) ++ sideCols("pre"): _*)
    val post = pinnedRead(added, to.dvs)
      .select(keyCols.map(col) ++ sideCols("post"): _*)
    val j = pre.join(post, keyCols, "full_outer")

    def rowStruct(side: String, tag: String): Column =
      struct(keyCols.map(col) ++
        nonKey.map(c => col(s"__${side}_$c").as(c)) :+
        lit(tag).as(ChangeTypeCol): _*)
    def payload(side: String): Column =
      // an all-key table has no payload: matched keys are never
      // updates, only the presence classes apply
      if (nonKey.isEmpty) lit(0)
      else struct(nonKey.map(c => col(s"__${side}_$c")): _*)
    // one pass over the join: each row yields 0, 1 or 2 change rows;
    // the unmatched-payload case has no otherwise() branch, so the
    // null array explodes to nothing (the unchanged-rewritten row)
    val changeRows =
      when(col("__pre_present").isNull, array(rowStruct("post", "insert")))
        .when(col("__post_present").isNull, array(rowStruct("pre", "delete")))
        .when(!(payload("pre") <=> payload("post")),
          array(rowStruct("pre", "update_preimage"),
            rowStruct("post", "update_postimage")))
    j.select(explode(changeRows).as("__c")).select(col("__c.*"))
  }
}
