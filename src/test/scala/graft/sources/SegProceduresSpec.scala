package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The gseg procedure table ([[SegProcedures]]): its names, its
  * identifier parsing, every procedure's signature, and that the
  * procedure SPI is implemented in one place only. */
class SegProceduresSpec extends SparkSpec {
  private val names = Seq("vacuum", "compact", "history", "rollback",
    "changes", "clone", "tag", "untag", "branch", "drop_branch",
    "fast_forward", "rebase", "set_clustering", "create_index",
    "drop_index")

  private def dml(tag: String): (SparkSession, String) = {
    val iso = spark.newSession()
    val wh = graft.Fs.fastTempDir(s"graft_procspec_$tag").toString
    iso.conf.set("spark.sql.catalog.tc", "graft.sources.SegCatalog")
    iso.conf.set("spark.sql.catalog.tc.warehouse", wh)
    iso.sql("CREATE TABLE tc.ns.t (k BIGINT) USING gseg")
    iso.sql("INSERT INTO tc.ns.t VALUES (1), (2)")
    (iso, wh)
  }

  /** The messages of `e` and of every cause below it. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  private def failsWith(iso: SparkSession, sql: String, msg: String): Unit = {
    val e = intercept[Exception](iso.sql(sql).collect())
    assert(messages(e).exists(_.contains(msg)),
      s"$sql: expected '$msg' in ${messages(e).mkString(" | ")}")
  }

  test("an unknown procedure's error lists all 15 procedures") {
    val (iso, _) = dml("unknown")
    val e = intercept[Exception](iso.sql("CALL tc.optimize('ns.t')"))
    val have = """gseg: no procedure 'optimize' \(have: ([^)]*)\)""".r
    val listed = messages(e).flatMap(have.findFirstMatchIn(_))
      .map(_.group(1).split(", ").toSeq).headOption
    assert(listed.map(_.toSet).contains(names.toSet),
      s"listed $listed in ${messages(e).mkString(" | ")}")
  }

  test("empty, inner-empty and trailing-dot table identifiers fail") {
    val (iso, wh) = dml("ident")
    for (t <- Seq("", "ns..t", "ns.t.");
         (proc, call) <- Seq(
           "vacuum" -> s"CALL tc.vacuum('$t')",
           "history" -> s"CALL tc.history('$t')",
           "tag" -> s"CALL tc.tag('$t', 'v1')"))
      failsWith(iso, call, s"gseg $proc: bad table identifier '$t'")
    // none of them reached ns.t
    assert(SegManifest.tags(s"$wh/ns/t").isEmpty)
    assert(iso.sql("CALL tc.history('ns.t')").count() > 0)
  }

  test("clone names the bad source or target identifier") {
    val (iso, wh) = dml("clone")
    failsWith(iso, "CALL tc.clone('ns..t', 'ns.c')",
      "gseg clone: bad source identifier 'ns..t'")
    failsWith(iso, "CALL tc.clone('ns.t.', 'ns.c')",
      "gseg clone: bad source identifier 'ns.t.'")
    failsWith(iso, "CALL tc.clone('ns.t', 'ns.c.')",
      "gseg clone: bad target identifier 'ns.c.'")
    assert(!Files.exists(Paths.get(wh, "ns", "c")))
    val r = iso.sql("CALL tc.clone('ns.t', 'ns.c')").head()
    assert(r.getString(0) == "ns.t" && r.getString(1) == "ns.c")
    assert(iso.table("tc.ns.c").count() == 2)
  }

  test("every procedure keeps its parameters and output schema") {
    val cat = new SegCatalog
    cat.initialize("tc", new CaseInsensitiveStringMap(Map("warehouse" ->
      graft.Fs.fastTempDir("graft_procspec_sig").toString).asJava))
    def signature(n: String): String = {
      val params = cat.loadProcedure(Identifier.of(Array.empty, n))
        .bind(new StructType()).parameters().map { p =>
          s"${p.name} ${p.dataType.sql}" +
            Option(p.defaultValue).map(d => s" = ${d.getSql}").getOrElse("")
        }
      s"$n(${params.mkString(", ")})"
    }
    assert(names.map(signature) == Seq(
      "vacuum(table STRING, keep_last INT = 1, " +
        "older_than_ms BIGINT = CAST(NULL AS BIGINT), dry_run BOOLEAN = false)",
      "compact(table STRING, target_segments INT = 1, " +
        "sort_by STRING = CAST(NULL AS STRING), " +
        "target_bytes BIGINT = CAST(NULL AS BIGINT), " +
        "cluster_by STRING = CAST(NULL AS STRING), " +
        "min_deleted_ratio DOUBLE = CAST(NULL AS DOUBLE), " +
        "only_mismatched BOOLEAN = false)",
      "history(table STRING)",
      "rollback(table STRING, generation BIGINT)",
      "changes(table STRING, from_gen BIGINT, to_gen BIGINT)",
      "clone(source STRING, target STRING, " +
        "generation BIGINT = CAST(NULL AS BIGINT), " +
        "tag STRING = CAST(NULL AS STRING))",
      "tag(table STRING, tag STRING, generation BIGINT = CAST(NULL AS BIGINT))",
      "untag(table STRING, tag STRING)",
      "branch(table STRING, branch STRING)",
      "drop_branch(table STRING, branch STRING)",
      "fast_forward(table STRING, branch STRING)",
      "rebase(table STRING, branch STRING)",
      "set_clustering(table STRING, cluster_by STRING)",
      "create_index(table STRING, column STRING, key STRING, " +
        "method STRING = 'ivf', cells INT = 16)",
      "drop_index(table STRING, column STRING)"))
    assert(SegProcedures.All.map(e =>
      e.name + e.out.map(f => s"${f.name} ${f.dataType.sql}" +
        (if (f.nullable) "" else " NOT NULL")).mkString("(", ", ", ")")) ==
      Seq(
        "vacuum(table STRING NOT NULL, reclaimed_files BIGINT NOT NULL)",
        "compact(table STRING NOT NULL, before_files BIGINT NOT NULL, " +
          "after_files BIGINT NOT NULL)",
        "history(generation BIGINT NOT NULL, committed_at_ms BIGINT NOT NULL, " +
          "n_segments BIGINT NOT NULL, is_current BOOLEAN NOT NULL, " +
          "n_deletion_vectors BIGINT NOT NULL, n_deleted_rows BIGINT NOT NULL, " +
          "tags STRING NOT NULL)",
        "rollback(table STRING NOT NULL, rolled_back_to BIGINT NOT NULL, " +
          "new_generation BIGINT NOT NULL)",
        "changes(file STRING NOT NULL, change STRING NOT NULL, " +
          "n_rows BIGINT NOT NULL)",
        "clone(source STRING NOT NULL, target STRING NOT NULL, " +
          "cloned_generation BIGINT NOT NULL, files BIGINT NOT NULL, " +
          "linked BIGINT NOT NULL, copied BIGINT NOT NULL)",
        "tag(table STRING NOT NULL, tag STRING NOT NULL, " +
          "generation BIGINT NOT NULL)",
        "untag(table STRING NOT NULL, tag STRING NOT NULL, " +
          "released_generation BIGINT NOT NULL)",
        "branch(table STRING NOT NULL, branch STRING NOT NULL, " +
          "forked_at BIGINT NOT NULL)",
        "drop_branch(table STRING NOT NULL, branch STRING NOT NULL, " +
          "head_was BIGINT NOT NULL)",
        "fast_forward(table STRING NOT NULL, branch STRING NOT NULL, " +
          "from_generation BIGINT NOT NULL, to_generation BIGINT NOT NULL)",
        "rebase(table STRING NOT NULL, branch STRING NOT NULL, " +
          "old_base BIGINT NOT NULL, new_base BIGINT NOT NULL, " +
          "new_head BIGINT NOT NULL)",
        "set_clustering(table STRING NOT NULL, " +
          "old_clustering STRING NOT NULL, new_clustering STRING NOT NULL)",
        "create_index(table STRING NOT NULL, method STRING NOT NULL, " +
          "index_table STRING NOT NULL, cells INT NOT NULL, " +
          "n_indexed BIGINT NOT NULL)",
        "drop_index(table STRING NOT NULL, column STRING NOT NULL, " +
          "method_was STRING NOT NULL)"))
  }

  test("src/main implements the procedure SPI only in SegProcedures") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val banned = Seq("UnboundProcedure", "BoundProcedure", "new LocalScan")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SegProcedures.scala")
        .flatMap { (p: Path) =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    assert(offenders.isEmpty,
      s"procedures go through SegProcedures: ${offenders.mkString(", ")}")
  }
}
