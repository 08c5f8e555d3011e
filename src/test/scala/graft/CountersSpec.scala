package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The counter registry loses no add to a concurrent drain, and only
  * its diagnostic readers read it. */
class CountersSpec extends AnyFunSuite {
  test("drain loses no add that races it") {
    val keys = (0 until 4).map(i => s"counters_spec_$i")
    val perThread = 20000
    @volatile var adding = true
    val adders = keys.map(k => new Thread(() => {
      (1 to perThread).foreach(_ => Counters.add(k, 1L))
    }))
    var drained = Map.empty[String, Long].withDefaultValue(0L)
    val drainer = new Thread(() => {
      while (adding) Counters.drain().foreach { case (k, v) =>
        if (keys.contains(k)) drained = drained.updated(k, drained(k) + v)
      }
    })
    drainer.start()
    adders.foreach(_.start())
    adders.foreach(_.join())
    adding = false
    drainer.join()
    keys.foreach(k => assert(drained(k) + Counters.peek(k) == perThread, k))
  }

  test("src/main reads the registry only in Counters and Bench, and no " +
      "src/main file is in Spark's packages") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val reads = Seq("peek(", "drain(", "clear(", "snapshot(").map("Counters." + _)
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap { (p: Path) =>
          val name = p.getFileName.toString
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if (name != "Counters.scala" && name != "Bench.scala" &&
                reads.exists(line.contains)) ||
                line.startsWith("package org.apache.spark") => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    assert(offenders.isEmpty,
      s"gates read their evidence from their own plan: ${offenders.mkString(", ")}")
  }
}
