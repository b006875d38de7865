package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The main tree's entry points and listeners stay few: per-query
  * counters come from [[QueryMetrics]] (recorded by [[Bench]]), plans
  * from `graft.tools.DumpPlans` — not from one-off programs that each
  * install their own listener. Directory swaps go through
  * [[graft.hfc.StoreProtocol]], the one module that knows the
  * crash-safe swap protocol; iterative pins go through
  * [[graft.operators.Iterate]], the one module that knows the
  * statistics-truncation policy. */
class SourceLayoutSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private val ObjectDecl = """\bobject\s+(\w+)""".r

  test("src/main defines exactly one SparkListener: QueryMetrics") {
    val listener = """\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    val found = sources.flatMap { case (p, src) =>
      listener.findAllMatchIn(src).map(_ => p.getFileName.toString)
    }
    assert(found == Seq("QueryMetrics.scala"))
    val installs = sources.collect { case (p, src) if src.contains("addSparkListener") =>
      p.getFileName.toString
    }
    assert(installs == Seq("QueryMetrics.scala"), "listeners are installed by QueryMetrics only")
  }

  test("src/main swaps directories through StoreProtocol only") {
    val callers = sources.map(_._1.getFileName.toString).zip(sources.map(_._2))
      .collect { case (f, src) if src.contains("AtomicSwap.") && f != "AtomicSwap.scala" => f }
    assert(callers == Seq("StoreProtocol.scala"))
  }

  test("src/main truncates plan statistics in Iterate only") {
    val rebuild = """createDataFrame\(\s*(\w+)\.rdd\s*,\s*\1\.schema\s*\)""".r
    val found = sources.collect { case (p, src)
        if src.contains("checkpointTruncated") || rebuild.findFirstIn(src).nonEmpty =>
      p.getFileName.toString
    }
    assert(found == Seq("Iterate.scala"))
  }

  test("the only main entry points are Bench, Verify, GenRelational and DumpPlans") {
    val main = """\bdef\s+main\s*\(""".r
    val entries = sources.flatMap { case (_, src) =>
      main.findAllMatchIn(src).map { m =>
        ObjectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(entries.sorted == Seq("Bench", "DumpPlans", "GenRelational", "Verify"))
    assert(!sources.exists(_._2.contains("extends App")), "no App-style entry points")
  }
}
