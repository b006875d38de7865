package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The main tree's entry points and listeners stay few: per-query
  * counters come from [[QueryMetrics]] (recorded by [[Bench]]), plans
  * from `graft.tools.DumpPlans` — not from one-off programs that each
  * install their own listener. Directory swaps go through
  * [[graft.hfc.StoreProtocol]], the one module that knows the
  * crash-safe swap protocol and stamps the append-store markers;
  * iterative pins go through [[graft.operators.Iterate]], the one
  * module that knows the statistics-truncation policy; hamming band
  * keys come from `Multimodal.hammingPairs`, the one pair funnel. */
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

  /** Files of src/main holding `pattern`, once per match. */
  private def matches(pattern: scala.util.matching.Regex): Seq[String] =
    sources.flatMap { case (p, src) =>
      pattern.findAllMatchIn(src).map(_ => p.getFileName.toString)
    }

  test("src/main writes the hamming band key and the probe flip expansion once") {
    val bandKey = """shiftright\([^;\n]*?\*\s*bandBits\s*\)\s*\.bitwiseAND""".r
    val flips = """bitwiseXOR\(\s*lit\(\s*1L\s*<<""".r
    assert(matches(bandKey) == Seq("Multimodal.scala"))
    assert(matches(flips) == Seq("Multimodal.scala"))
    val funnel = sources.collectFirst { case (p, src)
        if p.getFileName.toString == "Multimodal.scala" => src }.get
    val owner = funnel.indexOf("def bandKey(")
    val end = funnel.indexOf("def hashNearDup(")
    assert(owner >= 0 && end > owner, "bandKey, bitFlips and hammingPairs sit together")
    for (p <- Seq(bandKey, flips))
      assert(p.findAllMatchIn(funnel).forall(m => m.start > owner && m.start < end),
        s"$p appears outside the shared pair function")
  }

  test("src/main stamps append-store markers in StoreProtocol only") {
    assert(matches("""\bmarkApplied\(""".r).distinct == Seq("StoreProtocol.scala"))
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
