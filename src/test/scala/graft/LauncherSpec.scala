package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared launcher code: every launcher's metrics line is one JSON
  * object with its established keys, the string escaper round-trips any
  * path, and the set of mains is pinned.
  */
class LauncherSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def keys(line: String): Seq[String] =
    mapper.readTree(line).fieldNames().asScala.toSeq

  test("each launcher's metrics line parses as JSON and keeps its keys") {
    val dedup = Launcher.jsonLine(DedupMain.report(DedupMain.Stats(150, 120, 30, skipped = false), 2.5))
    assert(dedup == """{"docs_in":150,"survivors":120,"dropped":30,"skipped":false,"wall_sec":2.50}""")

    assert(keys(dedup) == Seq("docs_in", "survivors", "dropped", "skipped", "wall_sec"))
    assert(keys(Launcher.jsonLine(ShardMain.report(ShardMain.Stats(150, 150, 8, skipped = true), 1.0))) ==
      Seq("docs_in", "docs_kept", "shards", "skipped", "wall_sec"))
    assert(keys(Launcher.jsonLine(CurateMain.report(CurateMain.Stats(200, 120, 90, 60, 700, skipped = false), 1.0))) ==
      Seq("docs_in", "after_cap", "after_mix", "after_budget", "tokens_kept", "skipped", "wall_sec"))
    val extract = mapper.readTree(Launcher.jsonLine(ExtractMain.report(
      ExtractMain.Stats(1000, 3, 4.0, Set(0, 1, 2), "/data/out"))))
    assert(extract.fieldNames().asScala.toSeq ==
      Seq("rows", "parse_errors", "wall_sec", "turns_per_sec", "completed_buckets", "out"))
    assert(extract.get("turns_per_sec").asDouble() == 250.0)
    assert(extract.get("completed_buckets").asInt() == 3)
  }

  test("an output path with a quote, a backslash and control characters round-trips") {
    val out = "/data/a \"b\" \\c\td\u0001e\nf"
    val line = Launcher.jsonLine(ExtractMain.report(ExtractMain.Stats(0, 0, 0.0, Set.empty, out)))
    assert(!line.exists(_ < ' '), line)
    assert(mapper.readTree(line).get("out").asText() == out)
  }

  test("the set of mains is pinned") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    // each `def main(` belongs to the nearest `object` declared above it
    val mains = files.flatMap { f: Path =>
      val src = Files.readString(f)
      "def main\\(".r.findAllMatchIn(src).map { m =>
        "object (\\w+)".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "CurateMain", "DedupMain", "ExtractMain",
      "JobProbe", "PlanDump", "ShardMain", "Verify"))
  }
}
