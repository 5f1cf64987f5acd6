package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README's "Configuration" section lists every `spark.graft.*` conf the
  * code reads: the set of conf-name literals under `src/main/scala` must
  * equal the set of names that section mentions. */
class ConfCensusSpec extends AnyFunSuite {
  private val name = "spark\\.graft\\.[A-Za-z.]*[A-Za-z]"

  test("README Configuration lists exactly the spark.graft.* confs the code reads") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val literal = ("\"(" + name + ")\"").r
    val inCode = sources.flatMap { p: Path =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("\n## Configuration\n")
    assert(start >= 0, "README has no Configuration section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val inReadme = ("`(" + name + ")`").r.findAllMatchIn(section).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode -- inReadme == Set.empty, "confs the code reads but README omits")
    assert(inReadme -- inCode == Set.empty, "confs README lists but the code never reads")
  }
}
