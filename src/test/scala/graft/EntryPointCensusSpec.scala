package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README's "Entry points" section lists every program and every
  * environment variable the programs read: the objects under
  * `src/main/scala` that define `def main` must equal the `graft.*`
  * names that section mentions, and the `sys.env` name literals must
  * equal the env names it mentions, so a new main or env var needs a
  * README line. */
class EntryPointCensusSpec extends AnyFunSuite {
  private def sources: Seq[(Path, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))

  private def section: String = {
    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("\n## Entry points\n")
    assert(start >= 0, "README has no Entry points section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  test("README Entry points lists exactly the objects that define main") {
    val pkg = "(?m)^package ([\\w.]+)".r
    val obj = "\\bobject (\\w+)".r
    val inCode = sources.flatMap { case (p, text) =>
      val prefix = pkg.findFirstMatchIn(text).fold("")(_.group(1) + ".")
      "\\bdef main\\(".r.findAllMatchIn(text).map { m =>
        val owner = obj.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
        assert(owner.nonEmpty, s"a main outside any object in $p")
        prefix + owner.get.group(1)
      }
    }.toSet
    val inReadme = "`(graft\\.[\\w.]+)`".r.findAllMatchIn(section).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode -- inReadme == Set.empty, "mains the README omits")
    assert(inReadme -- inCode == Set.empty, "README entry points with no main")
  }

  test("README Entry points lists exactly the env vars the code reads") {
    val read = "sys\\.env[.\\w]*\\(\"([A-Z][A-Z0-9_]*)\"".r
    val inCode = sources.flatMap { case (_, text) =>
      read.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val inReadme = "`([A-Z][A-Z0-9]*(?:_[A-Z0-9]+)+)(?:=[^`]*)?`".r
      .findAllMatchIn(section).map(_.group(1)).toSet
    assert(inCode.nonEmpty)
    assert(inCode -- inReadme == Set.empty, "env vars the README omits")
    assert(inReadme -- inCode == Set.empty, "README env vars the code never reads")
  }
}
