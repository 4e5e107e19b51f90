package graft

import org.scalatest.funsuite.AnyFunSuite

/** README is the one list of what the code reads from outside: its
  * "Tuning confs" section of the `spark.graft.*` session keys, which
  * must equal `GraftConf`'s keys, and its "Dev mains" section of the
  * `SPARK_GRAFT_*` environment variables, which must equal the string
  * literals of them under src/main/scala. A key is read through
  * `GraftConf` only, so no `"spark.graft.` literal may appear in any
  * other source file. */
class ConfDocSpec extends AnyFunSuite {

  private val keyPattern = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r
  private val envPattern = """SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r

  private def sources: Seq[java.io.File] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(new java.io.File("src/main/scala"))
  }

  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** Every `"<pattern>` string literal under src/main/scala. */
  private def sourceLiterals(pattern: scala.util.matching.Regex): Set[String] =
    sources.flatMap(f => ("\"" + pattern.regex).r.findAllIn(text(f)).map(_.drop(1))).toSet

  private def readmeSection(heading: String): String = {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val start = readme.indexOf(heading)
    assert(start >= 0, s"README has no \"$heading\" section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  test("README Tuning confs documents exactly the spark.graft keys the code reads") {
    val inCode = GraftConf.all.map(_.name).toSet
    val documented = keyPattern.findAllIn(readmeSection("## Tuning confs")).toSet
    val undocumented = inCode -- documented
    assert(undocumented.isEmpty, s"in GraftConf but not in README: $undocumented")
    val stale = documented -- inCode
    assert(stale.isEmpty, s"in README but not in GraftConf: $stale")
  }

  test("no spark.graft key literal outside GraftConf.scala") {
    val stray = sources.filterNot(_.getName == "GraftConf.scala")
      .filter(f => text(f).contains("\"spark.graft."))
      .map(_.getPath)
    assert(stray.isEmpty, s"spark.graft keys read outside GraftConf: $stray")
  }

  test("README Dev mains documents exactly the SPARK_GRAFT env vars the code reads") {
    val inCode = sourceLiterals(envPattern)
    assert(inCode.nonEmpty, "no SPARK_GRAFT env vars found under src/main/scala")
    val documented = envPattern.findAllIn(readmeSection("## Dev mains")).toSet
    val undocumented = inCode -- documented
    assert(undocumented.isEmpty, s"read in src/main/scala but not in README: $undocumented")
    val stale = documented -- inCode
    assert(stale.isEmpty, s"in README but read nowhere in src/main/scala: $stale")
  }
}
