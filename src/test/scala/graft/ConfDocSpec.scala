package graft

import org.scalatest.funsuite.AnyFunSuite

/** README is the one list of what the code reads from outside: its
  * "Tuning confs" section of the `spark.graft.*` session keys, its "Dev
  * mains" section of the `SPARK_GRAFT_*` environment variables. Every
  * such string literal under src/main/scala must be documented in its
  * section, and every name documented there must still be read. */
class ConfDocSpec extends AnyFunSuite {

  private val keyPattern = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r
  private val envPattern = """SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]""".r

  /** Every `"<pattern>` string literal under src/main/scala. */
  private def sourceLiterals(pattern: scala.util.matching.Regex): Set[String] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(new java.io.File("src/main/scala")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      ("\"" + pattern.regex).r.findAllIn(src).map(_.drop(1))
    }.toSet
  }

  private def readmeSection(heading: String): String = {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val start = readme.indexOf(heading)
    assert(start >= 0, s"README has no \"$heading\" section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  private def sourceKeys: Set[String] = sourceLiterals(keyPattern)

  private def tuningSection: String = readmeSection("## Tuning confs")

  test("README Tuning confs documents exactly the spark.graft keys the code reads") {
    val inCode = sourceKeys
    assert(inCode.nonEmpty, "no spark.graft keys found under src/main/scala")
    val documented = keyPattern.findAllIn(tuningSection).toSet
    val undocumented = inCode -- documented
    assert(undocumented.isEmpty, s"read in src/main/scala but not in README: $undocumented")
    val stale = documented -- inCode
    assert(stale.isEmpty, s"in README but read nowhere in src/main/scala: $stale")
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
