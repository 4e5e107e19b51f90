package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's "Tuning confs" section is the one list of the session keys
  * the library reads: every `"spark.graft.` string literal under
  * src/main/scala must be documented there, and every key documented
  * there must still be read. */
class ConfDocSpec extends AnyFunSuite {

  private val keyPattern = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r

  private def sourceKeys: Set[String] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    files(new java.io.File("src/main/scala")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      ("\"" + keyPattern.regex).r.findAllIn(src).map(_.drop(1))
    }.toSet
  }

  private def tuningSection: String = {
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")), "UTF-8")
    val start = readme.indexOf("## Tuning confs")
    assert(start >= 0, "README has no \"## Tuning confs\" section")
    val end = readme.indexOf("\n## ", start + 1)
    readme.substring(start, if (end < 0) readme.length else end)
  }

  test("README Tuning confs documents exactly the spark.graft keys the code reads") {
    val inCode = sourceKeys
    assert(inCode.nonEmpty, "no spark.graft keys found under src/main/scala")
    val documented = keyPattern.findAllIn(tuningSection).toSet
    val undocumented = inCode -- documented
    assert(undocumented.isEmpty, s"read in src/main/scala but not in README: $undocumented")
    val stale = documented -- inCode
    assert(stale.isEmpty, s"in README but read nowhere in src/main/scala: $stale")
  }
}
