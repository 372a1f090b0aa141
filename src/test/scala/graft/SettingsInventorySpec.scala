package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.*` setting the engine reads is documented: the names
  * quoted in `src/main/scala` equal the rows of README's settings table,
  * so a new setting cannot land without its default and its setter. The
  * tools package holds only the CLI and the plan explainer — measurement
  * belongs to `graft.Bench` and `perfbench/`, not to one-off mains.
  */
class SettingsInventorySpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[Path] = {
    val walk = Files.walk(Paths.get(root))
    try {
      val it = walk.iterator()
      var out = List.empty[Path]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p) && p.toString.endsWith(".scala")) out ::= p
      }
      out.sortBy(_.toString)
    } finally walk.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("the graft.* names in src/main equal README's settings table") {
    val sources = scalaFiles("src/main/scala")
    assert(sources.nonEmpty, "src/main not found from the test working dir")
    val literal = "\"(graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
    val inCode = sources.flatMap(p =>
      literal.findAllMatchIn(read(p)).map(_.group(1))).toSet
    val readme = read(Paths.get("README.md")).linesIterator
      .dropWhile(_.trim != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## ")).toList
    val row = "^\\|\\s*`(graft\\.[^`]+)`".r
    val inTable = readme.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(inTable.nonEmpty, "README has no settings table")
    assert((inCode -- inTable).isEmpty,
      s"read in src/main but missing from README: ${(inCode -- inTable).toSeq.sorted}")
    assert((inTable -- inCode).isEmpty,
      s"in README but read nowhere in src/main: ${(inTable -- inCode).toSeq.sorted}")
    assert(inCode.size == 12, inCode.toSeq.sorted)
  }

  test("src/main/scala/graft/tools holds only GraftCli and Explain") {
    val names = scalaFiles("src/main/scala/graft/tools").map(_.getFileName.toString)
    assert(names.toSet == Set("GraftCli.scala", "Explain.scala"), names)
  }
}
