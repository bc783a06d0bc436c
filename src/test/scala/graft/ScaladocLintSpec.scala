package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a Scaladoc must sit directly above the definition it
  * documents. A closing doc line directly followed by an opening one means
  * the first doc attaches to nothing (Scaladoc keeps only the last comment
  * before a definition), which happens when a helper is inserted between a
  * def and its doc.
  */
class ScaladocLintSpec extends AnyFunSuite {

  test("no Scaladoc in src/main/scala is directly followed by another") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    val files = try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq finally stream.close()
    val orphans = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).toArray.map(_.toString.trim)
      lines.indices.dropRight(1).collect {
        case i if lines(i).endsWith("*/") && lines(i + 1).startsWith("/**") =>
          s"$p:${i + 1}"
      }
    }
    assert(orphans.isEmpty,
      s"${orphans.size} orphaned Scaladoc(s):\n${orphans.mkString("\n")}")
  }
}
