package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over src/main/scala.
  *
  * A Scaladoc must sit directly above the definition it documents. A
  * closing doc line directly followed by an opening one means the first
  * doc attaches to nothing (Scaladoc keeps only the last comment before a
  * definition), which happens when a helper is inserted between a def and
  * its doc.
  *
  * The graft functions have one registration route, the extensions
  * `Sessions.configure` applies when a session is built. Registering into
  * a running session (the function registry, the experimental optimizer
  * list, a lookup of the thread's active session) or building a session
  * around `configure` would grow a second one.
  */
class ScaladocLintSpec extends AnyFunSuite {

  private lazy val files: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq finally stream.close()
  }

  test("no Scaladoc in src/main/scala is directly followed by another") {
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

  test("src/main/scala registers the graft functions only through Sessions.configure") {
    val forbidden = Seq("getActiveSession", "extraOptimizations", "registerFunction")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val found = files.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      forbidden.filter(text.contains).map(w => s"$p: $w") ++
        builder.findAllMatchIn(text)
          .filterNot(m => text.take(m.start).trim.endsWith("configure("))
          .map(m => s"$p:${text.take(m.start).count(_ == '\n') + 1}: " +
            "a SparkSession.builder outside Sessions.configure(...)")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
