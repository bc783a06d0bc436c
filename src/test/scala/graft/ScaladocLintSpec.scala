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
  *
  * No dead public surface: an object-level def or val outside `queries/`
  * and `tools/` that no code in src/main/scala or etlbench/src calls is
  * deleted with its specs, unless it is on `uncalledOnPurpose`. A data
  * source registered in `META-INF/services` is reached by its short name
  * in a format string, so the same holds for it: some `.format("<name>")`
  * in src/main/scala or etlbench/src must read it.
  */
class ScaladocLintSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    try stream.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq finally stream.close()
  }

  private lazy val files: Seq[java.nio.file.Path] = scalaFiles("src/main/scala")

  /** Public surface that no src/main or etlbench code calls, kept on
    * purpose, with the reason. `apply`, `unapply` (extractors such as
    * `NanosPredicatePushdown`), `main` and the kernel entry points that
    * `StaticInvoke` calls by name need no entry.
    */
  private val uncalledOnPurpose: Map[String, String] = Map(
    "jdbcAppend" -> "S10 parity: blind JDBC append, EIA930PipelineHourlyData.py:158-180",
    "peek" -> "S12 parity: table peek, databaseOperations.py:48-126",
    "truncateTable" -> "S12 parity: truncate, databaseOperations.py:48-126",
    "dropAllTables" -> "S12 parity: drop all tables, databaseOperations.py:87-110",
    "cachedByLastModified" -> "S6 parity: download cache, EIA930PipelineHourlyData.py:15-42",
    "referenceTablesFromUrl" -> "S5/S6 parity: reference tables, EIA930PipelineHourlyData.py:15-42",
    "lshBucket" -> "oracle of graft_lsh_buckets in PropertySpec",
    "selfSearchCandidateCount" -> "oracle of SimilaritySpec's autoCells o(N^2) guard",
    "hash32" -> "oracle: PropertySpec's reference shingle hash",
    "wordShingles" -> "oracle of graft_shingle_hashes in DedupSpec, PropertySpec",
    "wordShinglesAll" -> "oracle of graft_shingle_hashes_all in PropertySpec",
    "bpeSegmentCol" -> "oracle of graft_bpe_segment in TextOpsSpec",
    "markerScore" -> "oracle of graft_word_set_count in PropertySpec",
    "dropIvfPq" -> "index teardown: the inverse of AnnIndex.writeIvfPq")

  /** `text` with comments and string literals blanked (newlines kept, so
    * line numbers hold). The code inside an interpolated string (`$x`,
    * `${...}`) stays: it is a reference like any other.
    */
  private def codeOnly(text: String): String = {
    val out = new StringBuilder
    val n = text.length
    var i = 0
    def at(s: String): Boolean = text.startsWith(s, i)
    def identChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    // the index just past the `}` closing the `{` at `open`
    def closing(open: Int): Int = {
      var j = open + 1
      var depth = 1
      while (j < n && depth > 0) {
        text(j) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case '"' => j = text.indexOf('"', j + 1) max j
          case _ =>
        }
        j += 1
      }
      j
    }
    while (i < n) {
      if (at("//")) while (i < n && text(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 0
        while (i < n && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (text(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (text(i) == '"') {
        val interpolated = i > 0 && identChar(text(i - 1))
        val triple = at("\"\"\"")
        i += (if (triple) 3 else 1)
        var open = true
        while (i < n && open) {
          if (triple && at("\"\"\"")) {
            i += 3
            while (i < n && text(i) == '"') i += 1
            open = false
          } else if (!triple && text(i) == '"') { i += 1; open = false }
          else if (!triple && text(i) == '\\') i += 2
          else if (interpolated && at("$$")) i += 2
          else if (interpolated && at("${")) {
            val end = closing(i + 1)
            out ++= " " ++= codeOnly(text.substring(i + 2, end - 1)) ++= " "
            i = end
          } else if (interpolated && text(i) == '$' && i + 1 < n &&
                     identChar(text(i + 1))) {
            val start = i + 1
            i = start
            while (i < n && identChar(text(i))) i += 1
            out ++= " " ++= text.substring(start, i) ++= " "
          } else { if (text(i) == '\n') out += '\n'; i += 1 }
        }
        out += ' '
      } else if (text(i) == '\'' && i + 2 < n && text(i + 1) != '\\' &&
                 text(i + 2) == '\'') i += 3 // 'c'
      else if (text(i) == '\'' && i + 1 < n && text(i + 1) == '\\') {
        i = text.indexOf('\'', i + 3) + 1 // '\n', '\''
      } else { out += text(i); i += 1 }
    }
    out.toString
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

  test("every public def outside queries/ and tools/ has a caller in src/main or etlbench") {
    val code: Map[java.nio.file.Path, String] =
      (files ++ scalaFiles("etlbench/src")).map(p =>
        p -> codeOnly(java.nio.file.Files.readString(p))).toMap
    val refs: Map[String, Int] = code.values.toSeq
      .flatMap("[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(_)).groupBy(identity)
      .map { case (name, all) => name -> all.size }
    val topLevel = """^(?:(?:private\[\w+\]|final|sealed|abstract|case)\s+)*(object|class|trait)\b""".r
    val member = """^  (?:(?:private\[\w+\]|final|lazy|implicit)\s+)*(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val calledByName = graft.plans.GraftFunctions.all.map(_.name).toSet ++
      Set("apply", "unapply", "main")
    val uncalled = files
      .filterNot(p => Seq("/queries/", "/tools/").exists(p.toString.contains))
      .flatMap { p =>
        var inObject = false
        code(p).split("\n", -1).toSeq.zipWithIndex.flatMap { case (line, i) =>
          topLevel.findPrefixMatchOf(line) match {
            case Some(m) => inObject = m.group(1) == "object"; None
            case None if line.startsWith("}") => inObject = false; None
            case None if inObject => member.findPrefixMatchOf(line)
              .map(_.group(1)).filterNot(calledByName)
              .filter(refs.getOrElse(_, 0) == 1).map(name => (name, s"$p:${i + 1}"))
            case None => None
          }
        }
      }
    val dead = uncalled.filterNot { case (name, _) => uncalledOnPurpose.contains(name) }
    assert(dead.isEmpty,
      s"${dead.size} def(s) no src/main or etlbench code calls; delete them " +
        "with their specs, or add them to uncalledOnPurpose with a reason:\n" +
        dead.map { case (name, at) => s"$at: $name" }.mkString("\n"))
    val stale = uncalledOnPurpose.keySet -- uncalled.map(_._1)
    assert(stale.isEmpty,
      s"uncalledOnPurpose names a def that is gone or now has a caller: $stale")
  }

  test("every registered data source is read by a .format call in src/main or etlbench") {
    val services = java.nio.file.Paths.get(
      "src/main/resources/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister")
    val providers = java.nio.file.Files.readAllLines(services).toArray.map(_.toString.trim)
      .filterNot(l => l.isEmpty || l.startsWith("#")).toSeq
    assert(providers.nonEmpty, s"no provider listed in $services")
    // raw text: codeOnly blanks string literals, and the names live in them
    val raw = (files ++ scalaFiles("etlbench/src"))
      .map(p => p -> java.nio.file.Files.readString(p))
    val shortName = """shortName\(\)\s*:\s*String\s*=\s*"([^"]+)"""".r
    val unread = providers.flatMap { fqn =>
      val (pkg, cls) = fqn.splitAt(fqn.lastIndexOf('.'))
      val decl = s"""(?m)^package\\s+${java.util.regex.Pattern.quote(pkg)}\\s*$$""".r
      val name = raw.iterator.flatMap { case (_, text) =>
        val at = s"""\\bclass\\s+${cls.drop(1)}\\b""".r.findFirstMatchIn(text)
        if (decl.findFirstIn(text).isEmpty) None
        else at.flatMap(m => shortName.findFirstMatchIn(text.substring(m.end)))
          .map(_.group(1))
      }.nextOption()
      assert(name.nonEmpty, s"$fqn: no class with a shortName() under src/main/scala")
      val format = s"""\\.format\\(\\s*"${java.util.regex.Pattern.quote(name.get)}"\\s*\\)""".r
      if (raw.exists { case (_, text) => format.findFirstIn(text).nonEmpty }) None
      else Some(s"$fqn: ${name.get}")
    }
    assert(unread.isEmpty,
      s"registered in $services but no .format(...) in src/main/scala or etlbench/src " +
        "reads it; delete the source with its specs and its services line:\n" +
        unread.mkString("\n"))
  }
}
