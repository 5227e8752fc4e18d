package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Public-surface audit: every member of a top-level object under
  * src/main/scala that is not plain `private` must be referenced from
  * a query, tool or benchmark path — src/main, graftbench/src or
  * tools/ — outside comments and outside its own definition. A member
  * that only specs reach is either deleted together with the spec
  * cases that exist for it, or listed in `keepers` with a one-line
  * reason. Overrides, case classes and JVM `main` entry points are not
  * audited.
  *
  * The scan is textual and name-based: a reference to any member of
  * the same name counts, which errs towards passing. Like
  * PlanAuditSpec's window whitelist, `keepers` must not rot: an entry
  * whose member gained a caller or no longer exists fails the spec.
  */
class SurfaceAuditSpec extends AnyFunSuite {

  /** Spec-only members kept on purpose, with the reason. */
  private val keepers: Map[String, String] = Map(
    "Caching.noCachedPlans" ->
      "Caching contract's post-condition; hides SessionShim's CacheManager access",
    "StreamingSink.upsertBatch" ->
      "write half of the sink's tombstone format (StreamingSpec exactly-once cases)",
    "StreamingSink.readCurrent" ->
      "read half of upsertBatch's tombstone format; hides the deleted-row filter",
    "Chunker.recursiveSplit" -> "README row: BioPaperSplitter chunking",
    "CrossScore.rerankTopK" -> "README row: cross-encoder rerank batching",
    "SkewAdvisor.recommend" -> "README row: LLM-pipeline extensions, SkewAdvisor",
    "Corpus.writeBucketed" -> "README row: corpus files → collection, bucketed writers",
    "Corpus.documentsSchema" ->
      "the declared documents schema the JSONL reader takes (README row: corpus files)",
    "Corpus.compactLog" -> "README row: add_chunks / delete_paper, log compaction",
    "Stats.closenessCentrality" ->
      "README row: co-expression network, the small-graph centrality branch",
    "Spectral.laplacianEigenvalues" ->
      "README row: co-expression network, operators.Spectral",
    "TextAnalysis.percentileGateApprox" ->
      "approx twin of percentileGate; deletion is an open ROADMAP item 6 candidate")

  private val Scanned = Seq("src/main/scala", "graftbench/src", "tools")

  private def filesUnder(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sorted
      finally s.close()
    }
  }

  /** Scala source with comments blanked (newlines kept, so line
    * numbers survive); string and char literals are kept verbatim.
    */
  private def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.startsWith("\"\"\"", i)) {
        var j = s.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && s(j) == '"') j += 1
        out ++= s.substring(i, j); i = j
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < n && s(j) != '"' && s(j) != '\n') {
          if (s(j) == '\\') j += 1
          j += 1
        }
        j = math.min(n, j + 1)
        out ++= s.substring(i, j); i = j
      } else if (s(i) == '\'' && i + 2 < n &&
          (s(i + 2) == '\'' || (s(i + 1) == '\\' && i + 3 < n && s(i + 3) == '\''))) {
        val j = if (s(i + 1) == '\\') i + 4 else i + 3
        out ++= s.substring(i, j); i = j
      } else if (s.startsWith("//", i)) {
        val j = s.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (s.startsWith("/*", i)) {
        var depth = 0; var j = i
        var done = false
        while (j < n && !done) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) {
            depth -= 1; j += 2
            if (depth == 0) done = true
          } else j += 1
        }
        out ++= s.substring(i, j).filter(_ == '\n'); i = j
      } else { out += s(i); i += 1 }
    }
    out.result()
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val TopObject = """^(?:private\[\w+\]\s+)?(?:case\s+)?object\s+(\w+).*""".r
  private val Member = ("""^  ((?:(?:final|lazy|implicit|override|private(?:\[\w+\])?|""" +
    """protected(?:\[\w+\])?|case|@\w+)\s+)*)(def|val|var|object|class|trait|type)\s+(\w+).*""").r

  private case class Audited(
      obj: String, name: String, file: Path, from: Int, until: Int) {
    def key = s"$obj.$name"
    def where = s"${file}:${from + 1}"
  }

  /** Members of top-level objects that are not plain `private`, with
    * the line span of their definition.
    */
  private def auditedMembers(file: Path, lines: IndexedSeq[String]): Seq[Audited] = {
    var obj: Option[String] = None
    val found = Seq.newBuilder[Audited]
    lines.indices.foreach { i =>
      lines(i) match {
        case TopObject(o) => obj = Some(o)
        case l if l.nonEmpty && !l.head.isWhitespace && !l.startsWith("}") => obj = None
        case Member(mods, kind, name) if obj.isDefined =>
          val m = mods.split("\\s+").filter(_.nonEmpty).toSet
          val skip = m("override") || m("private") || m("private[this]") ||
            (m("case") && (kind == "class" || kind == "object")) ||
            (kind == "def" && name == "main")
          if (!skip) {
            var j = i + 1
            def ends(l: String) = l.trim.nonEmpty &&
              l.takeWhile(_ == ' ').length <= 2 &&
              !l.trim.startsWith("}") && !l.trim.startsWith(")")
            while (j < lines.length && !ends(lines(j))) j += 1
            found += Audited(obj.get, name, file, i, j)
          }
        case _ =>
      }
    }
    found.result()
  }

  test("every public member of src/main is reached from a query, tool " +
    "or benchmark path, or kept with a reason") {
    val sources: Map[Path, IndexedSeq[String]] = Scanned.flatMap(filesUnder)
      .map { f =>
        val raw = new String(Files.readAllBytes(f), "UTF-8")
        val text = if (f.toString.endsWith(".scala")) stripComments(raw) else raw
        f -> text.split("\n", -1).toIndexedSeq
      }.toMap
    assert(sources.keys.exists(_.startsWith("src/main/scala")),
      s"no sources under src/main/scala (cwd ${Paths.get("").toAbsolutePath})")
    def count(lines: Seq[String], name: String) =
      lines.iterator.map(l => Ident.findAllIn(l).count(_ == name)).sum
    val totals = scala.collection.mutable.Map.empty[String, Int]
    def total(name: String) = totals.getOrElseUpdate(name,
      sources.valuesIterator.map(count(_, name)).sum)

    val audited = sources.toSeq.sortBy(_._1)
      .filter(_._1.startsWith("src/main/scala"))
      .flatMap { case (f, lines) => auditedMembers(f, lines) }
    val unreached = audited.filter { m =>
      val own = count(sources(m.file).slice(m.from, m.until), m.name)
      total(m.name) - own == 0
    }
    val unreachedKeys = unreached.map(_.key).toSet

    val orphans = unreached.filterNot(m => keepers.contains(m.key))
    if (orphans.nonEmpty)
      fail("public members that no query, tool or benchmark reaches — delete " +
        "them with their spec-only cases, or keep one with a reason: " +
        orphans.map(m => s"${m.key} (${m.where})").mkString(", "))

    val gone = keepers.keySet -- audited.map(_.key)
    val reached = keepers.keySet -- gone -- unreachedKeys
    if (gone.nonEmpty || reached.nonEmpty)
      fail(s"stale keepers — no longer defined: ${gone.toSeq.sorted.mkString(", ")}; " +
        s"now reached from a caller: ${reached.toSeq.sorted.mkString(", ")}")
  }

  test("the comment stripper keeps code and literals, drops comments") {
    val src = "val a = 1 // b\n/* c\n /* d */ e */ val f = \"// g\"\nval h = '\"' /** i */\n"
    val out = stripComments(src)
    assert(Ident.findAllIn(out).toSeq == Seq("val", "a", "val", "f", "g", "val", "h"))
    assert(out.count(_ == '\n') == src.count(_ == '\n'))
  }
}
