package graft

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` keeps only what runs: every `def`, `object`, `class` and
  * `trait` there (overrides aside) is named somewhere else in `src/main`
  * code, is a main's object, or is on the allowlist below. Comments and
  * string text do not count as uses — a `[[name]]` doc link reaches
  * nothing — but interpolated code does. A definition only a spec calls
  * belongs in `src/test`, next to that spec.
  */
class ReachSpec extends AnyFunSuite {

  /** `Owner.name` -> why it stays without a caller in `src/main`. */
  private val allowlist = Map(
    "CurrentState.currentView" -> "perfbench's ledger_ingest builds its current-state layer with it",
    "MicroBatchIngest.runAvailableNow" -> "perfbench's ledger_ingest drains each batch with it",
    "SchemaRegistry.fromJson" -> "perfbench's ledger_ingest reads its table schemas with it",
    "SparkEntry.entry" -> "the engine's external entry point (README layout); its callers live outside the repo",
    "Warehouse.archivePartitions" -> "the reference's D5+ archive leg (COVERAGE); no gate runs it",
    "Maintenance.compact" -> "the reference's K5 small-file compaction (COVERAGE); no gate runs it",
    "Maintenance.compactClustered" -> "K5's clustered compaction (COVERAGE); no gate runs it",
    "VersionedTable.rollback" -> "the reference's K6 snapshot restore (COVERAGE); no gate runs it",
    "Sinks.writeBucketed" -> "the reference's bucketBy tables (SURVEY, COVERAGE); no gate runs it")

  private val defRe =
    """(?m)^([^\n]*?)\b(def|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val word = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** A definition: its kind, owner (innermost enclosing type, "" at top
    * level), name and file. */
  private case class Defn(kind: String, owner: String, name: String, file: String,
                          isOverride: Boolean, body: String)

  /** The index just past the block opened at `open` (a `{`). */
  private def blockEnd(code: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < code.length) {
      code(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return i + 1
        case _   =>
      }
      i += 1
    }
    code.length
  }

  private lazy val code: Seq[(String, String)] =
    SourceScan.sources.map { case (f, text) => (f.getPath, SourceScan.code(text)) }

  private lazy val defns: Seq[Defn] = code.flatMap { case (file, c) =>
    val found = defRe.findAllMatchIn(c).toSeq
    // a type's span: from its keyword to the end of its body block, when
    // the body opens before the next definition starts
    val spans = found.zipWithIndex.collect {
      case (m, i) if m.group(2) != "def" =>
        val next = if (i + 1 < found.size) found(i + 1).start else c.length
        val open = c.indexOf('{', m.end(3))
        val end = if (open >= 0 && open < next) blockEnd(c, open) else m.end(3)
        (m.group(3), m.start(2), end)
    }
    found.map { m =>
      val owner = spans.filter { case (_, s, e) => s < m.start(2) && m.start(2) < e }
        .sortBy { case (_, s, _) => -s }.headOption.map(_._1).getOrElse("")
      val body = spans.find(_._2 == m.start(2))
        .map { case (_, s, e) => c.substring(s, e) }.getOrElse("")
      Defn(m.group(2), owner, m.group(3), file, m.group(1).contains("override"), body)
    }
  }

  private lazy val uses: Map[String, Int] =
    code.flatMap { case (_, c) => word.findAllIn(c) }.groupBy(identity).view.mapValues(_.size).toMap

  /** Definitions named nowhere else in `src/main`, mains and overrides
    * aside: `Owner.name (file)`. */
  private def unreached(allowed: Set[String]): Seq[String] = {
    val roots = defns.filter(d => d.kind == "object" &&
      """\bdef\s+main\s*\(""".r.findFirstIn(d.body).isDefined).map(_.name).toSet
    // an object whose allowlisted member is reached from outside is reached too
    val allowedOwners = allowed.map(_.takeWhile(_ != '.'))
    defns.filter { d =>
      !d.isOverride && uses.getOrElse(d.name, 0) <= 1 &&
        !(d.name == "main" || roots(d.name) || allowedOwners(d.name) ||
          allowed(s"${d.owner}.${d.name}"))
    }.map(d => s"${d.owner}.${d.name} (${d.file})")
  }

  test("the scan drops comments and string text but keeps interpolated code") {
    val src = "val a = 1 // f1\n/* f2 /* nested */ f3 */ val b = '\"' + \"f4 \\\" f5\"\n" +
      "val c = s\"f6 ${g1(\"f7\")} $g2 f8\" + \"\"\"f9 \"quoted\" \"\"\"\n" +
      "/** [[f10]] */ def g3 = 0"
    val words = word.findAllIn(SourceScan.code(src)).toSet
    assert(words == Set("val", "a", "b", "c", "s", "g1", "g2", "def", "g3"), words)
  }

  test("every src/main definition is reached from src/main code or allowlisted") {
    val missing = unreached(allowlist.keySet)
    assert(missing.isEmpty, missing.mkString(
      "defined in src/main but named nowhere else in its code (call it, move it to " +
        "src/test beside its spec, delete it, or allowlist it with a reason):\n", "\n", ""))
  }

  test("each allowlist entry names a definition that only the allowlist keeps") {
    val bare = unreached(Set.empty).map(_.takeWhile(_ != ' ')).toSet
    val stale = allowlist.keySet.filterNot(bare)
    assert(stale.isEmpty, s"allowlisted but reached (or gone): $stale")
    assert(allowlist.size <= 10 && allowlist.values.forall(_.nonEmpty))
  }
}
