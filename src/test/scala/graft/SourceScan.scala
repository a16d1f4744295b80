package graft

import scala.util.matching.Regex

/** Scans of `src/main/scala` for the specs that keep one way of doing a
  * job (`hits`) and that keep only reached code (`code`). Runs from the
  * repository root, as sbt does.
  */
object SourceScan {
  private val root = new java.io.File("src/main/scala")

  /** Every `.scala` file under `src/main/scala`, with its text. */
  def sources: Seq[(java.io.File, String)] = {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala")).sortBy(_.getPath).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (f, src.mkString) finally src.close()
    }
  }

  /** Every line matching `pattern` outside the one file `owner` (a path
    * under `src/main/scala`), as `path:line: text`. */
  def hits(pattern: Regex, owner: String): Seq[String] = {
    val all = sources
    val ownerPath = s"src/main/scala/$owner"
    def path(f: java.io.File) = f.getPath.replace('\\', '/')
    assert(all.exists(s => path(s._1) == ownerPath), s"$ownerPath is gone")
    for {
      (f, text) <- all if path(f) != ownerPath
      (line, i) <- text.split("\n", -1).toSeq.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  private val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'""".r
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** Scala source with comments removed and string-literal text blanked
    * to `""`; the code inside an interpolation (`${...}` or `$name`) is
    * kept, since it can hold the only use of a definition. */
  def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    // src(start) is an opening quote: the index past the literal, and the
    // interpolated code it holds
    def literal(start: Int): (Int, String) = {
      val triple = src.startsWith("\"\"\"", start)
      val interp = start > 0 && (src(start - 1).isLetterOrDigit || src(start - 1) == '_')
      val kept = new StringBuilder
      var i = start + (if (triple) 3 else 1)
      while (i < n) {
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (i < n && src(i) == '"') i += 1
          return (i, kept.toString)
        } else if (!triple && src(i) == '"') return (i + 1, kept.toString)
        else if (!triple && src(i) == '\\') i += 2
        else if (interp && src.startsWith("$$", i)) i += 2
        else if (interp && src.startsWith("${", i)) {
          var depth = 1
          var j = i + 2
          while (j < n && depth > 0) src(j) match {
            case '{' => depth += 1; j += 1
            case '}' => depth -= 1; j += 1
            case '"' => j = literal(j)._1
            case _   => j += 1
          }
          kept.append(' ').append(code(src.substring(i + 2, j - 1))).append(' ')
          i = j
        } else if (interp && src(i) == '$' && i + 1 < n &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          val name = ident.findPrefixOf(src.substring(i + 1)).get
          kept.append(' ').append(name).append(' ')
          i += 1 + name.length
        } else i += 1
      }
      (i, kept.toString)
    }
    var i = 0
    while (i < n) {
      lazy val char = charLit.findPrefixOf(src.substring(i, math.min(n, i + 8)))
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        i = if (e < 0) n else e
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append(' ')
        i = j
      } else if (src(i) == '\'' && char.isDefined) {
        out.append("' '")
        i += char.get.length
      } else if (src(i) == '"') {
        val (end, kept) = literal(i)
        out.append("\"\"").append(kept)
        i = end
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }
}
