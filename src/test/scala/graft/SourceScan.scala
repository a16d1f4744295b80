package graft

import scala.util.matching.Regex

/** A line scan of `src/main/scala` for the specs that keep one way of
  * doing a job: every line matching `pattern` outside the one file
  * `owner` (a path under `src/main/scala`) is a hit, as
  * `path:line: text`. Runs from the repository root, as sbt does.
  */
object SourceScan {
  private val root = new java.io.File("src/main/scala")

  def hits(pattern: Regex, owner: String): Seq[String] = {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val all = files(root)
    val ownerPath = s"src/main/scala/$owner"
    def path(f: java.io.File) = f.getPath.replace('\\', '/')
    assert(all.exists(path(_) == ownerPath), s"$ownerPath is gone")
    for {
      f <- all if f.getName.endsWith(".scala") && path(f) != ownerPath
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }
}
