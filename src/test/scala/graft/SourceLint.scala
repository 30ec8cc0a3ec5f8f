package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line scanner over `src/main` for the source-lint specs: every
  * non-comment code line with its file name and the member `def` it
  * sits in (nested local defs belong to their member).
  */
object SourceLint {

  val mainRoot: Path = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  /** (file name, enclosing member def, code line) for every non-comment line. */
  lazy val codeLines: Seq[(String, String, String)] =
    Files.walk(mainRoot).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { (p: Path) =>
        var enclosing = "<top>"
        Files.readAllLines(p).asScala.toSeq.flatMap { line =>
          val t = line.trim
          MemberDefRe.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
          if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) None
          else Some((p.getFileName.toString, enclosing, line))
        }
      }

  private val MemberDefRe =
    """^ {0,2}(?:(?:private|protected|override|final|implicit)(?:\[\w+\])?\s+)*def\s+([A-Za-z0-9_]+)""".r

  /** Sites whose code line contains `pattern`, as "file:def" strings. */
  def sites(pattern: String): Set[String] =
    codeLines.collect { case (f, d, l) if l.contains(pattern) => s"$f:$d" }.toSet
}
