package graft

import java.io.File

/** The main sources as code, for specs that pin where a call may appear:
  * comments and string literals are stripped, so only code counts. Specs
  * run from the project root. */
object SourceScan {

  val root = new File("src/main/scala")

  /** Every `.scala` file under [[root]]. */
  def files: Seq[File] = {
    require(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root)
  }

  /** `src` without block comments, line comments or string contents. */
  def strip(src: String): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(src, "")
      .linesIterator.map(l => "\"(\\\\.|[^\"\\\\])*\"".r.replaceAllIn(l, "\"\"")
        .replaceAll("//.*", ""))
      .mkString("\n")

  def code(f: File): String =
    strip(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
}
