package graft.testkit

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source-scan guards over the library's own code (`src/main/scala`). */
object SourceScan {
  val sourceRoot: Path = Paths.get("src", "main", "scala")

  /** `(file:line, code)` for every non-comment source line matching `pattern`. */
  def codeLines(pattern: scala.util.matching.Regex): Seq[(String, String)] = {
    require(Files.isDirectory(sourceRoot), s"no source root at $sourceRoot")
    val files = Files.walk(sourceRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.sorted.flatMap { f: Path =>
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/") &&
            pattern.findFirstIn(line.split("//", 2)(0)).isDefined =>
          (s"$f:${i + 1}", line.trim)
      }
    }
  }
}
