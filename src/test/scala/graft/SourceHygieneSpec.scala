package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules checked on every test run:
  *   - graft kernels enter plans only through the typed Column
  *     constructors of `graft.functions.GraftFunctions`; nothing in
  *     `src/main` installs functions in the session's shared registry;
  *   - no source file holds a raw control byte (0x00-0x1F other than tab,
  *     LF, CR): text tools treat such a file as binary and skip it. */
class SourceHygieneSpec extends AnyFunSuite {

  private def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
    finally walk.close()
  }

  test("src/main never registers session functions") {
    val banned = Seq("createOrReplaceTempFunction", "udf.register", "sessionState.functionRegistry")
    val hits = for {
      f <- files("src/main").filter(_.toString.endsWith(".scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no raw control bytes under src/") {
    def isControl(b: Byte): Boolean = b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r'
    val hits = files("src").filter(f => Files.readAllBytes(f).exists(isControl))
    assert(hits.isEmpty, s"raw control bytes (spell them as unicode escapes) in:\n${hits.mkString("\n")}")
  }
}
