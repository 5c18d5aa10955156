package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library behaviour is set through parameters, not through the process
  * environment: main code may read an environment variable or a system
  * property only in the benchmark harness (`Bench*.scala`) or for one of
  * the keys below. */
class EnvReadsSpec extends AnyFunSuite {

  /** Deployment settings: the host's scratch directories and core count. */
  private val allowedKeys = Set("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS")

  private def isHarness(f: Path) = f.getFileName.toString.matches("Bench.*\\.scala")

  private val read = """sys\.(?:env|props)|System\.get(?:env|Property)""".r
  private val keyedRead =
    """(?:sys\.(?:env|props)(?:\s*\.\s*\w+)?|System\.get(?:env|Property))\s*\(\s*"([^"]*)"""".r

  test("main code reads no environment variable or system property outside the allowed keys") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found: run from the project root")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(files.nonEmpty)
    val offending = for {
      f <- files if !isHarness(f)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- read.findAllMatchIn(line)
      key = keyedRead.findPrefixMatchOf(line.substring(m.start)).map(_.group(1)).getOrElse("<non-literal key>")
      if !allowedKeys(key)
    } yield s"$f:${i + 1}: $key"
    if (offending.nonEmpty) fail(offending.mkString("reads outside the allowed keys:\n", "\n", ""))
  }
}
