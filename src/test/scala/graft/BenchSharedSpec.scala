package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The executor class path of the pinned local-cluster session. */
class BenchSharedSpec extends AnyFunSuite {

  test("graftClassPath names the classes directory or jar this JVM loaded the graft classes from") {
    val entry = "graft/BenchShared.class"
    val path = Paths.get(BenchShared.graftClassPath)
    if (Files.isDirectory(path)) assert(Files.isRegularFile(path.resolve(entry)), path)
    else {
      val jar = new java.util.jar.JarFile(path.toFile)
      try assert(jar.getEntry(entry) != null, path) finally jar.close()
    }
    assert(getClass.getClassLoader.getResource(entry).toString.contains(path.toUri.getPath))
  }
}
