package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every local entry point starts its session from [[Session.local]];
  * only `Main`, whose master `spark-submit` supplies, builds its own.
  * A new copy of the builder config would let one entry point plan the
  * declared queries differently from the rest.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val allowed = Set("graft/Session.scala", "graft/Main.scala")

  test("SparkSession.builder appears only in Session.scala and Main.scala") {
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft")))
      .getOrElse(fail("src/main/scala not found above the working directory"))
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    def rel(p: Path): String = root.relativize(p).toString.replace('\\', '/')
    val offenders = files
      .filterNot(p => allowed(rel(p)))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(rel)
    assert(offenders.isEmpty,
      "build the session with graft.Session.local() instead: " +
        offenders.sorted.mkString(", "))
    // the scan saw the real tree, not an empty or wrong directory
    assert(files.exists(_.endsWith("graft/Session.scala")))
  }
}
