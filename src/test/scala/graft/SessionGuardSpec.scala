package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every local entry point starts its session from [[Session.local]];
  * only `Main`, whose master `spark-submit` supplies, builds its own.
  * A new copy of the builder config would let one entry point plan the
  * declared queries differently from the rest. Likewise every listener in
  * the main sources is [[Profile]], so per-query counters have one source,
  * and every barrier is `Barriers.materialize`, so one strategy conf
  * covers them all.
  */
class SessionGuardSpec extends AnyFunSuite {

  private val allowed = Set("graft/Session.scala", "graft/Main.scala")

  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(p => Files.isDirectory(p.resolve("graft")))
      .getOrElse(fail("src/main/scala not found above the working directory"))

  private lazy val files: List[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def rel(p: Path): String = root.relativize(p).toString.replace('\\', '/')

  /** Main sources outside `allowed` whose text contains any of `calls`. */
  private def offenders(allowed: Set[String], calls: Seq[String]): List[String] =
    files.filterNot(p => allowed(rel(p)))
      .filter { p => val src = Files.readString(p); calls.exists(src.contains) }
      .map(rel).sorted

  test("SparkSession.builder appears only in Session.scala and Main.scala") {
    val bad = offenders(allowed, Seq("SparkSession.builder"))
    assert(bad.isEmpty,
      "build the session with graft.Session.local() instead: " +
        bad.mkString(", "))
    // the scan saw the real tree, not an empty or wrong directory
    assert(files.exists(_.endsWith("graft/Session.scala")))
  }

  test("listeners are registered only in Profile.scala") {
    val bad = offenders(Set("graft/Profile.scala"),
      Seq("addSparkListener", "streams.addListener", "listenerManager.register"))
    assert(bad.isEmpty,
      "profile through graft.Profile instead of a listener of your own: " +
        bad.mkString(", "))
    assert(files.exists(_.endsWith("graft/Profile.scala")))
  }

  test("frames are pinned or cached only in Barriers.scala") {
    val bad = offenders(Set("graft/operators/Barriers.scala"),
      Seq(".localCheckpoint(", ".checkpoint(", ".persist(", ".cache()"))
    assert(bad.isEmpty,
      "pin through graft.operators.Barriers.materialize instead, so " +
        "graft.barrier.strategy covers the frame: " + bad.mkString(", "))
    assert(files.exists(_.endsWith("graft/operators/Barriers.scala")))
  }
}
