package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Query and operator code must not change the session it runs on:
  * lifecycle writes and streaming batches compile concurrently on one
  * shared session, so a conf flip, a function (re)registration or a
  * planner-strategy append made while building one DataFrame leaks
  * into every other. Registration into a session belongs to
  * `GraftExtensions`; `Bridge` holds the
  * Spark-internal helpers (a private session clone's own conf). */
class SessionMutationGuardSpec extends AnyFunSuite {

  private val Patterns = Seq("udf.register(", "conf.set(", ".unset(", "functionRegistry",
    "extraStrategies")
  private val Allowed = Set("GraftExtensions.scala", "Bridge.scala")

  test("no session conf or function-registry writes outside GraftExtensions and Bridge") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not a directory")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p <- sources if !Allowed(p.getFileName.toString)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      pat <- Patterns if line.contains(pat)
    } yield s"$p:${i + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("session mutations in query code:\n", "\n", ""))
  }
}
