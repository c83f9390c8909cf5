package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over src/main: one session factory (graft.Harness) and
  * one checkpoint policy (graft.ops.Checkpoints). A second
  * `SparkSession.builder` or an operator that picks its own reliable
  * cut or checkpoint dir fails here, before it can drift. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to src/main/scala, file text) for every source. */
  private lazy val sources: Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
    finally walk.close()
  }

  private def offenders(needles: Seq[String])(allowed: (String, String) => Boolean): Seq[String] =
    sources.collect { case (f, text) if !allowed(f, text) =>
      needles.filter(text.contains).map(n => s"$f: $n")
    }.flatten.sorted

  test("SparkSession.builder appears only in graft.Harness") {
    assert(sources.nonEmpty, "spec must run from the repo root")
    val bad = offenders(Seq("SparkSession.builder"))((f, _) => f == "graft/Harness.scala")
    assert(bad.isEmpty, "sessions are built in graft.Harness.session only:\n" + bad.mkString("\n"))
  }

  test("reliable cuts and checkpoint dirs live only in ops/Checkpoints and the mains") {
    val bad = offenders(Seq(".checkpoint(", "setCheckpointDir", "Checkpoints.install(")) {
      (f, text) => f == "graft/ops/Checkpoints.scala" || text.contains("def main(")
    }
    assert(bad.isEmpty,
      "cut through graft.ops.Checkpoints.cut; install a dir only at session start:\n" +
        bad.mkString("\n"))
  }
}
