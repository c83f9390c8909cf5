package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards over src/main: four mains (Amplify, Bench, Probe,
  * Verify), one session factory (graft.Harness), one checkpoint policy
  * (graft.ops.Checkpoints), one sink replay guard
  * (graft.sources.Sinks.unseen), one layout marker
  * (graft.ops.Artifacts), one running-sum rule
  * (graft.operators.Silver.rangedRunningSum) and one connected-components
  * operator (graft.operators.Dedup.connectedComponents) and one CEP
  * automaton (graft.functions.CepMachine, one CEP stream processor). A
  * fifth main, a second `SparkSession.builder`, an operator that picks
  * its own reliable cut or checkpoint dir, a hand-rolled pruned guard, a
  * hand-written `_layout`, a second range layout, a second CC variant
  * or a CEP mode flag fails here, before it can drift. */
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

  test("the mains are frozen at Amplify, Bench, Probe and Verify") {
    assert(sources.nonEmpty, "spec must run from the repo root")
    val mains = sources.collect { case (f, text) if text.contains("def main(") => f }.sorted
    assert(mains == Seq("graft/Amplify.scala", "graft/Bench.scala", "graft/Probe.scala",
        "graft/Verify.scala"),
      "measure a new shape with a graft.Probe subcommand, not a new main; mains now:\n" +
        mains.mkString("\n"))
  }

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

  test("one replay guard and one layout marker: pruned guard reads only in " +
      "sources/Sinks, _layout paths only in ops/Artifacts") {
    val guard = offenders(Seq("readPruned(", "1L << 53"))((f, _) => f == "graft/sources/Sinks.scala")
    assert(guard.isEmpty,
      "guard a store-authority sink with graft.sources.Sinks.unseen:\n" + guard.mkString("\n"))
    val marker = offenders(Seq("/_layout\""))((f, _) => f == "graft/ops/Artifacts.scala")
    assert(marker.isEmpty,
      "read and write _layout markers through graft.ops.Artifacts:\n" + marker.mkString("\n"))
  }

  test("one running-sum rule: repartitionByRange only in Silver.rangedRunningSum and " +
      "the z-order writer, no fixed 32-slice default") {
    val ranged = Seq("graft/operators/Silver.scala", "graft/sources/Sinks.scala")
    val bad = offenders(Seq("repartitionByRange("))((f, _) => ranged.contains(f))
    val uses = ranged.map(f => f -> sources.find(_._1 == f).fold(0)(
      _._2.split("repartitionByRange\\(", -1).length - 1))
    assert(bad.isEmpty && uses.forall(_._2 == 1),
      "size running sums with graft.operators.Silver.rangedRunningSum:\n" +
        (bad ++ uses.collect { case (f, n) if n != 1 => s"$f: $n uses" }).mkString("\n"))
    val fixed = offenders(Seq("partitions: Int = 32"))((_, _) => false)
    assert(fixed.isEmpty, "size slices from the input, not a fixed default:\n" + fixed.mkString("\n"))
  }

  test("one connected-components operator: Dedup.connectedComponents(pairs), no variants or knobs") {
    val defs = sources.collect { case (f, text) =>
      f -> (text.split("def connectedComponents", -1).length - 1) }.filter(_._2 > 0)
    assert(defs == Seq("graft/operators/Dedup.scala" -> 1),
      "one CC definition, in Dedup:\n" + defs.mkString("\n"))
    val knobs = offenders(Seq("connectedComponentsBounded", "connectedComponentsAuto",
      "roundPartitions", "broadcastMaxEdges", "maxDriverEdges", "driverMaxEdges",
      "maxIter"))((_, _) => false)
    assert(knobs.isEmpty, "label components with Dedup.connectedComponents(pairs):\n" +
      knobs.mkString("\n"))
  }

  test("one CEP automaton: CepMachine in batch and stream, one CEP stream processor") {
    val modes = offenders(Seq("skipToNext", "skipToNextRow", "evalPastLast", "CepSkip",
      "cepSkipToNextStream"))((_, _) => false)
    assert(modes.isEmpty, "the tag sets pick the CEP mode; run graft.functions.CepMachine:\n" +
      modes.mkString("\n"))
    val procs = sources.flatMap { case (f, text) =>
      Seq.fill(text.split("StatefulProcessor\\[Long, Tick, CepMatch\\]", -1).length - 1)(f) }
    assert(procs == Seq("graft/streaming/EventStream.scala"),
      "one CEP stream processor:\n" + procs.mkString("\n"))
  }
}
