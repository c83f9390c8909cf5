package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** graft.Probe's subcommands on the shared session (which they must
  * leave running). */
class ProbeSpec extends SparkSpec {

  private def captured[A](f: => A): (A, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val a = Console.withOut(buf)(f)
    (a, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("plan writes each entry's formatted explain and prints one audit line per entry") {
    val out = Files.createTempDirectory("graft_probe_plan")
    val entries = Seq("q1_pricing_agg", "q7_topk")
    val (lines, printed) = captured(Probe.plan(spark, entries.mkString(","), sf, Some(out.toString)))
    assert(printed == lines)
    assert(lines.map(_.split("\\s+")(1)) == entries)
    assert(lines.forall(l => !l.contains(" ERROR ")), lines)
    entries.foreach { e =>
      assert(Files.readString(out.resolve(s"$e.txt")).contains("== Physical Plan =="))
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("an unknown entry fails with IllegalArgumentException before any query runs") {
    val out = Files.createTempDirectory("graft_probe_unknown")
    val (_, printed) = captured {
      intercept[IllegalArgumentException](Probe.plan(spark, "q1_pricing_agg,no_such_entry", sf, Some(out.toString)))
      intercept[IllegalArgumentException](Probe.time(spark, "q1_pricing_agg,no_such_entry", sf))
    }
    assert(printed.isEmpty)
    assert(Files.list(out).count() == 0)
    assert(!spark.sparkContext.isStopped)
  }
}
