package kgbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** Self-test of the harness at tiny sizes: every metric BENCHMARK.json names
  * is printed with its unit, and every correctness gate trips when one
  * output triple is dropped. Run with `sbt test` in this directory. */
class HarnessSpec extends AnyFunSuite {
  private val spec = parse(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other => fail(s"expected a string, got $other")
  }

  private def declared(key: String): Seq[(String, String)] =
    (spec \ key).children.map(m => (str(m \ "name"), str(m \ "unit")))

  private val workloads = (spec \ "workloads").children.map(w => str(w \ "name"))

  private def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def run(workload: String, trace: Boolean, drop: Boolean = false): Main.Result = {
    val root = Paths.get("target", "selftest").toAbsolutePath
    Files.createDirectories(root)
    val work = Files.createTempDirectory(root, workload)
    try Main.run(Main.Args(workload, seed = 7L, seconds = 0.0, trace = trace, work = work,
      tiny = true, drop = drop))
    finally delete(work)
  }

  /** Parses the printed result line and checks it against `wanted`. */
  private def assertMetrics(r: Main.Result, wanted: Seq[(String, String)]): Unit = {
    val line = parse(r.json)
    assert(line.asInstanceOf[JObject].obj.map(_._1).toSet ==
      Set("correct", "attempted", "failed", "metrics"))
    assert(line \ "correct" == JBool(true), r.failures.mkString("; "))
    assert(line \ "failed" == JInt(0))
    val printed = (line \ "metrics").asInstanceOf[JObject].obj.toMap
    assert(printed.keySet == wanted.map(_._1).toSet)
    wanted.foreach { case (name, unit) =>
      assert(str(printed(name) \ "unit") == unit, name)
      printed(name) \ "value" match {
        case JDouble(_) | JInt(_) | JLong(_) | JDecimal(_) =>
        case other => fail(s"$name: value $other is not a number")
      }
    }
  }

  test("BENCHMARK.json names the workloads the harness runs") {
    assert(workloads.nonEmpty)
    assert(workloads.toSet == Main.Workloads.toSet)
  }

  for (w <- Main.Workloads) {
    test(s"$w prints every end-to-end metric with its unit") {
      assertMetrics(run(w, trace = false), declared("end_to_end"))
    }

    test(s"$w traced run prints every per-layer metric with its unit") {
      assertMetrics(run(w, trace = true), declared("per_layer"))
    }

    test(s"$w gates fail when one output triple is dropped") {
      val r = run(w, trace = false, drop = true)
      assert(!r.correct)
      assert(r.failed == r.attempted && r.attempted > 0)
      assert(r.failures.nonEmpty)
    }
  }

  test("idle time is the part of a span no task covers") {
    assert(Tracer.idleSeconds(0, 1000, Nil) == 1.0)
    assert(Tracer.idleSeconds(0, 1000, Seq((100L, 300L), (200L, 400L), (900L, 2000L))) == 0.6)
  }
}
