package cdcbench

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Every workload at smoke size, untraced and traced: the result line
  * carries exactly the metrics BENCHMARK.json lists for the mode, with
  * their units, and every operation and final-state check passes.
  */
class SmokeSpec extends AnyFunSuite {
  implicit val fmt: Formats = DefaultFormats

  private val spec = JsonMethods.parse(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def listed(section: String): Map[String, String] =
    (spec \ section).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString).toMap

  for (name <- Workloads.names; trace <- Seq(false, true)) {
    test(s"$name ${if (trace) "traced" else "untraced"} prints every listed metric") {
      val work = Files.createTempDirectory("cdcbench-smoke")
      try {
        val a = Main.Args(name, seed = 3L, seconds = 2, trace = trace,
          work = work.resolve("work"), out = work.resolve("out"), sourceDigest = "test")
        val wl = Workloads.byName(name, a.seconds).copy(events = 3200L)
        val lines = Main.run(a, wl)
        assert(lines.head.startsWith("host {"))
        val result = JsonMethods.parse(lines.last)
        assert(result.extract[Map[String, Any]].keySet == Set("correct", "attempted", "failed", "metrics"))
        assert((result \ "correct").extract[Boolean])
        assert((result \ "failed").extract[Long] == 0L)
        assert((result \ "attempted").extract[Long] >= 1L)
        val printed = (result \ "metrics").extract[Map[String, Map[String, Any]]]
          .map { case (k, v) => k -> v("unit").toString }
        assert(printed == listed(if (trace) "per_layer" else "end_to_end"))
        if (trace) assert(Files.exists(a.out.resolve(s"spans-$name-seed3.json")))
      } finally Host.deleteRecursively(work)
    }
  }
}
