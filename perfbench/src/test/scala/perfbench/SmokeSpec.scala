package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size runs of every workload: each prints every metric that
  * BENCHMARK.json names, with that metric's unit and a valid name, on a
  * result line of exactly the contract's keys; and a wrong expected
  * answer counts as a failed operation. */
class SmokeSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private val spec = json.readTree(Paths.get("..", "BENCHMARK.json").toFile)
  private val nameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val unitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText -> m.get("unit").asText)

  private def run(workload: String, trace: Boolean,
                  corrupt: Boolean = false): JsonNode = {
    val work = Files.createTempDirectory(Paths.get("target"), "smoke")
    val r = Bench.run(Opts(workload, seed = 7, seconds = 0.1, trace = trace,
      work = work.toAbsolutePath, cores = 2, scale = 0.05, corrupt = corrupt,
      setups = 2))
    json.readTree(r.json)
  }

  private def assertPrints(out: JsonNode, metrics: Seq[(String, String)]) = {
    assert(out.fieldNames().asScala.toSet ===
      Set("correct", "attempted", "failed", "metrics"))
    val printed = out.get("metrics").fields().asScala
      .map(e => e.getKey -> e.getValue).toMap
    for ((name, unit) <- metrics) {
      assert(nameRe.matches(name), s"invalid metric name $name")
      assert(unitRe.matches(unit), s"invalid unit $unit for $name")
      val m = printed.getOrElse(name, fail(s"$name not printed"))
      assert(m.get("unit").asText === unit, s"unit of $name")
      assert(m.get("value").isNumber, s"value of $name")
    }
  }

  test("BENCHMARK.json names metrics the harness defines, with its units") {
    assert(declared("end_to_end") === Metrics.endToEnd)
    assert(declared("per_layer") === Metrics.perLayer)
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText)
    assert(names.toSet.subsetOf(Workload.names.toSet))
  }

  for (w <- Workload.names) {
    test(s"$w prints every end-to-end metric and passes its checks") {
      val out = run(w, trace = false)
      assertPrints(out, declared("end_to_end"))
      assert(out.get("correct").asBoolean)
      assert(out.get("failed").asInt === 0)
      assert(out.get("attempted").asInt >= 1)
      declared("end_to_end").foreach { case (n, _) =>
        assert(out.get("metrics").get(n).get("value").asDouble > 0, n) }
    }

    test(s"$w prints every per-layer metric when traced") {
      val out = run(w, trace = true)
      assertPrints(out, declared("per_layer"))
      assert(out.get("failed").asInt === 0)
    }
  }

  test("a wrong expected answer registers as a failed operation") {
    val out = run("wide_schema", trace = false, corrupt = true)
    assert(!out.get("correct").asBoolean)
    assert(out.get("failed").asInt === out.get("attempted").asInt)
  }
}
