package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  /** Tests run from perfbench/; the benchmark contract is at the root. */
  private lazy val contract = mapper.readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def declared(key: String): Seq[(String, String)] =
    contract.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  private def span(id: Int, parent: Int, name: String, start: Long, end: Long,
                   attrs: Map[String, Double] = Map.empty) =
    Span(id, parent, name, "op", start * 1000000L, end * 1000000L, Counters(jobs = 1), attrs)

  /** A federated call: root 0..1000 ms with three children. */
  private val spans = Seq(
    span(1, 0, "federate.load", 10, 110), span(2, 0, "federate.stats", 110, 510,
      Map.empty), span(3, 0, "exec", 520, 900, Map("rows" -> 5)),
    span(0, -1, "api.fetch_structures_with_spg", 0, 1000, Map("fetched" -> 20, "returned" -> 5)))

  test("BENCHMARK.json declares exactly the metrics the printer emits") {
    assert(declared("end_to_end") == Report.EndToEnd)
    assert(declared("per_layer") == Report.PerLayer)
    assert(contract.get("workloads").elements.asScala.map(_.get("name").asText).toSeq ==
      "tools" +: QueryRuns.Workloads.map(_.name))
  }

  test("the printer emits every metric, with its unit, as one JSON line") {
    for (metrics <- Seq(Report.untraced(30.5, 0.2, 3.1, 12.0),
                        Report.traced(spans, 4, 0.0625, 0.3, 0.1, 0.01))) {
      val line = Report.json(Report.Result(correct = true, 13, 0, metrics))
      assert(!line.contains("\n"))
      val js = mapper.readTree(line)
      assert(js.fieldNames.asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      val printed = js.get("metrics").fields.asScala
        .map(e => e.getKey -> e.getValue.get("unit").asText).toSeq
      assert(printed == metrics.map(m => m._1 -> m._3))
    }
  }

  test("Catalyst time sums over a query's build rounds and its sink") {
    val q = Seq(span(0, -1, "q.q97", 0, 1000), span(1, 0, "operators.build", 0, 600),
      span(2, 1, "catalyst.plan", 500, 600, Map("nodes" -> 40)), span(3, 0, "exec", 600, 1000),
      span(4, 3, "catalyst.plan", 900, 950, Map("nodes" -> 10)))
    val m = Report.traced(q, 4, 0, 0, 0, 0).map(x => x._1 -> x._2).toMap
    assert(math.abs(m("catalyst.plan_ms") - 150) < 1e-6)
    assert(m("catalyst.plan_nodes") == 50)
    assert(math.abs(m("self.catalyst_s") - 0.15) < 1e-9)
    assert(math.abs(m("self.operators_s") - 0.5) < 1e-9)
  }

  test("per-layer self times account for each operation's wall time") {
    val m = Report.traced(spans, 4, 0, 0, 0, 0).map(x => x._1 -> x._2).toMap
    val selfSum = Report.Layers.map(l => m(s"self.${l}_s")).sum
    assert(math.abs(selfSum - 1.0) < 1e-9)
    assert(math.abs(m("self.api_s") - 0.12) < 1e-9)
    assert(m("federate.kept_ratio") == 0.25)
    assert(m("federate.stats_s") == 0.4)
    assert(m("api.fetch_structures_with_spg_p50_s") == 1.0)
  }
}
