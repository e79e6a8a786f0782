package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The traced composition must return what the public tool returns. */
class TracedToolsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("traced calls return the same envelopes, plans and files as the tools") {
    val seed = 7L
    val m = Corpus.materials(seed)
    val work = Files.createTempDirectory("perfbench-traced")
    val calls = new ToolCalls(spark, m, work.resolve("corpus"))
    calls.writeCorpus(2)
    graft.schema.MofFixtures.registerStar(spark)
    val tracer = new Tracer(spark, enabled = true)
    val block = Corpus.block(seed, 1, m)
    def dir(r: Corpus.Request, tag: String, i: Int): Option[Path] =
      if (r.export) Some(work.resolve(s"$tag-$i")) else None
    block.zipWithIndex.foreach { case (r, i) =>
      val plain = calls.call(r, dir(r, "plain", i))
      val traced = calls.traced(r, dir(r, "traced", i), tracer, s"c$i")
      val what = s"${r.tool} ($r)"
      assert(traced.result.code == plain.result.code, what)
      assert(traced.result.nFound == plain.result.nFound, what)
      assert(traced.result.cleanedStructures == plain.result.cleanedStructures, what)
      assert(traced.plan == plain.plan, what)
      assert(traced.files.map(f => java.nio.file.Paths.get(f).getFileName) ==
        plain.files.map(f => java.nio.file.Paths.get(f).getFileName), what)
      assert(ToolCalls.check(m, r, traced, dir(r, "traced", i)) ==
        ToolCalls.check(m, r, plain, dir(r, "plain", i)), what)
    }
    // one root span per call, every span inside its root's interval
    val roots = tracer.spans.filter(_.parent < 0)
    assert(roots.size == block.size)
    val byId = tracer.spans.map(s => s.id -> s).toMap
    tracer.spans.filter(_.parent >= 0).foreach { s =>
      val p = byId(s.parent)
      assert(s.startNs >= p.startNs && s.endNs <= p.endNs, s"$s outside $p")
    }
    ToolCalls.delete(work)
  }
}
