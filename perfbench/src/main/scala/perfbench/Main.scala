package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.SparkSession
import Report.{median, quantile}

/** Benchmark entry point (see perfbench/README.md):
  *
  * {{{
  * Main --workload tools|fixpoint --seed N --seconds S --trace 0|1
  *      --work DIR --data DIR --expected FILE [--record]
  * }}}
  *
  * `--data` is the testdata directory the queries read; `--expected` is the
  * query fingerprint file (`--record` rewrites it instead of checking).
  *
  * One `local[cores]` session, one client thread: every call or query waits
  * for its result before the next starts. Set-up (session, corpus
  * generation, Aux materialization, one untimed warm-up pass) is timed from
  * JVM start. Then passes run until `--seconds` have elapsed. With
  * `--trace 1` every call or query runs untraced and traced over the same
  * inputs, so the tracing overhead is their paired difference. The last stdout line
  * is the JSON result. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path, expected: Path, record: Boolean)

  def parse(argv: Array[String]): Args = {
    def flag(name: String) = argv.indexOf(name) match {
      case -1 => throw new IllegalArgumentException(s"missing $name")
      case i => argv(i + 1)
    }
    Args(flag("--workload"), flag("--seed").toLong, flag("--seconds").toDouble,
      flag("--trace") == "1", Paths.get(flag("--work")).toAbsolutePath,
      Paths.get(flag("--data")).toAbsolutePath, Paths.get(flag("--expected")).toAbsolutePath,
      argv.contains("--record"))
  }

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // as graft.Bench: passes re-run the same plans, keep their classes
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One timed call or query. */
  final case class Sample(name: String, seconds: Double, export: Boolean, failure: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"perfbench: jvm ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    val spark = step("session")(session(a.work))
    val result =
      try {
        if (a.workload == "tools") tools(spark, a, jvmStart)
        else queries(spark, a, jvmStart)
      } finally spark.stop()
    result.metrics.foreach { case (n, v, u) => println(f"metric $n%-44s $v%.6f $u") }
    println(Report.json(result))
  }

  /** Runs pass i = 1, 2, … over `items(i)` until `seconds` have elapsed
    * and at least `minPasses` passes ran. Traced runs time every item both
    * untraced and traced, back to back, alternating which goes first, so
    * order effects cancel in the paired difference. Returns (untraced,
    * traced) pass sample lists. */
  private def timedPasses[X](a: Args, minPasses: Int)(items: Int => Seq[X])(
      run: (Int, Int, X, Boolean) => Sample): (Seq[Seq[Sample]], Seq[Seq[Sample]]) = {
    val plain = ArrayBuffer.empty[Seq[Sample]]
    val traced = ArrayBuffer.empty[Seq[Sample]]
    val t0 = System.nanoTime()
    var i = 1
    while (i <= minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val pairs = items(i).zipWithIndex.map { case (x, j) =>
        if (!a.trace) (run(i, j, x, false), None)
        else if ((i + j) % 2 == 1) { val u = run(i, j, x, false); (u, Some(run(i, j, x, true))) }
        else { val t = run(i, j, x, true); (run(i, j, x, false), Some(t)) }
      }
      plain += pairs.map(_._1)
      if (a.trace) traced += pairs.flatMap(_._2)
      i += 1
    }
    (plain.toSeq, traced.toSeq)
  }

  private def result(a: Args, setup: Double, plain: Seq[Seq[Sample]], traced: Seq[Seq[Sample]],
                     tracer: Tracer): Report.Result = {
    val all = (plain ++ traced).flatten
    val failures = all.filter(_.failure.isDefined)
    failures.take(20).foreach(s => System.err.println(s"perfbench: failed ${s.name}: ${s.failure.get}"))
    plain.zipWithIndex.foreach { case (p, i) =>
      System.err.println(s"perfbench: pass ${i + 1}: " +
        p.map(s => f"${s.name}${if (s.export) "+out" else ""}%s=${s.seconds}%.3f").mkString(" "))
    }
    def passTime(p: Seq[Sample]) = p.map(_.seconds).sum
    // A query workload runs the same queries every pass: each query's
    // latency is its median over passes, and the quantiles run over queries.
    val calls =
      if (a.workload == "tools") plain.flatten.map(_.seconds)
      else plain.flatten.groupBy(_.name).values.map(ss => median(ss.map(_.seconds))).toSeq
    val passes = plain.map(passTime)
    val metrics =
      if (!a.trace) Report.untraced(setup, median(calls), quantile(calls, 0.9), median(passes))
      else {
        val overhead = median(plain.zip(traced).map { case (u, t) => passTime(t) - passTime(u) })
        Report.traced(tracer.spans.toSeq, cores, failures.size.toDouble / all.size,
          median(plain.flatten.filter(_.export).map(_.seconds)), overhead, overhead / median(passes))
      }
    if (a.trace) {
      val out = a.work.getParent.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl")
      tracer.writeJsonl(out)
      System.err.println(s"perfbench: spans written to $out")
    }
    Report.Result(failures.isEmpty, all.size, failures.size, metrics)
  }

  /** Run a set-up step, reporting its time on stderr. */
  private def step[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"perfbench: $name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def setupSeconds(jvmStart: Long): Double =
    (System.currentTimeMillis() - jvmStart) / 1000.0

  def tools(spark: SparkSession, a: Args, jvmStart: Long): Report.Result = {
    val m = Corpus.materials(a.seed)
    val calls = new ToolCalls(spark, m, a.work.resolve("corpus"))
    // The MOF star (the Aux fill) is written while the corpus is written
    // and the other tools warm up; only the SQL tool waits for it.
    val star = java.util.concurrent.CompletableFuture.runAsync(
      () => graft.schema.MofFixtures.registerStar(spark))
    step("corpus")(calls.writeCorpus(cores))
    val tracer = new Tracer(spark, a.trace)
    def runCall(i: Int, j: Int, r: Corpus.Request, traced: Boolean): Sample = {
      val id = s"b$i-c$j-${if (traced) "t" else "u"}"
      val dir = if (r.export) Some(a.work.resolve("out").resolve(id)) else None
      val t0 = System.nanoTime()
      val out = if (traced) calls.traced(r, dir, tracer, id) else calls.call(r, dir)
      val seconds = (System.nanoTime() - t0) / 1e9
      val failure = ToolCalls.check(m, r, out, dir)
      dir.foreach(ToolCalls.delete)
      Sample(r.tool, seconds, r.export, failure)
    }
    // Warm-up: every accepted single-table call of an untimed block, and
    // one federated call (the three federated tools run the same fan-out
    // and finishing code).
    val accepted = Corpus.block(a.seed, 0, m).filter(r => Corpus.expect(m, r).code != -1)
    val (sql, others) = (accepted.collectFirst { case r: Corpus.FilterCall => r } ++
      accepted.filterNot(Corpus.isFederated)).partition(_.isInstanceOf[Corpus.MofsSqlCall])
    def warm(rs: Iterable[Corpus.Request]) = rs.zipWithIndex.foreach { case (r, j) =>
      calls.call(r, if (r.export) Some(a.work.resolve("out").resolve(s"warm-$j")) else None)
    }
    step("warm-up")(warm(others))
    step("mof star")(star.get())
    step("warm-up sql")(warm(sql))
    val setup = setupSeconds(jvmStart)
    // Two blocks: call_p50_s falls among the single-table calls, and with
    // one block it rested on two single calls.
    val (plain, traced) = timedPasses(a, minPasses = 2)(Corpus.block(a.seed, _, m))(runCall)
    result(a, setup, plain, traced, tracer)
  }

  def queries(spark: SparkSession, a: Args, jvmStart: Long): Report.Result = {
    val w = QueryRuns.Workloads.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val sfDir = a.data.toString
    val named = w.queries.map(id => id -> QueryRuns.resolve(id)._2)
    val expected = QueryRuns.loadExpected(a.expected)
    val tracer = new Tracer(spark, a.trace)
    val off = new Tracer(spark, false)
    def runOne(id: String, fn: QueryRuns.QueryFn, tr: Tracer): (QueryRuns.Outcome, Option[String]) =
      try {
        val o = QueryRuns.run(spark, sfDir, id, fn, tr)
        val want = expected.get(id)
        (o, if (a.record || want.contains(o.fingerprint)) None
            else Some(s"fingerprint ${o.fingerprint}, expected ${want.getOrElse("none recorded")}"))
      } catch {
        case e: Exception => (QueryRuns.Outcome(0, 0, ""), Some(s"threw ${e.getMessage}"))
      }
    val warm = step("warm-up")(named.map { case (id, fn) => id -> runOne(id, fn, off) })
    val setup = setupSeconds(jvmStart)
    if (a.record) {
      warm.collectFirst { case (id, (_, Some(why))) => sys.error(s"not recording: $id $why") }
      QueryRuns.writeExpected(a.expected, warm.map { case (id, (o, _)) => id -> o.fingerprint }.toMap)
      System.err.println(s"perfbench: recorded ${warm.size} fingerprints to ${a.expected}")
    }
    def runQuery(i: Int, j: Int, q: (String, QueryRuns.QueryFn), traced: Boolean): Sample = {
      val (o, failure) = runOne(q._1, q._2, if (traced) tracer else off)
      Sample(q._1, o.seconds, export = false, failure)
    }
    // The first timed pass still runs slower than later ones (the JIT is
    // still compiling); three passes keep the median pass off it.
    val (plain, traced) =
      timedPasses(a, minPasses = 3)(i => new Random(a.seed * 1000003L + i).shuffle(named))(runQuery)
    result(a, setup, plain, traced, tracer)
  }
}
