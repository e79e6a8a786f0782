package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Caches, SparkEntry}

/** Full-output runs of `SparkEntry` queries: the query's frame is built by
  * its own function, then every output row and column goes through a
  * `noop` sink while an observation folds them into an order-insensitive
  * fingerprint (schema hash, row count, sum of per-row xxhash64). The
  * fingerprint is checked against the expected file; the sink never lets
  * Catalyst prune a column a `count()` would not need. */
object QueryRuns {

  final case class Workload(name: String, queries: Seq[String])

  /** fixpoint: frame builds that run Spark jobs every loop round (hierarchy
    * walk, PageRank); their cost is per-job scheduling. */
  val Workloads: Seq[Workload] = Seq(
    Workload("fixpoint", Seq("q108", "q97")))

  val AllQueries: Seq[String] = Workloads.flatMap(_.queries)

  type QueryFn = (SparkSession, String) => DataFrame

  def resolve(id: String): (String, QueryFn) =
    SparkEntry.queries.find(_._1.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $id in SparkEntry"))

  final case class Outcome(seconds: Double, rows: Long, fingerprint: String)

  /** Build the frame, then run it to a full-output sink. */
  def run(spark: SparkSession, sfDir: String, id: String, fn: QueryFn, tr: Tracer): Outcome = {
    val t0 = System.nanoTime()
    // Catalyst time is reported under the span that spent it: the build's
    // loop rounds re-plan their own jobs, the sink plans the final frame.
    def planned[A](body: => A): A = {
      val before = tr.mark()
      val r = body
      val work = tr.since(before)
      tr.derived("catalyst.plan", work.planMs / 1000.0, Map("nodes" -> work.planNodes.toDouble))
      r
    }
    val (rows, fp) = tr.operation(s"q.$id", id) {
      val df = tr.span("operators.build")(planned(fn(spark, sfDir)))
      tr.span("exec") {
        planned {
          val r = fullOutput(df)
          tr.note("rows", r._1.toDouble)
          tr.note("storage_b", Caches.storageBytes(spark).toDouble)
          r
        }
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    Caches.releaseAll(spark)
    Outcome(seconds, rows, fp)
  }

  def fullOutput(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val obs = Observation("perfbench_fingerprint")
    df.observe(obs, count(lit(1)).as("rows"),
        sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    (rows, s"${df.schema.catalogString.hashCode}-$rows-${m("hash")}")
  }

  /** `query<TAB>fingerprint` lines. */
  def loadExpected(path: Path): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, fp) = l.split("\t")
      q -> fp
    }.toMap

  def writeExpected(path: Path, fps: Map[String, String]): Unit = {
    val merged = loadExpected(path) ++ fps
    Files.createDirectories(path.getParent)
    Files.writeString(path, merged.toSeq.sortBy(_._1).map { case (q, f) => s"$q\t$f" }
      .mkString("", "\n", "\n"))
  }
}
