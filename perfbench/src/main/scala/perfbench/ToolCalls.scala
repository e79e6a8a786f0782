package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Tools
import graft.api.Tools.ToolOutput
import graft.federate.{Federation, Mediation, QuotaPlanner}
import graft.filter.OptimadeCompiler
import graft.functions.{Formulas, SpaceGroups}
import graft.query.Parametric
import graft.result.{CifWriter, FetchResult, Manifest}
import graft.sql.SqlGuard
import Corpus._

/** The `tools` corpus on disk, and the two ways to make a call over it:
  * [[call]] through the public `graft.api.Tools` entry points, and
  * [[traced]], which rebuilds each tool from the same public layer calls
  * with a span around every layer. Both return the same envelope. */
final class ToolCalls(spark: SparkSession, val materials: Materials, dir: Path) {

  private def path(table: String) = dir.resolve(table).toString

  /** Provider-specific property columns, canonical where the provider has
    * no mediation entry. */
  private def propertyColumns(p: String): Seq[(String, DataType, Structure => Any)] = {
    val spg = ("space_group_number", IntegerType, (s: Structure) => s.spg)
    val bg = ("band_gap", DoubleType, (s: Structure) => boxed(s.bandGap))
    def hm(s: Structure) = SpaceGroups.fromNumber(s.spg).orNull
    p match {
      case "alexandria" => Seq(spg.copy(_1 = "_alexandria_space_group"),
                               bg.copy(_1 = "_alexandria_band_gap"))
      case "nmd"  => Seq(spg.copy(_1 = "_nmd_dft_spacegroup"), bg)
      case "mpdd" => Seq(spg.copy(_1 = "_mpdd_spacegroupn"), bg)
      case "odbx" => Seq(spg.copy(_1 = "_gnome_space_group_it_number"),
                         bg.copy(_1 = "_gnome_bandgap"))
      case "oqmd" => Seq(spg, ("_oqmd_spacegroup", StringType, hm _),
                         bg.copy(_1 = "_oqmd_band_gap"))
      case "tcod" | "cod" => Seq(spg, bg, (s"_${p}_sg", StringType,
                         (s: Structure) => Option(hm(s)).map(SpaceGroups.toTcodFormat).orNull))
      case _ => Seq(spg, bg)
    }
  }

  private def boxed(v: Option[Double]): Any = v.map(Double.box).orNull

  /** Every corpus table: name, schema, rows. */
  private val tables: Seq[(String, StructType, Seq[Row])] = {
    val arr2 = ArrayType(ArrayType(DoubleType))
    val optimade = materials.providers.map { case (p, rows) =>
      val props = propertyColumns(p)
      val schema = StructType(Seq(
        StructField("id", StringType), StructField("elements", ArrayType(StringType)),
        StructField("nelements", IntegerType), StructField("chemical_formula_reduced", StringType),
        StructField("nsites", IntegerType), StructField("lattice_vectors", arr2),
        StructField("species_at_sites", ArrayType(StringType)),
        StructField("cartesian_site_positions", arr2)) ++
        props.map { case (n, t, _) => StructField(n, t) })
      (s"optimade_$p", schema, rows.map { s =>
        Row.fromSeq(Seq(s.id, s.elements, s.nelements, s.formula, s.species.size,
          s.lattice, s.species, s.positions) ++ props.map(_._3(s)))
      })
    }
    optimade ++ Seq(
      ("bohrium", StructType(Seq(StructField("id", StringType),
        StructField("formula", StringType), StructField("space_symbol", StringType),
        StructField("atom_count", IntegerType), StructField("predicted_formation_energy", DoubleType),
        StructField("band_gap", DoubleType))),
        materials.bohrium.map(c => Row(c.id, c.formula, c.spaceSymbol, c.atomCount,
          c.formationEnergy, c.bandGap))),
      ("openlam", StructType(Seq(StructField("id", LongType),
        StructField("formula", StringType), StructField("energy", DoubleType),
        StructField("submission_time", TimestampType))),
        materials.openlam.map(s => Row(s.id, s.formula, s.energy,
          new java.sql.Timestamp(s.submittedMs)))),
      ("mofs", StructType(Seq(StructField("id", LongType)) ++
        Seq("mofid", "mofkey", "name", "database").map(StructField(_, StringType)) ++
        Seq("void_fraction", "lcd", "pld", "surface_area_m2g", "surface_area_m2cm3")
          .map(StructField(_, DoubleType))),
        materials.mofs.map(m => Row(m.id, m.mofid, m.mofkey, m.name, m.database,
          boxed(m.voidFraction), boxed(m.lcd), boxed(m.pld), boxed(m.saM2g), boxed(m.saM2cm3)))))
  }
  private val schemas: Map[String, StructType] = tables.map(t => t._1 -> t._2).toMap

  /** Write every corpus table as one parquet file, `threads` at a time. */
  def writeCorpus(threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      tables.map { case (name, schema, rows) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(rows.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(path(name))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** A corpus table read with its known schema, as a catalog table would
    * be: no schema-inference job per call. */
  private def table(name: String): DataFrame = spark.read.schema(schemas(name)).parquet(path(name))

  /** The 12 federated sources, each read and mediated when the call loads it. */
  val sources: Seq[Federation.Source] = Providers.map { p =>
    Federation.Source(p, url(p), () =>
      Mediation.mediate(table(s"optimade_$p"), Mediation.providerMediation(p)))
  }

  private def outputDir(out: Option[Path]) = out.map(_.toString)

  /** One call through the public tool entry point. */
  def call(r: Request, out: Option[Path]): ToolOutput = r match {
    case FilterCall(_, text, n, _) =>
      Tools.fetchStructuresWithFilter(spark, sources, text, n, outputDir = outputDir(out))
    case SpgCall(spg, n, _) =>
      Tools.fetchStructuresWithSpg(spark, sources, spg, nResults = n, outputDir = outputDir(out))
    case BandgapCall(lo, hi, n, _) =>
      Tools.fetchStructuresWithBandgap(spark, sources, lo, hi, nResults = n,
        outputDir = outputDir(out))
    case BohriumCall(f, fuzzy, spg, bg, n, _) =>
      Tools.fetchBohriumCrystals(spark, table("bohrium"), f, if (fuzzy) 0 else 1, spg,
        bandGapRange = bg, nResults = n, outputDir = outputDir(out))
    case OpenlamCall(f, lo, hi, t0, t1, n, _) =>
      Tools.fetchOpenlamStructures(spark, table("openlam"), f, lo, hi, t0, t1, n, outputDir(out))
    case MofsCall(db, vf, sa, n, _) =>
      Tools.fetchMofs(spark, table("mofs"), database = db, vf = vf, saM2g = sa,
        nResults = n, outputDir = outputDir(out))
    case MofsSqlCall(sql, _, n, _) =>
      Tools.fetchMofsSql(spark, sql, n, outputDir = outputDir(out))
  }

  // ---- the traced composition ---------------------------------------------

  private def failure(msg: String): ToolOutput =
    ToolOutput(FetchResult("", 0, Seq.empty, -1, Option(msg).getOrElse("error")),
      Seq.empty, Seq.empty)

  /** Federated fan-out → stats → fair quota → plan application → dedup →
    * truncation, as `Federation.federatedQuery` composes them. */
  private def federated(tr: Tracer, pred: Column, n: Int): Federation.FederatedResult = {
    val fo = tr.span("federate.load") {
      Federation.fanOut(spark, sources, Some(pred), perSourceLimit = Some(n), orderCol = Some("id"))
    }
    if (fo.data.columns.isEmpty) Federation.FederatedResult(fo.data, Nil, Nil, fo.failures)
    else {
      val st = tr.span("federate.stats")(Federation.stats(fo.data, capPerUrl = Some(n)))
      tr.note("fetched", st.flatMap(_._2.map(_._2)).sum.toDouble)
      val plan = tr.span("federate.quota")(QuotaPlanner.distributeQuotaFair(st, n))
      val data = tr.span("federate.apply") {
        Federation.dedupById(Federation.applyPlan(fo.data, plan, "id"), "id", "id")
          .orderBy(col("provider_rank"), col("id")).limit(30)
      }
      Federation.FederatedResult(data, st, plan, fo.failures)
    }
  }

  /** Truncate → plan → collect → files + manifest → envelope, as the tools'
    * shared finishing step does it. */
  private def finish(tr: Tracer, df: DataFrame, out: Option[Path], desc: String,
                     fr: Option[Federation.FederatedResult] = None,
                     nResults: Int = FetchResult.MaxReturnedStructs): ToolOutput = {
    val truncated = df.limit(FetchResult.MaxReturnedStructs)
    tr.span("catalyst.plan") {
      val qe = truncated.queryExecution
      qe.executedPlan
      tr.note("nodes", qe.optimizedPlan.collect { case p => p }.size.toDouble)
    }
    val rows = tr.span("exec") {
      val r = truncated.collect()
      tr.note("rows", r.length.toDouble)
      r
    }
    tr.note("returned", rows.length.toDouble)
    val cleaned = rows.map(r => r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap).toSeq
    val stats = fr.fold(Seq.empty: QuotaPlanner.Stats)(_.stats)
    val plan = fr.fold(Seq.empty: QuotaPlanner.Plan)(_.plan)
    val (d, files) = out match {
      case Some(p) => tr.span("result.write") {
        Files.createDirectories(p)
        val (fs, ws) = CifWriter.writeStructures(truncated, p.toString, asCif = false)
        Manifest.write(p, desc, stats, plan, fs, fr.fold(Seq.empty[(String, String)])(_.failures),
          format = "json", nResults = nResults, warnings = ws,
          nFound = Some(rows.length.toLong))
        tr.note("files", fs.size.toDouble)
        tr.note("files_failed", (rows.length - fs.size).toDouble)
        (p.toString, fs)
      }
      case None => ("", Seq.empty[String])
    }
    ToolOutput(FetchResult(d, rows.length.toLong, cleaned,
      if (rows.isEmpty) -9999 else 0, "success"), plan, files)
  }

  private def compile(tr: Tracer, filter: String): (String, Column) =
    tr.span("filter.compile") {
      val canonical = Formulas.normalizeCfrInFilter(filter)
      (canonical, OptimadeCompiler.compileOrThrow(canonical))
    }

  /** One call rebuilt from the layers' public functions, each in a span. */
  def traced(r: Request, out: Option[Path], tr: Tracer, opId: String): ToolOutput =
    tr.operation(s"api.${r.tool}", opId) {
      try r match {
        case FilterCall(_, text, n, _) =>
          if (text == null || text.trim.isEmpty) failure("Empty filter string")
          else {
            val (canonical, pred) = compile(tr, text)
            val fr = federated(tr, pred, n)
            finish(tr, Mediation.dropAttrs(fr.data), out, canonical, Some(fr), n)
          }
        case SpgCall(spg, n, _) =>
          if (spg < 1 || spg > 230) failure(s"space group number out of range: $spg")
          else {
            val pred = tr.span("filter.compile")(col("space_group_number") === spg)
            val fr = federated(tr, pred, n)
            finish(tr, fr.data, out,
              s"spg=$spg (${SpaceGroups.fromNumber(spg).getOrElse("?")})", Some(fr), nResults = n)
          }
        case BandgapCall(lo, hi, n, _) =>
          val pred = tr.span("filter.compile") {
            Parametric.NumRange("band_gap", lo, hi).toColumn && col("band_gap").isNotNull
          }
          val fr = federated(tr, pred, n)
          finish(tr, fr.data, out, SpaceGroups.rangeClause("band_gap", lo, hi), Some(fr),
            nResults = n)
        case BohriumCall(f, fuzzy, spg, bg, n, _) =>
          val df = tr.span("query.build") {
            Parametric.bohriumQuery(f, if (fuzzy) 0 else 1, spg, Nil, Nil, bg, n)
              .run(table("bohrium"))
          }
          finish(tr, df, out, s"bohrium formula=$f spg=$spg", nResults = n)
        case OpenlamCall(f, lo, hi, t0, t1, n, _) =>
          val df = tr.span("query.build") {
            Parametric.openlamQuery(f, lo, hi, t0, t1, nResults = n).run(table("openlam"))
          }
          finish(tr, df, out, s"openlam formula=$f energy=[$lo,$hi] time=[$t0,$t1]",
            nResults = n)
        case MofsCall(db, vf, sa, n, _) =>
          val df = tr.span("query.build") {
            Parametric.mofQuery(database = db, vf = vf, saM2g = sa, nResults = n)
              .run(table("mofs"))
          }
          finish(tr, df, out, s"mofs database=$db name=None", nResults = n)
        case MofsSqlCall(sql, _, n, _) =>
          val df = tr.span("sql.guard")(SqlGuard.fetchSql(spark, sql, n))
          finish(tr, df, out, sql)
      } catch {
        case e: SqlGuard.GuardError => failure(s"SQL security check failed: ${e.message}")
        case e: Exception => failure(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
}

object ToolCalls {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Why the call's output is wrong, or None. A refused call (−1) that the
    * model expects to be refused is correct. */
  def check(m: Materials, r: Request, out: ToolOutput, dir: Option[Path]): Option[String] = {
    val want = Corpus.expect(m, r)
    val res = out.result
    val ids = res.cleanedStructures.map(row => String.valueOf(row.getOrElse("id", null)))
    def files = out.files.count(f => Files.isRegularFile(Paths.get(f)))
    if (res.code != want.code) Some(s"code ${res.code} (${res.message}), expected ${want.code}")
    else if (res.nFound != want.rows || ids.size != want.rows)
      Some(s"${res.nFound} rows, expected ${want.rows}")
    else if (ids.distinct.size != ids.size) Some("duplicate ids")
    else if (want.ids.exists(_ != ids)) Some(s"ids ${ids.mkString(",")}, expected ${want.ids.get.mkString(",")}")
    else if (want.allowed.exists(a => !ids.forall(a))) Some("a row outside the matching set")
    else if (want.planTotal.exists(_ != QuotaPlanner.planTotal(out.plan)))
      Some(s"plan total ${QuotaPlanner.planTotal(out.plan)}, expected ${want.planTotal.get}")
    else if (r.export && want.code != -1 && files != want.rows)
      Some(s"$files files for ${want.rows} rows")
    else if (r.export && want.code != -1) {
      val summary = dir.get.resolve("summary.json")
      try {
        val js = mapper.readTree(Files.readString(summary))
        if (js.get("files").size != out.files.size) Some("summary.json lists other files") else None
      } catch { case e: Exception => Some(s"summary.json: ${e.getMessage}") }
    } else None
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }
}
