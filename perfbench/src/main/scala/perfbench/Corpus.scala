package perfbench

import java.sql.Timestamp
import scala.util.Random
import graft.federate.QuotaPlanner
import graft.functions.SpaceGroups
import graft.schema.MofFixtures

/** The `tools` workload's inputs, all derived from one seed: a materials
  * corpus (12 OPTIMADE provider sources, a Bohrium crystal table, an
  * OpenLAM structure table, a MOF property table) and a stream of tool
  * calls over it, plus a plain-Scala model of what every call must return.
  * The model is evaluated over the in-memory corpus, independently of
  * Spark, so the benchmark can check each envelope it times. */
object Corpus {

  /** Registry order = dedup precedence. Seven providers keep a property
    * under a provider-specific column that `Mediation.providerMediation`
    * maps to the canonical name. */
  val Providers: Seq[String] = Seq("alexandria", "cmr", "cod", "mcloud",
    "mcloudarchive", "mp", "mpdd", "nmd", "odbx", "omdb", "oqmd", "tcod")

  val Elements: Seq[String] = Seq("O", "Si", "Fe", "Na", "Cl", "Li", "Ti",
    "Mg", "Al", "Zn", "Cu", "Ca", "N", "C", "S", "Ga", "Sr", "Ba", "Co", "Ni")

  val SpaceGroupPool: Seq[Int] = Seq(1, 2, 12, 14, 62, 139, 166, 194, 221, 225, 227)

  val FormulaPool: Seq[String] = Seq("Fe2O3", "NaCl", "SiO2", "TiO2", "LiCoO2",
    "GaN", "MgO", "Al2O3", "ZnO", "CaTiO3", "BaTiO3", "SrTiO3", "Cu2O",
    "ZnS", "KCl", "LiFePO4", "NiO", "CoO", "Li2O", "MgAl2O4")

  /** Shared id pool: each provider samples distinct ids from it, so some
    * ids appear in several providers and first-provider-wins dedup runs. */
  val IdPool = 1500

  final case class Structure(id: String, elements: Seq[String], counts: Seq[Int],
                             spg: Int, bandGap: Option[Double],
                             lattice: Seq[Seq[Double]], positions: Seq[Seq[Double]]) {
    def nelements: Int = elements.size
    def species: Seq[String] = elements.zip(counts).flatMap { case (e, n) => Seq.fill(n)(e) }
    def formula: String = elements.zip(counts).sortBy(_._1)
      .map { case (e, n) => if (n == 1) e else s"$e$n" }.mkString
  }
  final case class Crystal(id: String, formula: String, spg: Int, atomCount: Int,
                           formationEnergy: Double, bandGap: Double) {
    def spaceSymbol: String = SpaceGroups.unicodeSymbol(spg)
  }
  final case class LamStructure(id: Long, formula: String, energy: Double, submittedMs: Long)
  final case class Mof(id: Long, mofid: String, mofkey: String, name: String, database: String,
                       voidFraction: Option[Double], lcd: Option[Double], pld: Option[Double],
                       saM2g: Option[Double], saM2cm3: Option[Double])

  final case class Materials(providers: Seq[(String, Seq[Structure])],
                             bohrium: Seq[Crystal], openlam: Seq[LamStructure],
                             mofs: Seq[Mof])

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  def materials(seed: Long): Materials = {
    val rnd = new Random(seed)
    def structure(k: Int): Structure = {
      val n = 1 + rnd.nextInt(4)
      val els = rnd.shuffle(Elements.take(12 + rnd.nextInt(8))).take(n).sorted
      val counts = els.map(_ => 1 + rnd.nextInt(3))
      val lattice = Seq(
        Seq(r3(3 + 5 * rnd.nextDouble()), r3(0.2 * rnd.nextDouble()), 0.0),
        Seq(0.0, r3(3 + 5 * rnd.nextDouble()), r3(0.2 * rnd.nextDouble())),
        Seq(r3(0.2 * rnd.nextDouble()), 0.0, r3(3 + 5 * rnd.nextDouble())))
      val sites = counts.sum
      Structure(f"mat-$k%05d", els, counts,
        SpaceGroupPool(rnd.nextInt(SpaceGroupPool.size)),
        if (rnd.nextInt(10) == 0) None else Some(r3(8 * rnd.nextDouble())),
        lattice, Seq.fill(sites)(Seq.fill(3)(r3(3 * rnd.nextDouble()))))
    }
    val providers = Providers.map { p =>
      // sizes span 15..315 rows, so selective calls leave small providers
      // under their quota and the water-fill redistributes
      val size = 15 + rnd.nextInt(300)
      p -> rnd.shuffle((0 until IdPool).toVector).take(size).sorted.map(structure)
    }
    val energies = rnd.shuffle((0 until 400).toVector)
    val bohrium = (0 until 400).map { i =>
      Crystal(f"b-$i%04d", FormulaPool(rnd.nextInt(FormulaPool.size)),
        SpaceGroupPool(rnd.nextInt(SpaceGroupPool.size)), 1 + rnd.nextInt(60),
        -6.0 + energies(i) * 0.01, r3(6 * rnd.nextDouble()))
    }
    val t0 = Timestamp.valueOf("2022-01-01 00:00:00").getTime
    val span = 4L * 365 * 24 * 3600 * 1000
    val openlam = (1 to 400).map { i =>
      LamStructure(i.toLong, FormulaPool(rnd.nextInt(FormulaPool.size)),
        r3(-80 + 75 * rnd.nextDouble()), t0 + (rnd.nextDouble() * span).toLong / 1000 * 1000)
    }
    val mofs = (0 until 300).map { i =>
      def opt(x: => Double) = if (rnd.nextInt(8) == 0) None else Some(r3(x))
      Mof(i.toLong, f"mofid-$i%04d", f"mofkey-$i%04d", f"MOF-$i%04d",
        MofFixtures.Databases(rnd.nextInt(MofFixtures.Databases.size)),
        opt(rnd.nextDouble()), opt(2 + 20 * rnd.nextDouble()), opt(1 + 10 * rnd.nextDouble()),
        opt(6000 * rnd.nextDouble()), opt(3000 * rnd.nextDouble()))
    }
    Materials(providers, bohrium, openlam, mofs)
  }

  // ---- OPTIMADE filters the model can evaluate ----------------------------

  sealed trait Filter {
    def render: String
    def eval(s: Structure): Boolean
  }
  private def q(e: String) = "\"" + e + "\""
  final case class HasAll(els: Seq[String]) extends Filter {
    def render: String =
      if (els.size == 1) s"elements HAS ${q(els.head)}"
      else s"elements HAS ALL ${els.map(q).mkString(",")}"
    def eval(s: Structure): Boolean = els.forall(s.elements.contains)
  }
  final case class HasAny(els: Seq[String]) extends Filter {
    def render: String = s"elements HAS ANY ${els.map(q).mkString(",")}"
    def eval(s: Structure): Boolean = els.exists(s.elements.contains)
  }
  final case class NElements(op: String, k: Int) extends Filter {
    def render: String = s"nelements$op$k"
    def eval(s: Structure): Boolean = op match {
      case "="  => s.nelements == k
      case "<=" => s.nelements <= k
      case ">=" => s.nelements >= k
    }
  }
  final case class And(a: Filter, b: Filter) extends Filter {
    def render: String = s"${a.render} AND ${b.render}"
    def eval(s: Structure): Boolean = a.eval(s) && b.eval(s)
  }

  // ---- requests -----------------------------------------------------------

  sealed trait Request {
    def tool: String
    def nResults: Int
    def export: Boolean
  }
  /** `filter = None` sends `text`, a malformed filter, expecting −1. */
  final case class FilterCall(filter: Option[Filter], text: String, nResults: Int,
                              export: Boolean) extends Request {
    def tool = "fetch_structures_with_filter"
  }
  final case class SpgCall(spg: Int, nResults: Int, export: Boolean) extends Request {
    def tool = "fetch_structures_with_spg"
  }
  final case class BandgapCall(min: Option[Double], max: Option[Double], nResults: Int,
                               export: Boolean) extends Request {
    def tool = "fetch_structures_with_bandgap"
  }
  final case class BohriumCall(formula: Option[String], fuzzy: Boolean, spg: Option[Int],
                               bandGap: Seq[String], nResults: Int,
                               export: Boolean) extends Request {
    def tool = "fetch_bohrium_crystals"
  }
  final case class OpenlamCall(formula: Option[String], minEnergy: Option[Double],
                               maxEnergy: Option[Double], minTime: Option[String],
                               maxTime: Option[String], nResults: Int,
                               export: Boolean) extends Request {
    def tool = "fetch_openlam_structures"
  }
  final case class MofsCall(database: Option[String], vf: (Option[Double], Option[Double]),
                            saM2g: (Option[Double], Option[Double]), nResults: Int,
                            export: Boolean) extends Request {
    def tool = "fetch_mofs"
  }
  /** `accept = None` is a statement the SQL guard must reject (−1). */
  final case class MofsSqlCall(sql: String, accept: Option[MofsSql.Template], nResults: Int,
                               export: Boolean) extends Request {
    def tool = "fetch_mofs_sql"
  }

  def isFederated(r: Request): Boolean = r match {
    case _: FilterCall | _: SpgCall | _: BandgapCall => true
    case _ => false
  }

  val ToolNames: Seq[String] = Seq("fetch_structures_with_filter", "fetch_structures_with_spg",
    "fetch_structures_with_bandgap", "fetch_bohrium_crystals", "fetch_openlam_structures",
    "fetch_mofs", "fetch_mofs_sql")

  /** Read-only SQL over the MOF star whose answers the model computes from
    * the star's source fixture. */
  object MofsSql {
    sealed trait Template { def sql: String; def matches(d: graft.schema.MofSchema.MofDoc): Boolean }
    final case class ByDatabase(db: String) extends Template {
      def sql = s"SELECT id, name, database, n_atom FROM mofs WHERE database = '$db' ORDER BY id"
      def matches(d: graft.schema.MofSchema.MofDoc): Boolean = d.database == db
    }
    final case class ElementCounts(minAtoms: Int) extends Template {
      def sql = "SELECT m.id, m.name, COUNT(e.id) AS n_elements FROM mofs m " +
        s"JOIN elements e ON e.mof_id = m.id WHERE m.n_atom >= $minAtoms " +
        "GROUP BY m.id, m.name ORDER BY m.id"
      def matches(d: graft.schema.MofSchema.MofDoc): Boolean =
        d.n_atom >= minAtoms && d.elements.nonEmpty
    }
    val Writes: Seq[String] = Seq("DROP TABLE mofs",
      "INSERT INTO mofs SELECT * FROM mofs", "DELETE FROM mofs WHERE id = 1")
  }

  private val Malformed: Seq[String] = Seq("elements HAS ALL", "nelements >",
    "elements HAS \"Si\" AND", "(elements HAS \"O\"")

  private def subscript(f: String): String =
    f.map(c => if (c.isDigit) ('₀' + (c - '0')).toChar else c)

  /** Calls per block. There is no usage figure per tool, so each of the
    * seven entry points is called equally often: twice per block, once
    * writing files and once not, so that half of the accepted calls export.
    * Two more calls must be refused (a malformed filter and an SQL write).
    * Six of the sixteen calls are federated. Every block holds the same
    * multiset of call kinds, in seeded order with seeded parameters. */
  val BlockSize = 16

  def block(seed: Long, index: Int, m: Materials): Seq[Request] = {
    val rnd = new Random(seed * 1000003L + index)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val n = 10
    def els(k: Int) = rnd.shuffle(Elements.take(12)).take(k).sorted
    def filter: Filter = rnd.nextInt(4) match {
      case 0 => HasAll(els(1))
      case 1 => HasAll(els(2))
      case 2 => And(HasAny(els(2)), NElements(pick(Seq("=", "<=", ">=")), 1 + rnd.nextInt(3)))
      case _ => And(HasAll(els(1)), NElements("<=", 2 + rnd.nextInt(2)))
    }
    // Single-table calls use wide predicates, so each returns a full page of
    // n rows and writes n files: their latency then varies with the seed
    // only through which rows match, not through how many.
    def fragment = {
      val f = pick(Seq("O2", "O3", "TiO3", "Al2", "Li"))
      if (rnd.nextBoolean()) subscript(f) else f
    }
    def range(lo: Double, hi: Double, width: Double) = {
      val a = r3(lo + (hi - lo) * (1 - width) * rnd.nextDouble())
      (Some(a), Some(r3(a + (hi - lo) * width)))
    }
    def bohrium(export: Boolean) = {
      val bg = range(0, 6, 0.6)
      val bySpg = rnd.nextBoolean()
      BohriumCall(if (bySpg) None else Some(fragment), fuzzy = true,
        if (bySpg) Some(pick(SpaceGroupPool)) else None,
        Seq(bg._1.get.toString, bg._2.get.toString), n, export)
    }
    def openlam(export: Boolean) = {
      val (lo, hi) = range(-80, 5, 0.7)
      val y = 2022 + rnd.nextInt(2)
      OpenlamCall(None, lo, hi, Some(s"$y-01-01 00:00:00"),
        if (rnd.nextBoolean()) Some(s"${y + 2}-06-30 00:00:00") else None, n, export)
    }
    def mofs(export: Boolean) =
      MofsCall(if (rnd.nextBoolean()) Some(pick(MofFixtures.Databases)) else None,
        range(0, 1, 0.7), (None, None), n, export)
    // one call per SQL template: a filter on the star's `mofs` table, and
    // a join with aggregation
    def sql(export: Boolean) = {
      val t =
        if (export) MofsSql.ByDatabase(pick(MofFixtures.Databases))
        else MofsSql.ElementCounts(30 + rnd.nextInt(30))
      MofsSqlCall(t.sql, Some(t), n, export)
    }
    def bandgap(export: Boolean) = {
      val (lo, hi) = range(0, 8, 0.4)
      BandgapCall(lo, if (rnd.nextBoolean()) hi else None, n, export)
    }
    // Every export writes JSON. `fetch_structures_with_filter(asCif = true)`
    // writes no CIF at all (`Mediation.dropAttrs` removes `species_at_sites`
    // and `cartesian_site_positions` before `CifWriter` runs), so a CIF
    // export could not pass its check.
    def filterCall(export: Boolean) = {
      val f = filter
      FilterCall(Some(f), f.render, n, export)
    }
    val calls = Seq(true, false).flatMap(e => Seq(filterCall(e),
      SpgCall(pick(SpaceGroupPool), n, e), bandgap(e),
      bohrium(e), openlam(e), mofs(e), sql(e))) ++ Seq(
      FilterCall(None, pick(Malformed), n, export = false),
      MofsSqlCall(pick(MofsSql.Writes), None, n, export = false))
    require(calls.size == BlockSize)
    rnd.shuffle(calls)
  }

  // ---- the model ----------------------------------------------------------

  /** What a call must return. `ids` is the exact ordered id list where the
    * tool's order is defined, `allowed` the set rows must come from where it
    * is not; `planTotal` is min(nResults, Σ per-provider capped matches). */
  final case class Expect(code: Int, rows: Int, ids: Option[Seq[String]],
                          allowed: Option[Set[String]], planTotal: Option[Int])

  private def outcome(ids: Seq[String], limit: Int): Expect = {
    val kept = ids.take(limit)
    Expect(if (kept.isEmpty) -9999 else 0, kept.size, Some(kept), None, None)
  }
  private val Refused = Expect(-1, 0, Some(Nil), None, None)
  private val MaxReturned = graft.result.FetchResult.MaxReturnedStructs

  /** Fan-out with per-source ordered limits → stats → fair quota →
    * per-source top-quota → first-provider-wins dedup → truncation. */
  private def federated(m: Materials, n: Int, pred: (String, Structure) => Boolean): Expect = {
    val capped = m.providers.map { case (p, rows) =>
      p -> rows.filter(pred(p, _)).sortBy(_.id).take(n)
    }.filter(_._2.nonEmpty)
    val stats: QuotaPlanner.Stats = capped.map { case (p, rows) => p -> Seq(url(p) -> rows.size) }
    val plan = QuotaPlanner.distributeQuotaFair(stats, n)
    val quota = plan.map { case (p, us) => p -> us.map(_._2).sum }.toMap
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    capped.foreach { case (p, rows) => rows.take(quota.getOrElse(p, 0)).foreach(s => seen += s.id) }
    outcome(seen.toSeq, MaxReturned).copy(
      planTotal = Some(math.min(n, capped.map(_._2.size).sum)))
  }

  def url(provider: String): String = s"https://$provider.example.org/optimade"

  /** Every provider table exposes the canonical space group and band gap
    * after mediation, so federated predicates read the generated values. */
  def expect(m: Materials, r: Request): Expect = r match {
    case FilterCall(None, _, _, _) => Refused
    case FilterCall(Some(f), _, n, _) => federated(m, n, (_, s) => f.eval(s))
    case SpgCall(spg, n, _) => federated(m, n, (_, s) => s.spg == spg)
    case BandgapCall(lo, hi, n, _) => federated(m, n, (_, s) =>
      s.bandGap.exists(b => lo.forall(b >= _) && hi.forall(b <= _)))
    case BohriumCall(f, fuzzy, spg, bg, n, _) =>
      val want = f.map(graft.functions.Formulas.normalizeFormula)
      val (lo, hi) = graft.query.Parametric.completeRange(bg, 0, 100)
      val sym = spg.flatMap(SpaceGroups.unicodeSymbol.get)
      outcome(m.bohrium.filter { c =>
        want.forall(w => if (fuzzy) c.formula.contains(w) else c.formula == w) &&
        sym.forall(_ == c.spaceSymbol) &&
        lo.forall(c.bandGap >= _) && hi.forall(c.bandGap <= _)
      }.sortBy(_.formationEnergy).map(_.id), n)
    case OpenlamCall(f, lo, hi, t0, t1, n, _) =>
      val want = f.map(graft.functions.Formulas.normalizeFormula)
      def ms(t: String) = Timestamp.valueOf(t).getTime
      outcome(m.openlam.filter { s =>
        want.forall(_ == s.formula) && lo.forall(s.energy >= _) && hi.forall(s.energy <= _) &&
        t0.forall(s.submittedMs >= ms(_)) && t1.forall(s.submittedMs <= ms(_))
      }.sortBy(_.id).map(_.id.toString), n)
    case MofsCall(db, vf, sa, n, _) =>
      def in(x: Option[Double], b: (Option[Double], Option[Double])) =
        (b._1.isEmpty && b._2.isEmpty) || x.exists(v => b._1.forall(v >= _) && b._2.forall(v <= _))
      val ok = m.mofs.filter(x => db.forall(_ == x.database) && in(x.voidFraction, vf) &&
        in(x.saM2g, sa)).map(_.id.toString)
      val k = math.min(n, ok.size)
      Expect(if (k == 0) -9999 else 0, k, None, Some(ok.toSet), None)
    case MofsSqlCall(_, None, _, _) => Refused
    case MofsSqlCall(_, Some(t), n, _) =>
      outcome(MofFixtures.nestedDocs.filter(t.matches).sortBy(_.id).map(_.id.toString), n)
  }
}
