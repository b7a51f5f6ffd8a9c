package etlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded generator for the siretisation workload's inputs: the five
  * ICPE/GEREP/Company CSVs the paper's two DAGs read, plus the
  * AnonymousCompany list, at national-registry scale.
  *
  * The rows plant every case the pipeline branches on: valid, short and
  * missing SIRETs; GEREP codes that lost their leading zero and carry
  * several years per code; duplicate company names (join fan-out);
  * unknown and missing label codes; rubriques inside and outside the
  * '27' family, with and without alinea. The same seed gives
  * byte-identical files.
  *
  * How often each case occurs (the shares below: missing and short
  * SIRETs, GEREP coverage, name duplication, company count, dangling
  * rubrique ids, anonymous companies) is assumed, not taken from the
  * reference's data; etlbench/WORKLOADS.md lists every share with the
  * case it plants. Replace one only with a figure measured on the
  * reference's registry extracts.
  *
  * The expected results are computed here, in plain Scala from the rows
  * written, independently of the engine: that is what the benchmark
  * checks the pipeline's outputs against.
  */
object IcpeGen {

  final case class Expected(enriched: IcpeCounts, control: IcpeCounts,
                            exportRows: Long, publishRows: Long)
  /** Mirrors `IcpeSiretisation.IcpeStats`. */
  final case class IcpeCounts(nbInstallationsTd: Long, nbNoSiret: Long, nbSiretsUniques: Long)

  final case class Files6(etablissement: Path, installation: Path, rubrique: Path,
                          gerep: Path, company: Path, anonymous: Path) {
    def all: Seq[Path] = Seq(etablissement, installation, rubrique, gerep, company, anonymous)
  }

  private final case class Etab(code: String, siret: String, nom: String)
  private final case class Inst(code: String, rubId: String)
  private final case class Rub(id: String, rubrique: String, alinea: String)
  private final case class Company(siret: String, nom: String, types: String, status: String)

  private val TdRubriques = graft.ref.IcpeSiretisation.RubriquesTrackdechets.toSet
  private val TdAlineas = graft.ref.IcpeSiretisation.RubriquesTrackdechetsAlinea.toSet

  /** Writes the six inputs under `dir` and returns them with the expected
    * outputs. `installations` sets the scale; every other table follows
    * from it. */
  def generate(dir: Path, seed: Long, installations: Int): (Files6, Expected) = {
    val rnd = new scala.util.Random(seed)
    def digits(n: Int): String = {
      val sb = new StringBuilder
      (1 to n).foreach(_ => sb.append(('0' + rnd.nextInt(10)).toChar))
      sb.toString
    }
    def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
    def date(): String = s"${1 + rnd.nextInt(28)}/${1 + rnd.nextInt(12)}/${2000 + rnd.nextInt(24)}"

    val nEtab = math.max(1, installations * 2 / 5)
    val nNames = math.max(1, nEtab * 3 / 4) // fewer names than sites: duplicate nomEts
    val nCompany = math.max(1, nEtab / 2)
    // a null SIRET is written as an empty field (the reader maps it to null)
    def siret(): String = rnd.nextInt(10) match {
      case 0 | 1 | 2 => ""
      case 3 | 4 => digits(9) // short: a SIREN, not a SIRET
      case _ => digits(14)
    }
    def name(): String = s"ETS ${rnd.nextInt(nNames)}"

    val etabs = (0 until nEtab).map(i => Etab(f"0$i%09d", siret(), name()))
    val rubs = {
      val td = graft.ref.IcpeSiretisation.RubriquesTrackdechets.toIndexedSeq
      val other27 = IndexedSeq("2720", "2730", "2740", "2750", "2760", "2780")
      val outside = IndexedSeq("1185", "1510", "2910", "3110", "4331")
      val planted = IndexedSeq(Rub("R0", "2720", "1"), Rub("R1", "2760", "1"),
        Rub("R2", "2760", "4"), Rub("R3", "2760", null))
      planted ++ (planted.size until 400).map { i =>
        val r = rnd.nextInt(3) match {
          case 0 => pick(td)
          case 1 => pick(other27)
          case _ => pick(outside)
        }
        Rub(s"R$i", r, if (rnd.nextInt(4) == 0) null else (1 + rnd.nextInt(4)).toString)
      }
    }
    val insts = (0 until installations).map { _ =>
      // 1 in 50 points at a rubrique id that does not exist (inner join drops it)
      val rub = if (rnd.nextInt(50) == 0) s"X${rnd.nextInt(100)}" else pick(rubs).id
      Inst(pick(etabs).code, rub)
    }
    // GEREP: about half the sites, one to four years each, code written
    // without its leading zero; plus codes that match no site
    val gerep: IndexedSeq[(String, String, String)] =
      etabs.filter(_ => rnd.nextBoolean()).flatMap { e =>
        val years = rnd.shuffle((2015 to 2021).toIndexedSeq).take(1 + rnd.nextInt(4))
        years.map(y => (e.code.substring(1), if (rnd.nextInt(6) == 0) digits(9) else digits(14), y.toString))
      } ++ (0 until nEtab / 20).map(i => (f"9$i%08d", digits(14), "2020"))
    val companies = (0 until nCompany).map { _ =>
      val types = pick(IndexedSeq("{PRODUCER}", "{PRODUCER,TRANSPORTER}", "{TRANSPORTER}",
        "{WASTEPROCESSOR}", "{COLLECTOR,PRODUCER}"))
      val status = pick(IndexedSeq("VERIFIED", "TO_BE_VERIFIED", "LETTER_SENT"))
      Company(if (rnd.nextInt(10) == 0) digits(9) else digits(14), name(), types, status)
    }
    val anonymous = companies.filter(_ => rnd.nextInt(8) == 0).map(_.siret) ++
      (0 until nCompany / 20).map(_ => digits(14))

    Files.createDirectories(dir)
    def write(file: String, lines: Iterator[String]): Path = {
      val p = dir.resolve(file)
      val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
      p
    }
    val seveso = IndexedSeq("S", "NS", "SB", "SH", "H", "B", "XX", "")
    val regime = IndexedSeq("A", "E", "D", "DC", "NC", "ZZ", "")
    val famille = IndexedSeq("IN", "BO", "PO", "VO", "CA", "QQ", "")
    val files = Files6(
      write("IC_etablissement.csv", etabs.iterator.map { e =>
        // the raw columns of Schemas.etablissementRaw, in order
        Seq(e.code, e.siret, digits(6), digits(7), s"${rnd.nextInt(18)}", e.nom,
          digits(5), digits(5), s"${1 + rnd.nextInt(5)}", s"${digits(2)}.${digits(2)}Z",
          s"COMMUNE ${rnd.nextInt(3000)}", pick(seveso), pick(regime), "", "", "",
          pick(famille), "", "", s"${1 + rnd.nextInt(200)} RUE ${rnd.nextInt(900)}", "",
          date(), "", "", "").mkString(";")
      }),
      write("IC_installation_classee.csv", insts.iterator.zipWithIndex.map { case (in, i) =>
        val fin = if (rnd.nextBoolean()) "" else s"${date()} ${rnd.nextInt(24)}:${10 + rnd.nextInt(50)}:00"
        val volume = "%.2f".formatLocal(java.util.Locale.ROOT, rnd.nextInt(100000) / 100.0)
        Seq(in.code, s"I$i", volume, pick(IndexedSeq("t", "m3", "t/an")),
          if (rnd.nextInt(5) == 0) "" else date(), fin, "actif", in.rubId).mkString(";")
      }),
      write("IC_ref_nomenclature_ic.csv", rubs.iterator.map { r =>
        Seq(r.id, r.rubrique, "D", "", "", Option(r.alinea).getOrElse(""),
          s"activite ${r.id}", "A", "1", "0").mkString(";")
      }),
      write("gerep.csv", Iterator("Code établissement,Numero Siret,Annee") ++
        gerep.iterator.map { case (c, s, y) => s"$c,$s,$y" }),
      write("company.csv", companies.iterator.map { c =>
        Seq(c.siret, c.nom, s"${1 + rnd.nextInt(90)} AVENUE ${rnd.nextInt(500)} ${digits(5)} VILLE",
          date(), c.types, c.status).mkString(";")
      }),
      write("anonymous_company.csv", anonymous.iterator))

    (files, expected(etabs, insts, rubs, gerep, companies))
  }

  private def valid(s: String): Boolean = s != null && s.length == 14
  private def nullIfEmpty(s: String): String = if (s == null || s.isEmpty) null else s
  /** `RelationalOps.coalesceValid`: an invalid id is replaced by a valid
    * candidate. */
  private def coalesceValid(orig: String, cand: String): String =
    if (!valid(orig) && valid(cand)) cand else orig

  private def expected(etabs: Seq[Etab], insts: Seq[Inst], rubs: Seq[Rub],
                       gerep: Seq[(String, String, String)],
                       companies: Seq[Company]): Expected = {
    val etabByCode = etabs.map(e => e.code -> e).toMap
    // GEREP keep-latest: max of (Annee, siret) per code, then '0' + code
    val gerepLatest = gerep.groupBy(_._1).map { case (c, rows) =>
      ("0" + c) -> rows.map(r => (r._3, r._2)).max._2
    }
    val companiesByName = companies.groupBy(_.nom)
    // the '27' family joined on the nomenclature id, then the relevance filter
    val tdRub: Set[String] = rubs.filter { r =>
      val ra = if (r.alinea == null) "" else s"${r.rubrique}_${r.alinea}"
      ra.startsWith("27") && (TdRubriques(r.rubrique) || TdAlineas(ra))
    }.map(_.id).toSet

    // one (code, siret, relevant) row per enriched output row, fan-out included
    val controlRows = insts.map(i => (i.code, nullIfEmpty(etabByCode(i.code).siret), i.rubId))
    val enrichedRows = controlRows.flatMap { case (code, s0, rub) =>
      val s1 = coalesceValid(s0, gerepLatest.get(code).orNull)
      companiesByName.get(etabByCode(code).nom) match {
        case Some(cs) => cs.map(c => (code, coalesceValid(s1, c.siret), rub))
        case None => Seq((code, s1, rub))
      }
    }
    // make_stats: dedup per code preferring the smallest valid siret
    def stats(rows: Seq[(String, String, String)]): IcpeCounts = {
      val picked = rows.filter(r => tdRub(r._3)).groupBy(_._1).values.map { rs =>
        val v = rs.map(_._2).filter(valid)
        if (v.isEmpty) None else Some(v.min)
      }.toSeq
      IcpeCounts(picked.size.toLong, picked.count(_.isEmpty).toLong, picked.flatten.distinct.size.toLong)
    }
    val published = companies.count(c => c.types == "{PRODUCER}" || c.status == "VERIFIED")
    Expected(stats(enrichedRows), stats(controlRows), enrichedRows.size.toLong, published.toLong)
  }
}
