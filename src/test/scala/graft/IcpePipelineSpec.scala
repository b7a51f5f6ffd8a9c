package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ref.{IcpeSiretisation, PublishOpenData, Schemas, Sources}
import graft.ops.RelationalOps

/** Golden tests for the reference-parity pipelines on synthesized
  * fixtures covering every FIXTURES.md §A edge case: valid/short/null
  * SIRET, unknown + null dict codes, duplicate company names (join
  * fan-out), GEREP keep-latest + leading-zero fix, the '27' prefix
  * filter, and the P5 comma-bug deviation (2720_1 matches under the
  * intended list). Expected numbers are hand-computed.
  */
class IcpePipelineSpec extends SparkSpec {

  private lazy val dir: Path = Files.createTempDirectory("icpe-fixtures")

  private def write(name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  // --- fixture CSVs (headerless, ;-separated, day-first dates) -------

  /** 24-column etablissement row: only the interesting fields set. */
  private def etabRow(codeS3ic: String, siret: String, nomEts: String,
                      seveso: String, regime: String, famille: String): String = {
    val cols = Schemas.etablissementRaw.fieldNames.map {
      case "codeS3ic" => codeS3ic
      case "s3icNumeroSiret" => siret
      case "nomEts" => nomEts
      case "seveso" => seveso
      case "regime" => regime
      case "familleIc" => famille
      case "codePostal" => "75011"
      case "nomCommune" => "PARIS"
      case "dateInspection" => "13/2/2020"
      case _ => ""
    }
    cols.mkString(";")
  }

  private lazy val etabPath = write("IC_etablissement.csv", Seq(
    etabRow("0001", "12345678901234", "ALPHA", "S", "A", "IN"),
    etabRow("0002", "123", "BETA", "XX", "", "BO"),     // short siret, unknown seveso, null regime
    etabRow("0003", "", "GAMMA", "NS", "NC", "ZZ"),     // null siret, unknown famille
    etabRow("0004", "", "BETA", "SB", "D", "PO")))      // null siret, duplicate nomEts

  private lazy val instPath = write("IC_installation_classee.csv", Seq(
    "0001;I1;1.5;t;13/2/2020;1/3/2021 10:30:00;actif;R1",
    "0002;I2;2.0;t;1/2/2019;;actif;R2",
    "0003;I3;0.5;t;;;actif;R3",
    "0004;I4;3.0;t;;;actif;R1",
    "0003;I5;9.9;t;;;actif;R4",
    "0002;I6;1.0;t;;;actif;R5"))

  private lazy val rubPath = write("IC_ref_nomenclature_ic.csv", Seq(
    "R1;2710;D;;;1;collecte dechets dangereux;A;1;0",
    "R2;2760;D;;;4;stockage;A;1;0",
    "R3;2760;D;;;2;stockage autre;A;1;0",     // starts 27 but in neither TD list
    "R4;1234;X;;;7;hors dechets;D;1;0",       // not 27*
    "R5;2720;D;;;1;the comma-bug alinea;A;1;0"))

  private lazy val gerepPath = write("gerep.csv", Seq(
    "Code établissement;Numero Siret;Annee",
    "002;22222222222218;2018",
    "002;22222222222219;2019",   // latest per code 002 → applied to 0002
    "003;333;2019",              // short candidate → NOT applied
    "999;77777777777777;2020"))  // no matching installation

  // gerep is ;-separated here for fixture consistency; the real sheet
  // export is ','-separated — the reader takes the schema either way.
  private def gerep = spark.read.schema(Schemas.gerep)
    .option("header", "true").option("sep", ";").csv(gerepPath)

  private def company = {
    import spark.implicits._
    Seq(
      ("99999999999999", "ALPHA", "1 RUE X 75001 PARIS"),
      ("44444444444444", "BETA", "4 RUE B 69001 LYON"),
      ("555", "BETA", "5 RUE C"),                         // short siret, dup name
      ("66666666666666", "GAMMA", "6 AV G 13001 MARSEILLE"))
      .toDF("siret", "nom", "address")
  }

  private def etablissements =
    Sources.icpeCsv(spark, etabPath, Schemas.etablissementRaw)
      .select(Schemas.etablissementKeep.map(col): _*)
  private def installations = Sources.icpeCsv(spark, instPath, Schemas.installation)
  private def rubriques = Sources.icpeCsv(spark, rubPath, Schemas.rubrique)

  private def enrichedInst: DataFrame =
    IcpeSiretisation.enrichedInstallations(installations, etablissements, gerep, company)
  private def rubEnriched: DataFrame = IcpeSiretisation.enrichRubriques(rubriques)

  // ------------------------------------------------------------ tests

  test("S3 CSV scan: explicit schema, day-first timestamps, empty→null") {
    val i1 = installations.where(col("id") === "I1").collect()(0)
    i1.getAs[java.sql.Timestamp]("date_debut_exploitation").toString should
      startWith("2020-02-13") // 13/2 is Feb 13, not Jan… month-first would fail
    i1.getAs[java.sql.Timestamp]("date_fin_validite").toString should
      startWith("2021-03-01 10:30:00")
    val i3 = installations.where(col("id") === "I3").collect()(0)
    i3.isNullAt(i3.fieldIndex("date_debut_exploitation")) shouldBe true
  }

  test("enrichRubriques: concat null-propagates then fills ''") {
    val m = IcpeSiretisation.enrichRubriques(rubriques)
      .select("id", "rubrique_ic_alinea").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    m("R1") shouldBe "2710_1"
    m("R5") shouldBe "2720_1"
  }

  test("enrichInstallations: J1 left join + three-valued labels") {
    val e = IcpeSiretisation.enrichInstallations(installations, etablissements)
    val byId = e.select("id", "lib_seveso", "famille_ic_libelle", "libRegime")
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.getString(2)), Option(r.getString(3)))).toMap
    byId("I1") shouldBe ((Some("Seveso"), Some("Industries"), Some("Soumis à Autorisation")))
    byId("I2") shouldBe ((Some(""), Some("Bovins"), None))          // unknown→'', null→null
    byId("I3") shouldBe ((Some("Non Seveso"), Some(""), Some("Inconnu")))
  }

  test("gerepLatestSiret: keep-latest by Annee + leading-zero key fix") {
    val g = IcpeSiretisation.gerepLatestSiret(gerep).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    g shouldBe Map("0002" -> "22222222222219", "0003" -> "333", "0999" -> "77777777777777")
  }

  test("siretisation: GEREP then Company coalesce with validity rules and fan-out") {
    val sirets = enrichedInst.select("id", "s3icNumeroSiret").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => Option(r.getString(1))).toSet).toMap
    sirets("I1") shouldBe Set(Some("12345678901234"))   // already valid: untouched
    sirets("I2") shouldBe Set(Some("22222222222219"))   // short→GEREP latest (both fan-out rows)
    sirets("I3") shouldBe Set(Some("66666666666666"))   // GEREP cand short; Company valid wins
    sirets("I4") shouldBe Set(Some("44444444444444"), None) // BETA fan-out: one valid, one short cand
    // fan-out row counts match pandas merge semantics
    enrichedInst.where(col("id") === "I4").count() shouldBe 2
  }

  test("installationsRubriques: '27'-prefix filter + inner join on FK") {
    val ir = IcpeSiretisation.installationsRubriques(enrichedInst, rubEnriched)
    // R4 (1234_7) drops out; I5 disappears (inner join)
    ir.where(col("id") === "I5").count() shouldBe 0
    ir.select("rubrique_ic_alinea").distinct().collect()
      .map(_.getString(0)).toSet shouldBe Set("2710_1", "2760_4", "2760_2", "2720_1")
  }

  test("trackdechets filter implements the INTENDED alinea list (P5 deviation: 2720_1 matches)") {
    val td = IcpeSiretisation.trackdechetsInstallations(
      IcpeSiretisation.installationsRubriques(enrichedInst, rubEnriched))
    td.where(col("rubrique_ic_alinea") === "2720_1").count() should be > 0L
    td.where(col("rubrique_ic_alinea") === "2760_2").count() shouldBe 0
  }

  test("strictParity reproduces the reference's fused-literal comma bug (2720_1 does NOT match)") {
    val ir = IcpeSiretisation.installationsRubriques(enrichedInst, rubEnriched)
    val strict = IcpeSiretisation.trackdechetsInstallations(ir, strictParity = true)
    // the fused literal '2720_12760_1' matches nothing real, so the
    // 2720_1 rows that pass the intended filter drop out here
    strict.where(col("rubrique_ic_alinea") === "2720_1").count() shouldBe 0
    // rows kept by the shared rubrique list or 2760_4 are unaffected
    strict.where(col("rubrique_ic_alinea") === "2760_4").count() should be > 0L
  }

  test("resumable pipeline equals the direct wiring and resumes without rewriting stages") {
    val ckpt = java.nio.file.Files.createTempDirectory("icpe-ckpt").toString
    def run() = IcpeSiretisation.enrichedInstallationsResumable(
      spark, ckpt, installations, etablissements, gerep, company)
    val direct = IcpeSiretisation.enrichedInstallations(
      installations, etablissements, gerep, company)
    val viaCkpt = run()
    viaCkpt.count() shouldBe direct.count()
    viaCkpt.select("id", "s3icNumeroSiret").orderBy("id", "s3icNumeroSiret").collect() shouldBe
      direct.select("id", "s3icNumeroSiret").orderBy("id", "s3icNumeroSiret").collect()
    // resume: _SUCCESS mtimes unchanged → completed stages were read, not rewritten
    def successMtime(name: String) =
      new java.io.File(s"$ckpt/$name/_SUCCESS").lastModified()
    val before = Seq("enrich_installations", "siret_from_gerep", "siret_from_company")
      .map(successMtime)
    run().count() shouldBe direct.count()
    Seq("enrich_installations", "siret_from_gerep", "siret_from_company")
      .map(successMtime) shouldBe before
  }

  test("PipelineMetrics.observed: stage counts ride the action, no extra scan") {
    val (obs, df) = graft.ref.PipelineMetrics.observed(
      enrichedInst, "enrich",
      count(lit(1)).as("n_rows"),
      sum(when(RelationalOps.isValidId(col("s3icNumeroSiret")), 1).otherwise(0)).as("n_valid_siret"))
    val written = df.count() // the pipeline's own action
    val m = graft.ref.PipelineMetrics.metrics(obs)
    m("n_rows") shouldBe written
    m("n_valid_siret").asInstanceOf[Long] should be > 0L
  }

  test("makeStats on enriched installations (hand-computed golden numbers)") {
    val s = IcpeSiretisation.makeStats(enrichedInst, rubEnriched)
    s.nbInstallationsTd shouldBe 3   // codes 0001, 0002, 0004
    s.nbNoSiret shouldBe 0           // dedup prefers the valid-siret row
    s.nbSiretsUniques shouldBe 3
    s.nbWithSiret shouldBe 3
    s.report should include("= 3")
  }

  test("makeStats control group (un-enriched) shows the siretisation lift") {
    val control = IcpeSiretisation.enrichInstallations(installations, etablissements)
    val s = IcpeSiretisation.makeStats(control, rubEnriched)
    s.nbInstallationsTd shouldBe 3
    s.nbNoSiret shouldBe 2           // 0002 short '123', 0004 null
    s.nbSiretsUniques shouldBe 1     // only 0001's
  }

  private val planHelper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** Shuffle exchanges below the keep-first window of `makeStats`,
    * hash-partitioned on codeS3ic. */
  private def codeS3icExchangesBelowWindow(inst: DataFrame) = {
    val plan = IcpeSiretisation.statsFrame(inst, rubEnriched).queryExecution.executedPlan
    val windows = planHelper.collect(plan) { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    windows.length shouldBe 1
    planHelper.collect(windows.head) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike if (e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name)) == Seq("codeS3ic")
          case _ => false
        }) => e
    }
  }

  test("makeStats: the narrow fixture's one spread exchange on codeS3ic also serves the window") {
    // the fixture is one CSV split on a multi-core session: narrow
    val ex = codeS3icExchangesBelowWindow(enrichedInst)
    ex.length shouldBe 1
    ex.head.shuffleOrigin shouldBe org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    ex.head.numPartitions shouldBe spark.sparkContext.defaultParallelism
    codeS3icExchangesBelowWindow(
      IcpeSiretisation.enrichInstallations(installations, etablissements)).length shouldBe 1
  }

  test("makeStats on pre-widened installations: same golden stats, no spread exchange") {
    val cores = spark.sparkContext.defaultParallelism
    val wide = installations.repartition(cores)
    RelationalOps.spreadNarrowInput(wide, Seq(col("codeS3ic"))) should be theSameInstanceAs wide
    val enriched = IcpeSiretisation.enrichedInstallations(wide, etablissements, gerep, company)
    val ex = codeS3icExchangesBelowWindow(enriched)
    ex.length shouldBe 1 // the window's own exchange
    ex.head.shuffleOrigin shouldBe org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
    IcpeSiretisation.makeStats(enriched, rubEnriched) shouldBe IcpeSiretisation.IcpeStats(3, 0, 3)
    IcpeSiretisation.makeStats(IcpeSiretisation.enrichInstallations(wide, etablissements),
      rubEnriched) shouldBe IcpeSiretisation.IcpeStats(3, 2, 1)
  }

  test("publish-open-data: P7+P3 collapse, array-literal match, J5 flag") {
    import spark.implicits._
    val company = Seq(
      ("s1", "2020-01-01", "{PRODUCER}", "N1", "TO_BE_VERIFIED"),  // forced verified
      ("s2", "2020-01-02", "{PRODUCER,TRANSPORTER}", "N2", "TO_BE_VERIFIED"), // must NOT match
      ("s3", "2020-01-03", "{TRANSPORTER}", "N3", "VERIFIED"),
      ("s4", "2020-01-04", "{WASTEPROCESSOR}", "N4", "TO_BE_VERIFIED"))
      .toDF("siret", "date_inscription", "companyTypes", "nom", "verificationStatus")
      .withColumn("date_inscription", to_date(col("date_inscription")))
    val anon = Seq("s3", "s9").toDF("siret")
    val out = PublishOpenData.etablissementsInscrits(company, anon)
      .orderBy("siret").collect()
    out.map(_.getString(0)) shouldBe Array("s1", "s3")
    out.map(r => Option(r.getAs[String]("non_diffusible"))) shouldBe Array(None, Some("oui"))
    out(0).schema.fieldNames.toSet shouldBe
      Set("siret", "date_inscription", "nom", "non_diffusible")
  }

  test("CSV sink round-trip (S7)") {
    val out = dir.resolve("export").toString
    Sources.writeCsv(PublishOpenData.filterCompanies(
      company.withColumn("companyTypes", lit("{PRODUCER}"))
             .withColumn("verificationStatus", lit("X"))), out, singleFile = true)
    val back = spark.read.option("header", "true").csv(out)
    back.count() shouldBe 4
    back.columns should contain("siret")
  }
}
