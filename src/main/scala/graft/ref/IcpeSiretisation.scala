package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.RelationalOps

/** The "siretisation" pipeline — Spark re-expression of the reference's
  * `icpe_etl_dag` (`dags/icpe-siretisation.py:395-413`). Each Airflow
  * task body becomes a pure `DataFrame => DataFrame` stage; the pickle
  * relay between tasks disappears into one lazy plan (checkpoint with
  * `df.persist()` at the `installations` branch reuse point if a run
  * must be resumable).
  *
  * Wiring order per the reference (`:406-407`): GEREP enrichment runs
  * BEFORE Company enrichment; both feed the same conditional coalesce.
  */
object IcpeSiretisation {

  /** Code→label maps (`dags/icpe-siretisation.py:187-216`). */
  val LibSeveso: Map[String, String] = Map(
    "S" -> "Seveso", "NS" -> "Non Seveso",
    "SB" -> "Seveso Seuil Bas", "SH" -> "Seveso Seuil Haut",
    "H" -> "Seveso Seuil Haut", "B" -> "Seveso Seuil Bas")

  val FamilleIc: Map[String, String] = Map(
    "IN" -> "Industries", "BO" -> "Bovins", "PO" -> "Porcs",
    "VO" -> "Volailles", "CA" -> "Carrières")

  val Regime: Map[String, String] = Map(
    "A" -> "Soumis à Autorisation", "E" -> "Enregistrement",
    "D" -> "Soumis à Déclaration",
    "DC" -> "Soumis à Déclaration avec Contrôle périodique",
    "NC" -> "Inconnu")

  /** Rubrique lists relevant for Trackdéchets
    * (`dags/icpe-siretisation.py:316-331`). The alinea list implements
    * the INTENDED three elements: the reference's literal at `:328-329`
    * lacks a comma, so Python juxtaposition silently fuses
    * '2720_1'+'2760_1' — a recorded deviation (SURVEY.md §2.2 P5).
    */
  val RubriquesTrackdechets: Seq[String] = Seq(
    "2710", "2712", "2718", "2770", "2790", "2792", "2793", "2795", "2797", "2798")
  val RubriquesTrackdechetsAlinea: Seq[String] = Seq("2720_1", "2760_1", "2760_4")

  /** Byte-for-byte reference behavior: the missing comma at
    * `dags/icpe-siretisation.py:328-329` makes Python fuse
    * '2720_1' '2760_1' into ONE literal, so the reference actually
    * matches the fused string and never the two intended alineas. Use
    * this list instead of [[RubriquesTrackdechetsAlinea]] when strict
    * output parity against the deployed reference is required. */
  val RubriquesTrackdechetsAlineaStrictParity: Seq[String] = Seq("2720_12760_1", "2760_4")

  /** Stage `enrich_rubriques` (`dags/icpe-siretisation.py:148-160`):
    * derived `rubrique_ic_alinea` = rubrique '_' alinea, null-propagating
    * concat then filled '' (F1+F3). */
  def enrichRubriques(rubriques: DataFrame): DataFrame =
    rubriques.withColumn("rubrique_ic_alinea",
      RelationalOps.concatOrEmpty("_", col("rubrique_ic"), col("alinea")))

  /** Stage `enrich_installations` (`dags/icpe-siretisation.py:163-222`):
    * left join etablissements on codeS3ic (J1) + three dict-label columns
    * (F7). The etablissements side is the smaller dimension — broadcast
    * so the join itself adds no shuffle. A registry-sized CSV arrives in
    * fewer splits than cores (`openCostInBytes` floors the split size),
    * so a narrow fact is spread once, hash-partitioned on codeS3ic
    * ([[RelationalOps.spreadNarrowInput]]; the identity on a wide
    * input): every broadcast probe and the export write downstream then
    * run core-wide, and broadcast joins keep that partitioning, so the
    * `makeStats` keep-first window needs no exchange of its own. */
  def enrichInstallations(installations: DataFrame, etablissements: DataFrame): DataFrame =
    RelationalOps.spreadNarrowInput(installations, Seq(col("codeS3ic")))
      .join(broadcast(etablissements), Seq("codeS3ic"), "left")
      .withColumn("lib_seveso", RelationalOps.labelMap(col("seveso"), LibSeveso))
      .withColumn("famille_ic_libelle", RelationalOps.labelMap(col("familleIc"), FamilleIc))
      .withColumn("libRegime", RelationalOps.labelMap(col("regime"), Regime))

  /** GEREP keep-latest (`dags/icpe-siretisation.py:273-280`): latest
    * `Numero Siret` per s3ic code by ascending `Annee`, then the
    * missing-leading-zero fix `'0' + code` (F2). Implemented as
    * `max(struct)` — map-side combinable, unlike sort+last. Pandas
    * `.last()` skips NaN per column; `max(struct)` keeps the whole latest
    * row — equivalent when the latest year's siret is present (the
    * fixture contract), deterministic tie-break on (Annee, siret). */
  def gerepLatestSiret(gerep: DataFrame): DataFrame =
    RelationalOps.latestByAgg(
        gerep, Seq("Code établissement"),
        Seq(col("Annee")), Seq(col("Numero Siret")))
      .select(
        concat(lit("0"), col("Code établissement")).as("codeS3ic"),
        col("m.`Numero Siret`").as("gerep_siret"))

  /** Stage `get_siret_from_gerep` (`dags/icpe-siretisation.py:266-302`):
    * left join on the fixed code (J3), then conditional coalesce (P8) —
    * an invalid (short or NULL) s3icNumeroSiret is replaced by a valid
    * 14-char GEREP candidate. */
  def siretFromGerep(installations: DataFrame, gerep: DataFrame): DataFrame =
    installations
      .join(broadcast(gerepLatestSiret(gerep)), Seq("codeS3ic"), "left")
      .withColumn("s3icNumeroSiret",
        RelationalOps.coalesceValid(col("s3icNumeroSiret"), col("gerep_siret")))
      .drop("gerep_siret")

  /** Company source prep (`dags/icpe-siretisation.py:230-236`): postal
    * code regex-extracted from the address (F4). */
  def companyWithPostalCode(company: DataFrame): DataFrame =
    company.withColumn("postal_code", RelationalOps.extractPostalCode(col("address")))

  /** Stage `get_siret_from_trackdechets_company`
    * (`dags/icpe-siretisation.py:226-263`): left join on company NAME
    * (J2 — fans out on duplicate names exactly like pandas merge), P8
    * coalesce, then drop the helper columns. */
  def siretFromCompany(installations: DataFrame, company: DataFrame): DataFrame =
    installations
      .join(broadcast(companyWithPostalCode(company)),
        installations("nomEts") === col("nom"), "left")
      .withColumn("s3icNumeroSiret",
        RelationalOps.coalesceValid(col("s3icNumeroSiret"), col("siret")))
      .drop("siret", "postal_code", "address", "nom")

  /** `make_stats` join (`dags/icpe-siretisation.py:310-311`): rubriques
    * restricted to the '27' waste family (P4 — pushed below the join),
    * inner join on the nomenclature FK (J4). */
  def installationsRubriques(installations: DataFrame, rubriquesEnriched: DataFrame): DataFrame = {
    val rub = rubriquesEnriched.where(col("rubrique_ic_alinea").startsWith("27"))
    // pandas merge suffixes the colliding `id` columns _x/_y; the
    // rubrique id duplicates the join FK, so drop it instead.
    installations.join(broadcast(rub),
        installations("id_ref_nomencla_ic") === rub("id"), "inner")
      .drop(rub("id"))
  }

  /** Trackdéchets relevance filter (P5, `dags/icpe-siretisation.py:332-334`)
    * with the intended alinea list by default; `strictParity = true`
    * reproduces the reference's fused-literal behavior byte-for-byte
    * (see [[RubriquesTrackdechetsAlineaStrictParity]]). */
  def trackdechetsInstallations(instRub: DataFrame,
                                strictParity: Boolean = false): DataFrame = {
    val alineas =
      if (strictParity) RubriquesTrackdechetsAlineaStrictParity
      else RubriquesTrackdechetsAlinea
    instRub.where(
      col("rubrique_ic").isin(RubriquesTrackdechets: _*) ||
      col("rubrique_ic_alinea").isin(alineas: _*))
  }

  /** The `make_stats` report (`dags/icpe-siretisation.py:305-357`) as a
    * typed result. Dedup by codeS3ic is keep-first in pandas' arbitrary
    * post-merge order; here it is deterministic — prefer a VALID siret,
    * then lexicographic min — so stats are stable under any partitioning.
    * All three counters come from ONE aggregation job, not three
    * separate count() jobs like the reference's three scans; its plan
    * has the keep-first window's exchange on codeS3ic (satisfied by the
    * `enrichInstallations` spread when there is one) plus the two
    * exchanges of the `countDistinct` aggregation.
    */
  case class IcpeStats(nbInstallationsTd: Long, nbNoSiret: Long, nbSiretsUniques: Long) {
    def nbWithSiret: Long = nbInstallationsTd - nbNoSiret
    def pctWithSiret: Double = nbWithSiret.toDouble / nbInstallationsTd * 100
    def pctNoSiret: Double = nbNoSiret.toDouble / nbInstallationsTd * 100
    /** The reference's human-readable block (`:348-356`). */
    def report: String =
      s"""Installations déchets dangereux concernées par Trackdéchets
         |  nombre d'installations TD (n° s3ic) = $nbInstallationsTd
         |  installations TD avec siret = $nbWithSiret ($pctWithSiret %)
         |  installations TD sans siret = $nbNoSiret ($pctNoSiret %)
         |  nombre de sirets uniques = $nbSiretsUniques""".stripMargin
  }

  def makeStats(installations: DataFrame, rubriquesEnriched: DataFrame): IcpeStats = {
    val row = statsFrame(installations, rubriquesEnriched).collect()(0)
    IcpeStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** The one-row aggregation behind [[makeStats]]: keep-first per
    * codeS3ic over the Trackdéchets installations, then the three
    * counters (`nb_td`, `nb_no_siret`, `nb_sirets`). */
  private[graft] def statsFrame(installations: DataFrame, rubriquesEnriched: DataFrame): DataFrame = {
    val td = trackdechetsInstallations(installationsRubriques(installations, rubriquesEnriched))
      .select("codeS3ic", "s3icNumeroSiret")
    val deduped = RelationalOps.keepFirst(td, Seq("codeS3ic"),
      Seq(RelationalOps.isValidId(col("s3icNumeroSiret")).desc, col("s3icNumeroSiret")))
    val invalid = length(col("s3icNumeroSiret")) < 14 || col("s3icNumeroSiret").isNull
    deduped.agg(
      count(lit(1)).as("nb_td"),
      count(when(invalid, 1)).as("nb_no_siret"),
      countDistinct(when(RelationalOps.isValidId(col("s3icNumeroSiret")), col("s3icNumeroSiret"))).as("nb_sirets"))
  }

  /** Full pipeline wiring (`dags/icpe-siretisation.py:400-409`): enrich,
    * then GEREP → Company siretisation, returning the enriched
    * installations frame (stats are computed on it AND on the
    * un-enriched control branch, as the reference does).
    */
  def enrichedInstallations(installations: DataFrame, etablissements: DataFrame,
                            gerep: DataFrame, company: DataFrame): DataFrame =
    siretFromCompany(
      siretFromGerep(
        enrichInstallations(installations, etablissements), gerep),
      company)

  /** RESUMABLE pipeline wiring — the counterpart of the reference's
    * pickle relay (`dags/icpe-siretisation.py:143,152`: each Airflow
    * stage pickles its frame so a failed DAG resumes mid-way). Each
    * stage materializes as a parquet checkpoint under `ckptDir`; a
    * restarted run REUSES every completed stage (the by-name compute
    * block never executes), so a crash after stage 2 replays nothing
    * of stages 1-2. `Checkpoints.invalidate` selectively rebuilds. */
  def enrichedInstallationsResumable(spark: org.apache.spark.sql.SparkSession,
                                     ckptDir: String,
                                     installations: DataFrame, etablissements: DataFrame,
                                     gerep: DataFrame, company: DataFrame): DataFrame = {
    val enriched = Checkpoints.stage(spark, ckptDir, "enrich_installations") {
      enrichInstallations(installations, etablissements)
    }
    val withGerep = Checkpoints.stage(spark, ckptDir, "siret_from_gerep") {
      siretFromGerep(enriched, gerep)
    }
    Checkpoints.stage(spark, ckptDir, "siret_from_company") {
      siretFromCompany(withGerep, company)
    }
  }
}
