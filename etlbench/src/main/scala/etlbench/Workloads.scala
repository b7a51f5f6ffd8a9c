package etlbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.ref.{IcpeSiretisation, PublishOpenData, Schemas, Sources}

/** One unit the closed loop submits and times. `run` does the timed
  * work and returns the output check, which the harness calls after the
  * timing ends; it yields a mismatch message when the output is wrong.
  * `check` asks for the checks that cost a second execution (query
  * digests), which only the cold pass makes; the cheap checks run every
  * time. */
trait Op {
  def name: String
  def run(tr: Trace, check: Boolean): () => Option[String]
}

/** A workload: its operations, and the inputs they read, opened once in
  * set-up. */
trait Workload {
  def ops: Seq[Op]
  /** Opens every input once; called in set-up, one span per input. */
  def open(tr: Trace): Unit
}

object Workloads {
  val Names: Seq[String] = Seq("siretisation", "relational_short", "llm_curation")

  /** Ten of the 22 parity queries (aggregation, left and broadcast joins,
    * dedup, regex, windows, top-k, JSON, the events table and the flagship
    * star join), then two sub-second star-schema queries over orders and
    * customer that build no index. */
  val RelationalShort: Seq[String] = Seq(
    "q01_agg_sum", "q03_join_left", "q04_join_inner_bcast", "q07_dedup_keep_first",
    "q12_regex_extract", "q15_window_rank", "q18_topk", "q20_json_extract_agg",
    "q21_events_hourly", "q22_star_join_revenue",
    "q39_pivot", "q80_full_outer_join")

  /** Dedup and curation queries: MinHash-LSH pairs (a bucket-stream
    * kernel), source overlap (gram census and a persisted-frame fill) and
    * a duplicate-graph transitivity check behind a driver gate. An odd
    * number of operations keeps the median inside one query's samples. */
  val LlmCuration: Seq[String] = Seq(
    "q29_minhash_lsh_pairs", "q142_source_overlap", "q164_dupgraph_transitivity")

  def apply(name: String, spark: SparkSession, benchDir: Path, workDir: Path, seed: Long): Workload =
    name match {
      case "relational_short" => new QueryWorkload(spark, benchDir, name, RelationalShort)
      case "llm_curation" => new QueryWorkload(spark, benchDir, name, LlmCuration)
      case "siretisation" => new Siretisation(spark, workDir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
    }
}

/** Registered engine queries over the committed fixture tables. Each
  * operation constructs the query, plans it, and runs the compiled plan;
  * in a checked run, the check then executes the plan once more, after
  * the timing, and folds its output into a digest compared with the one
  * committed for that query. */
final class QueryWorkload(spark: SparkSession, benchDir: Path, workload: String,
                          names: Seq[String]) extends Workload {
  private val inputDir: String = QueryWorkload.fixtureDir(benchDir)
  private val expected: Map[String, String] = Outputs.digests(benchDir, workload)
  private val registry = graft.SparkEntry.queries

  def open(tr: Trace): Unit = graft.Tables.names.foreach { t =>
    tr.span("tables", s"tables.open.$t") {
      // events goes through its loader, which handles both fixture generations
      if (t == "events") graft.Tables.events(spark, inputDir).schema
      else graft.Tables.load(spark, inputDir, t).schema
    }
  }

  val ops: Seq[Op] = names.map { n =>
    val fn = registry.getOrElse(n, throw new IllegalArgumentException(s"no registered query $n"))
    new Op {
      val name: String = n
      def run(tr: Trace, check: Boolean): () => Option[String] = {
        val df = tr.span("construct", "queries.construct")(fn(spark, inputDir))
        tr.span("plan", "plans.plan")(df.queryExecution.executedPlan)
        tr.span("exec", "exec.exec")(df.queryExecution.toRdd.count())
        tr.plan(df)
        if (!check) () => None
        else () => {
          val got = Digest.of(df)
          expected.get(n) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"digest $got, expected $want")
            case None => Some(s"digest $got, none committed")
          }
        }
      }
    }
  }
}

object QueryWorkload {
  /** The committed copy of the engine's sf0.01 fixture tables. */
  def fixtureDir(benchDir: Path): String = benchDir.resolve("fixtures").resolve("sf0.01").toString
}

/** The paper's DAG pair, `icpe_etl_dag` then `publish_open_data_etl`, on
  * CSVs the seeded generator writes in set-up. Each operation reads its
  * sources, builds its frames and makes its public calls; the results are
  * checked, on every pass, against the counts the generator computed
  * from its rows. */
final class Siretisation(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  /** National-registry order of magnitude (10^5 installation rows). */
  val Installations = 100000
  private val outDir = dir.resolve("output")
  private var expected: IcpeGen.Expected = _
  private var files: IcpeGen.Files6 = _

  private val companySchema = StructType(Seq(
    StructField("siret", org.apache.spark.sql.types.StringType),
    StructField("nom", org.apache.spark.sql.types.StringType),
    StructField("address", org.apache.spark.sql.types.StringType),
    StructField("date_inscription", DateType),
    StructField("companyTypes", org.apache.spark.sql.types.StringType),
    StructField("verificationStatus", org.apache.spark.sql.types.StringType)))

  def open(tr: Trace): Unit = {
    if (files == null) {
      val (f, e) = tr.span("setup", "setup.generate")(IcpeGen.generate(dir.resolve("input"), seed, Installations))
      files = f
      expected = e
    }
    tr.span("tables", "tables.open.etablissement")(etablissements.schema)
    tr.span("tables", "tables.open.installation")(installations.schema)
    tr.span("tables", "tables.open.rubrique")(rubriques.schema)
    tr.span("tables", "tables.open.gerep")(gerep.schema)
    tr.span("tables", "tables.open.company")(company.schema)
    tr.span("tables", "tables.open.anonymous")(anonymous.schema)
  }

  private def etablissements: DataFrame =
    Sources.icpeCsv(spark, files.etablissement.toString, Schemas.etablissementRaw)
      .select(Schemas.etablissementKeep.map(col): _*)
  private def installations: DataFrame = Sources.icpeCsv(spark, files.installation.toString, Schemas.installation)
  private def rubriques: DataFrame = Sources.icpeCsv(spark, files.rubrique.toString, Schemas.rubrique)
  private def gerep: DataFrame = Sources.headeredCsv(spark, files.gerep.toString, Schemas.gerep)
  private def company: DataFrame = Sources.icpeCsv(spark, files.company.toString, companySchema)
  private def anonymous: DataFrame =
    Sources.icpeCsv(spark, files.anonymous.toString, Schemas.anonymousCompany)

  private def enriched: DataFrame = IcpeSiretisation.enrichedInstallations(
    installations, etablissements, gerep, company.select("siret", "nom", "address"))

  /** `make_stats` on the enriched installations and on the un-enriched
    * control branch: the reference's one report, two calls. */
  private val statsOp: Op = new Op {
    val name = "make_stats"
    def run(tr: Trace, check: Boolean): () => Option[String] = {
      val (withSiret, control, rub) = tr.span("construct", "queries.construct")(
        (enriched, IcpeSiretisation.enrichInstallations(installations, etablissements),
          IcpeSiretisation.enrichRubriques(rubriques)))
      def counts(s: IcpeSiretisation.IcpeStats) =
        IcpeGen.IcpeCounts(s.nbInstallationsTd, s.nbNoSiret, s.nbSiretsUniques)
      val e = counts(tr.span("ref", "ref.enriched_stats")(IcpeSiretisation.makeStats(withSiret, rub)))
      val c = counts(tr.span("ref", "ref.control_stats")(IcpeSiretisation.makeStats(control, rub)))
      () =>
        if (e != expected.enriched) Some(s"enriched stats $e, expected ${expected.enriched}")
        else if (c != expected.control) Some(s"control stats $c, expected ${expected.control}")
        else None
    }
  }

  private def writeOp(opName: String, frame: => DataFrame, singleFile: Boolean, want: => Long): Op = new Op {
    val name: String = opName
    def run(tr: Trace, check: Boolean): () => Option[String] = {
      val out = outDir.resolve(opName)
      val df = tr.span("construct", "queries.construct")(frame)
      tr.span("ref", s"ref.$opName")(Sources.writeCsv(df, out.toString, singleFile))
      () => {
        val got = Outputs.csvRows(out)
        if (got == want) None else Some(s"$got rows written, expected $want")
      }
    }
  }

  val ops: Seq[Op] = Seq(
    statsOp,
    writeOp("export", enriched, singleFile = false, expected.exportRows),
    writeOp("publish", PublishOpenData.etablissementsInscrits(
      company.select("siret", "date_inscription", "companyTypes", "nom", "verificationStatus"),
      anonymous), singleFile = true, expected.publishRows))
}

/** Expected outputs: committed digests, and row counts of written CSVs. */
object Outputs {
  import scala.jdk.CollectionConverters._

  def digests(benchDir: Path, workload: String): Map[String, String] = {
    val f = benchDir.resolve("digests.json").toFile
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get(workload)
    if (node == null) Map.empty
    else node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** Data rows in a directory of headered CSV part files. */
  def csvRows(dir: Path): Long = {
    val parts = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq
    parts.map { p =>
      val lines = Files.lines(p)
      try math.max(0L, lines.count() - 1) finally lines.close()
    }.sum
  }
}
