package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import Stats.Span

/** Closed-loop, single-client benchmark of the engine's own pipelines.
  *
  * One client thread submits one operation at a time, in an order drawn
  * from the seed, to a `local[<cores>]` session. Each operation is timed
  * from outside the engine at its layer boundaries. Before every
  * operation the cache manager, the tracked-cache registry, persisted
  * RDDs and the file-status cache are cleared, so no operation reads
  * another's work; an operation that throws counts as failed.
  *
  * A run is set-up (session, input opens, one cold pass that also checks
  * every output outside its timing, two warm passes), then measured
  * passes until `--seconds` have elapsed.
  * `--trace 0` reports the end-to-end metrics with no listener attached;
  * `--trace 1` attaches the listeners and reports the per-layer metrics.
  * The last line of standard output is the JSON result; a human-readable
  * table goes to standard error. Exits 1 when any output is wrong.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  */
object Main {

  final case class OpResult(pass: Int, op: Int, name: String, ns: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.Names.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"

    val benchDir = Paths.get(sys.props.getOrElse("etlbench.dir", "etlbench")).toAbsolutePath
    val work = benchDir.resolve("work")
    deleteTree(work.resolve(workload))
    Files.createDirectories(work.resolve(workload))

    val spark = session(workload, benchDir)
    val result = try {
      val tr = new Trace(spark, traced)
      val wl = Workloads(workload, spark, benchDir, work.resolve(workload), seed)
      new Run(spark, tr, wl, seed, seconds).execute()
    } finally spark.stop()

    val (metrics, report) =
      if (traced) result.layerMetrics() else result.endToEnd()
    System.err.println(report)
    if (traced) result.writeSpans(work.resolve(workload).resolve(s"spans-seed$seed.json"))
    val failed = result.ops.count(_.error.nonEmpty)
    val json = metrics.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": ${result.ops.size}, "failed": $failed, "metrics": $json}""")
    if (failed > 0) sys.exit(1)
  }

  /** A `local[<cores>]` session with the engine's extensions, one
    * shuffle partition per core, and every local file it writes under the
    * benchmark's work directory. */
  def session(workload: String, benchDir: Path): SparkSession = {
    val work = benchDir.resolve("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"etlbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve(workload).resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: --workload <${Workloads.Names.mkString("|")}> --seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric value $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Unpersists everything a previous operation left behind, so every
    * operation pays for its own work. */
  def clearCaches(spark: SparkSession): Unit = {
    graft.ops.TrackedCache.release(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    org.apache.spark.GraftSparkShim.clearFileStatusCache()
  }
}

/** One benchmark run: set-up, the cold pass, then measured passes. */
final class Run(spark: SparkSession, tr: Trace, wl: Workload, seed: Long, seconds: Double) {
  import Main.OpResult

  val ops = ArrayBuffer[OpResult]()
  private val residueMb = scala.collection.mutable.Map[Int, Double]()
  private var nextOp = 0
  /** Inputs opened this many times in set-up; the median is reported. */
  private val openRounds = if (tr.traced) 3 else 1
  private var openRoundsNs = Seq.empty[Long]
  private var openJobs = 0L
  private var setupNs = 0L
  /** Time spent in output checks so far, which set-up does not count. */
  private var checkNs = 0L
  private var measuredPasses = 0

  private def order(pass: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + pass).shuffle(wl.ops)

  def execute(): Run = {
    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    openRoundsNs = (1 to openRounds).map { _ =>
      org.apache.spark.GraftSparkShim.clearFileStatusCache()
      val jobsBefore = tr.collector.map(_.jobs.size).getOrElse(0)
      val t0 = tr.now()
      wl.open(tr)
      val ns = tr.now() - t0
      tr.drain()
      openJobs = tr.collector.map(_.jobs.size - jobsBefore).getOrElse(0).toLong
      ns
    }
    val openedNs = tr.now() - jvmStartNs
    runPass(0, check = true)
    (1 to Run.WarmPasses).foreach(w => runPass(-w, check = false))
    setupNs = tr.now() - jvmStartNs - checkNs
    System.err.println(f"set-up: ${(openedNs - openRoundsNs.sum) / 1e9}%.3f s to a ready session, " +
      f"${openRoundsNs.sum / 1e9}%.3f s opening inputs, ${passSeconds(0)}%.3f s cold pass")
    // measure for `seconds`, and at least MinPasses passes
    val start = System.nanoTime()
    var pass = 1
    while ((System.nanoTime() - start) / 1e9 < seconds || pass <= Run.MinPasses) {
      runPass(pass, check = false)
      pass += 1
    }
    measuredPasses = pass - 1
    this
  }

  private def runPass(pass: Int, check: Boolean): Unit = order(pass).foreach { op =>
    Main.clearCaches(spark)
    val id = nextOp
    nextOp += 1
    tr.op = id
    tr.collector.foreach(_.op = id)
    val outcome =
      try Right(tr.span("op", op.name)(op.run(tr, check)))
      catch { case e: Throwable => Left(e) }
    val ns = tr.spans.last.end - tr.spans.last.start
    tr.drain()
    if (tr.traced) residueMb(id) =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    val checkStart = System.nanoTime()
    val error = outcome match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      case Right(verify) =>
        try verify() catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}") }
    }
    checkNs += System.nanoTime() - checkStart
    error.foreach(m => System.err.println(s"FAILED ${op.name} (pass $pass): $m"))
    ops += OpResult(pass, id, op.name, ns, error)
  }

  private def measured: Seq[OpResult] = ops.filter(_.pass >= 1).toSeq
  private def passSeconds(p: Int): Double = ops.filter(_.pass == p).map(_.ns).sum / 1e9

  /** The end-to-end metrics of an untraced run. */
  def endToEnd(): (Seq[(String, (Double, String))], String) = {
    val lat = measured.map(_.ns / 1e9)
    val m = Seq(
      "setup_s" -> (setupNs / 1e9, "s"),
      "cold_pass_s" -> (passSeconds(0), "s"),
      "pass_s" -> (Stats.median((1 to measuredPasses).map(passSeconds)), "s"),
      "op_p50_s" -> (Stats.median(lat), "s"),
      "rss_peak_mb" -> (Run.vmHwmMb(), "MB"))
    // too few operations for a tail worth a bound; shown, not reported
    val tail = Stats.tail(lat, Run.TailBeyond)
      .fold("none")(t => f"p${t._1} = ${t._2}%.4f s")
    (m, report(m, s"${lat.size} operations over $measuredPasses measured passes; " +
      s"highest percentile with ${Run.TailBeyond} samples beyond it: $tail"))
  }

  private def report(m: Seq[(String, (Double, String))], note: String): String = {
    val perOp = measured.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      f"  $n%-32s ${Stats.median(rs.map(_.ns / 1e9))}%9.4f s  (n=${rs.size})"
    }
    val passes = (0 to measuredPasses).map(p => f"${passSeconds(p)}%.3f").mkString(" ")
    (m.map { case (k, (v, u)) => f"$k%-28s $v%16.6f $u" } ++
      Seq(note, s"pass seconds, cold first: $passes", "median latency per operation:") ++ perOp)
      .mkString("\n")
  }

  /** Spans of the given operations: the harness's own, plus, in a traced
    * run, the planning of every Dataset action the engine ran and every
    * scheduler stage, each placed under the harness span it ran in. */
  private def spansOf(opIds: Set[Int]): Seq[Span] = {
    val own = tr.spans.filter(s => opIds(s.op)).toSeq
    val c = tr.collector.get
    val byOp = own.groupBy(_.op)
    val opOfSpan = own.map(s => s.id -> s.op).toMap
    // deepest harness span of the operation that contains time t
    def under(op: Int, t: Long): Int =
      byOp.getOrElse(op, Nil).filter(s => s.start <= t && t < s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
    var id = Int.MaxValue / 2
    def fresh(): Int = { id += 1; id }
    val planning = c.executed.asScala.toSeq.filter(e => opIds(e.op) && e.planEnd > e.planStart).map { e =>
      Span(fresh(), under(e.op, e.planStart), e.op, "plan", "plans.action", e.planStart, e.planEnd)
    }
    val stages = c.stageList.filter(a => opOfSpan.contains(a.span) && a.end > a.start).map { a =>
      Span(fresh(), a.span, opOfSpan(a.span), Stats.Overlapping, a.name, a.start, a.end)
    }
    own ++ planning ++ stages
  }

  /** The per-layer metrics of a traced run: each is computed per measured
    * pass, and the median over the passes is reported. */
  def layerMetrics(): (Seq[(String, (Double, String))], String) = {
    val c = tr.collector.get
    val perPass = (1 to measuredPasses).map { p =>
      val opIds = ops.filter(_.pass == p).map(_.op).toSet
      val spans = spansOf(opIds)
      val spanIds = spans.map(_.id).toSet
      def dur(ss: Seq[Span]): Double = ss.map(s => s.end - s.start).sum / 1e9
      def layer(l: String) = spans.filter(_.layer == l)
      val opWall = dur(layer("op"))
      val construct = layer("construct")
      val constructIds = construct.map(_.id).toSet
      val execIds = spans.filter(s => s.layer == "exec" || s.layer == "ref").map(_.id).toSet
      val stages = c.stageList.filter(a => spanIds(a.span))
      val plans = (tr.finalPlans.filter(x => opIds(x._1)).map(_._2) ++
        c.executed.asScala.filter(e => opIds(e.op)).map(_.plan)).foldLeft(Trace.NoPlan)(_ + _)
      val skewStages = stages.filter(_.tasks >= 2)
      val refills = Stats.refills(c.blockWrites.asScala.toSeq.filter(e => opIds(e._1)))
      val self = Stats.selfTimes(spans)
      def selfS(l: String): Double = self.getOrElse(l, 0L) / 1e9
      Seq(
        "queries.construct_s" -> (dur(construct), "s"),
        "queries.construct_jobs" -> (c.jobs.asScala.count(constructIds).toDouble, "count"),
        "queries.construct_share" -> (dur(construct) / opWall, "ratio"),
        "plans.plan_s" -> (dur(layer("plan")), "s"),
        "plans.nodes" -> (plans.nodes.toDouble, "count"),
        "plans.exchanges" -> (plans.exchanges.toDouble, "count"),
        "plans.graft_nodes" -> (plans.graftNodes.toDouble, "count"),
        "exec.exec_s" -> (dur(spans.filter(s => execIds(s.id))) -
          dur(layer("plan").filter(s => execIds(s.parent))), "s"),
        "exec.stages" -> (stages.size.toDouble, "count"),
        "exec.tasks" -> (stages.map(_.tasks).sum.toDouble, "count"),
        "exec.sched_delay_s" -> (stages.map(_.schedDelayMs).sum / 1e3, "s"),
        "exec.task_cpu_s" -> (stages.map(_.cpuNs).sum / 1e9, "s"),
        "exec.gc_s" -> (stages.map(_.gcMs).sum / 1e3, "s"),
        "exec.slowest_stage_s" -> (stages.map(a => a.end - a.start).maxOption.getOrElse(0L) / 1e9, "s"),
        "exec.task_skew" -> (if (skewStages.isEmpty) 1.0
          else skewStages.map(_.durMaxMs.toDouble).sum /
            skewStages.map(a => a.durSumMs.toDouble / a.tasks).sum.max(1e-9), "ratio"),
        "exec.shuffle_write_bytes" -> (stages.map(_.shuffleWrite).sum.toDouble, "bytes"),
        "exec.shuffle_read_bytes" -> (stages.map(_.shuffleRead).sum.toDouble, "bytes"),
        "exec.shuffle_records" -> (stages.map(_.shuffleRecords).sum.toDouble, "count"),
        "exec.spill_bytes" -> (stages.map(_.spill).sum.toDouble, "bytes"),
        "exec.input_records" -> (stages.map(_.inputRecords).sum.toDouble, "count"),
        "exec.output_bytes" -> (stages.map(_.outputBytes).sum.toDouble, "bytes"),
        "exec.broadcast_bytes" -> (plans.broadcastBytes.toDouble, "bytes"),
        "exec.peak_exec_mem_bytes" -> (stages.map(_.peakMem).maxOption.getOrElse(0L).toDouble, "bytes"),
        "cache.blocks_written" -> (refills.written.toDouble, "count"),
        "cache.refill_ratio" -> (refills.ratio, "ratio"),
        "cache.residual_mb" -> (opIds.toSeq.map(residueMb.getOrElse(_, 0.0)).sum, "MB"),
        "ref.enriched_stats_s" -> (dur(spans.filter(_.name == "ref.enriched_stats")), "s"),
        "ref.control_stats_s" -> (dur(spans.filter(_.name == "ref.control_stats")), "s"),
        "ref.export_s" -> (dur(spans.filter(_.name == "ref.export")), "s"),
        "ref.publish_s" -> (dur(spans.filter(_.name == "ref.publish")), "s"),
        "self.harness_s" -> (selfS("op"), "s"),
        "self.construct_s" -> (selfS("construct"), "s"),
        "self.plan_s" -> (selfS("plan"), "s"),
        "self.exec_s" -> (selfS("exec") + selfS("ref"), "s"),
        "self.stages_s" -> (selfS(Stats.Overlapping), "s"),
        "trace.pass_s" -> (opWall, "s"))
    }
    val names = perPass.head.map(_._1)
    val m = Seq(
      "tables.open_s" -> (Stats.median(openRoundsNs.map(_ / 1e9)), "s"),
      "tables.open_jobs" -> (openJobs.toDouble, "count")) ++
      names.map { n =>
        val vs = perPass.map(_.find(_._1 == n).get._2)
        n -> (Stats.median(vs.map(_._1)), vs.head._2)
      }
    // per pass, the layers' self times must add up to the operations' wall time
    val selfNames = Seq("self.harness_s", "self.construct_s", "self.plan_s", "self.exec_s", "self.stages_s")
    val gap = perPass.map { ms =>
      val v = ms.toMap
      math.abs(selfNames.map(v(_)._1).sum - v("trace.pass_s")._1)
    }.max
    (m, report(m, f"per pass, self times differ from operation wall time by at most $gap%.6f s " +
      s"(medians over $measuredPasses measured passes; spill should read 0)"))
  }

  /** Writes every span of the run as JSON, one object per line. */
  def writeSpans(path: Path): Unit = {
    val all = spansOf(ops.map(_.op).toSet) ++ tr.spans.filter(_.op < 0)
    val lines = all.sortBy(s => (s.start, s.id)).map { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": "${s.layer}", "name": "$name", "start_ns": ${s.start}, "end_ns": ${s.end}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.asJava)
  }
}

object Run {
  val TailBeyond = 10
  /** Measured passes a run makes at least, so the medians of `pass_s`
    * and `op_p50_s` do not rest on one pass. */
  val MinPasses = 4
  /** Unmeasured passes after the cold one. The JIT keeps compiling for
    * tens of seconds after start-up; without them the measured passes
    * straddle the step where its backlog drains. */
  val WarmPasses = 2

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
