package etlbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import Stats.Span

/** Span recorder. Spans are kept in memory and written out once, at
  * exit. Every operation's timing goes through here, traced or not;
  * only a traced run registers the listeners that add scheduler stages,
  * task counters, block writes and executed plans. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Wall clock in epoch nanoseconds, on the same scale as the
    * scheduler's millisecond stage times. */
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var open: List[Int] = Nil
  @volatile var op: Int = -1

  def span[A](layer: String, name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      spans += Span(id, parent, op, layer, name, t0, t1)
    }
  }

  val collector: Option[Collector] =
    if (!traced) None
    else {
      val c = new Collector
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }

  /** Final executed plans of the operations that hold their own
    * DataFrame, keyed by operation. */
  val finalPlans = ArrayBuffer[(Int, PlanStats)]()
  def plan(df: org.apache.spark.sql.DataFrame): Unit =
    if (traced) finalPlans += (op -> planStats(df.queryExecution.executedPlan))

  /** Waits until the listeners have seen every event posted so far, so
    * the counters read next belong to the work that just ended. */
  def drain(): Unit = if (traced) org.apache.spark.GraftSparkShim.drainListenerBus(sc)
}

object Trace {
  val SpanKey = "etlbench.span"

  /** Task counters of one scheduler stage. */
  final class StageAgg(val span: Int) {
    var name = ""
    var start = 0L
    var end = 0L
    var tasks = 0L
    var schedDelayMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var shuffleRecords = 0L
    var spill = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var peakMem = 0L
    var durSumMs = 0L
    var durMaxMs = 0L
  }

  /** A query the engine ran through a Dataset action (a collect, a
    * count, a write — including those inside the engine's own calls). */
  final case class Executed(op: Int, planStart: Long, planEnd: Long, plan: PlanStats)

  final case class PlanStats(nodes: Long, exchanges: Long, graftNodes: Long, broadcastBytes: Long) {
    def +(o: PlanStats): PlanStats = PlanStats(nodes + o.nodes, exchanges + o.exchanges,
      graftNodes + o.graftNodes, broadcastBytes + o.broadcastBytes)
  }
  val NoPlan: PlanStats = PlanStats(0, 0, 0, 0)

  /** Walks an executed plan, descending into adaptive query stages and
    * subqueries. Codegen and adaptive wrappers are not counted; a reused
    * exchange counts once, where it is first computed. */
  def planStats(root: SparkPlan): PlanStats = {
    def graft(x: AnyRef): Boolean = x.getClass.getName.startsWith("graft.")
    def walk(p: SparkPlan): PlanStats = {
      val here = p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec | _: InputAdapter =>
          NoPlan
        case _ =>
          val g = (if (graft(p)) 1 else 0) + p.expressions.map(_.collect { case e if graft(e) => e }.size).sum
          val bytes = p match {
            case b: BroadcastExchangeLike => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
            case _ => 0L
          }
          val exch = p match {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
            case _ => 0
          }
          PlanStats(1, exch, g, bytes)
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children ++ p.subqueries
      }
      kids.foldLeft(here)(_ + walk(_))
    }
    walk(root)
  }

  final class Collector extends SparkListener with QueryExecutionListener {
    /** The operation block writes are attributed to; set by the harness,
      * which drains the bus before changing it. */
    @volatile var op: Int = -1
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
    /** Spans that submitted a job, one entry per job. */
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val blockWrites = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[Executed]()

    private def agg(stageId: Int, attempt: Int): StageAgg =
      stages.computeIfAbsent((stageId, attempt), _ => new StageAgg(stageSpan.getOrDefault(stageId, -1)))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      jobs.add(span)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = agg(i.stageId, i.attemptNumber())
      a.name = if (i.rddInfos.isEmpty) i.name
        else i.rddInfos.maxBy(_.id).scope.map(_.name).getOrElse(i.name)
      a.start = i.submissionTime.getOrElse(0L) * 1000000L
      a.end = i.completionTime.getOrElse(0L) * 1000000L
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null || info == null) return
      val a = agg(e.stageId, e.stageAttemptId)
      a.synchronized {
        a.tasks += 1
        val dur = info.duration
        a.durSumMs += dur
        a.durMaxMs = math.max(a.durMaxMs, dur)
        a.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) blockWrites.add((op, b.blockId.name))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // analysis ran when the Dataset was built; optimization and
      // physical planning run at the action
      val phases = qe.tracker.phases.collect { case (k, v) if k == "optimization" || k == "planning" => v }
      val (s, e) = if (phases.isEmpty) (0L, 0L)
        else (phases.map(_.startTimeMs).min * 1000000L, phases.map(_.endTimeMs).max * 1000000L)
      executed.add(Executed(op, s, e, planStats(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def stageList: Seq[StageAgg] = stages.values.asScala.toSeq
  }
}
