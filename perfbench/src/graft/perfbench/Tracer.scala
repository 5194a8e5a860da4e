package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchHooks
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: workload pass → key → {build, write} → job →
  * stage. `trace` is shared by every span of one key (0 for the pass).
  * Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, trace: Long, kind: String,
    name: String, start: Double, end: Double)

/** Task counters summed over one stage's finished tasks. */
private final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var spillMem = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
}

private final case class JobRec(start: Long, stages: Seq[Int], var end: Long)
private final case class StageRec(tasks: Int, submitted: Long, completed: Long)

/** Records spans and per-layer counters for one traced pass, from the
  * benchmark's side of each layer boundary: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (planning phases and the
  * executed plan after AQE) and a StreamingQueryListener (micro-batch
  * progress). Everything stays in memory until the pass ends.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  private val stageAggs = new ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  def newId(): Long = { nextId += 1; nextId }

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(e.time, e.stageInfos.map(_.stageId), -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageRecs.put(i.stageId, StageRec(i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAggs.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillDisk += m.diskBytesSpilled
          a.spillMem += m.memoryBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(funcName -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(funcName -> qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(taskListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    PerfbenchHooks.drainListenerBus(sc)
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Exchange nodes of an executed plan, looking through AQE wrappers;
    * a reused exchange is not counted again. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case other => Iterator(other) ++
      (other.children ++ other.subqueries).iterator.flatMap(nodes)
  }

  private def union(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Close one key: drain the bus, attribute the jobs that started
    * inside the key's interval, emit its spans and return its counters
    * and executed-plan text. Intervals are epoch ms. */
  def endKey(key: String, keySpan: Span, build: Span, write: Option[Span])
      : (Map[String, Double], String) = {
    PerfbenchHooks.drainListenerBus(sc)
    val keyJobs = jobs.asScala.toSeq
      .filter { case (_, j) => j.start >= keySpan.start - 1 && j.start <= keySpan.end + 1 }
      .sortBy(_._1)
    val trace = keySpan.trace
    var buildJobs = 0
    var jobS = 0.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
    val keyStages = mutable.ArrayBuffer.empty[Int]
    for ((id, j) <- keyJobs) {
      val end = if (j.end > 0) j.end.toDouble else keySpan.end
      val inBuild = j.start <= build.end
      if (inBuild) buildJobs += 1
      val parent = if (inBuild) build.id else write.map(_.id).getOrElse(keySpan.id)
      val jobSpan = Span(newId(), parent, trace, "job", s"job $id", j.start.toDouble, end)
      spans += jobSpan
      jobS += (end - j.start) / 1000.0
      jobIntervals += ((j.start.toDouble, end))
      for (sid <- j.stages if !keyStages.contains(sid) && stageRecs.containsKey(sid)) {
        keyStages += sid
        val r = stageRecs.get(sid)
        spans += Span(newId(), jobSpan.id, trace, "stage", s"stage $sid",
          r.submitted.toDouble, r.completed.toDouble)
      }
    }
    keyJobs.foreach { case (id, _) => jobs.remove(id) }
    val singleTaskStageS = keyStages.map(stageRecs.get)
      .filter(_.tasks == 1).map(r => (r.completed - r.submitted) / 1000.0).sum
    keyStages.foreach(stageRecs.remove)
    val aggs = keyStages.flatMap(s => Option(stageAggs.remove(s)))
    def sum(f: StageAgg => Long): Double = aggs.map(f).sum.toDouble
    val jobUnionS = union(jobIntervals.toSeq) / 1000.0
    val wallS = (keySpan.end - keySpan.start) / 1000.0

    // planning phases and exchanges, over every query the key executed
    var analysis, optimizer, physical = 0.0
    var exchanges, rr = 0
    val planText = new StringBuilder
    var qe = qes.poll()
    while (qe != null) {
      val (fn, q) = qe
      val phases = q.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis += ms("analysis"); optimizer += ms("optimization"); physical += ms("planning")
      scala.util.Try(q.executedPlan).foreach { plan =>
        nodes(plan).foreach {
          case e: ShuffleExchangeLike =>
            exchanges += 1
            if (e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) rr += 1
          case _: BroadcastExchangeLike => exchanges += 1
          case _ =>
        }
        planText.append(s"== $fn ==\n").append(plan.treeString).append('\n')
      }
      qe = qes.poll()
    }

    // streaming micro-batches: per query, the last progress carries the
    // state totals; durations and input rows sum over batches
    val prog = Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1000.0
    val lastPerQuery = prog.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val stateRows = lastPerQuery.map(_.stateOperators.map(_.numRowsTotal).sum).sum
    val stateBytes = lastPerQuery.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum

    val counters = Map[String, Double](
      "queries.build_s" -> (build.end - build.start) / 1000.0,
      "queries.build_jobs" -> buildJobs,
      "plans.analysis_s" -> analysis / 1000.0,
      "plans.optimizer_s" -> optimizer / 1000.0,
      "plans.physical_s" -> physical / 1000.0,
      "plans.exchanges" -> exchanges,
      "plans.rr_exchanges" -> rr,
      "exec.jobs" -> keyJobs.size,
      "exec.stages" -> keyStages.size,
      "exec.tasks" -> sum(_.tasks),
      "exec.job_s" -> jobS,
      "exec.task_s" -> sum(_.runMs) / 1000.0,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1000.0,
      "exec.single_task_stage_s" -> singleTaskStageS,
      "exec.driver_gap_s" -> (wallS - jobUnionS),
      "exec.core_slot_s" -> jobUnionS * cores,
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0,
      "shuffle.spill_disk_bytes" -> sum(_.spillDisk),
      "shuffle.spill_mem_bytes" -> sum(_.spillMem),
      "scan.records" -> sum(_.inRecords),
      "scan.bytes" -> sum(_.inBytes),
      "sink.bytes" -> sum(_.outBytes),
      "sink.rows" -> sum(_.outRecords),
      "streaming.batches" -> prog.size,
      "streaming.batch_s" -> prog.map(dur(_, "triggerExecution")).sum,
      "streaming.add_batch_s" -> prog.map(dur(_, "addBatch")).sum,
      "streaming.commit_s" -> prog.map(p => dur(p, "commitOffsets") + dur(p, "walCommit")).sum,
      "streaming.input_rows" -> prog.map(_.numInputRows.toDouble).sum,
      "streaming.state_rows" -> stateRows.toDouble,
      "streaming.state_bytes" -> stateBytes.toDouble,
      "memo.storage_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
      "memo.owned_bytes" -> graft.SessionMemo.memoOwnedBytes(spark).toDouble)
    (counters, planText.toString)
  }
}
