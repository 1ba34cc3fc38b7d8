package layerbench

import scala.collection.mutable

import org.apache.spark.layerbench.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, gathered from outside the
  * engine by one SparkListener, one QueryExecutionListener and one
  * StreamingQueryListener.
  *
  * The benchmark is a single closed-loop client, so every event that
  * arrives between the start of a call and the drain of the listener
  * bus after it belongs to that call: [[begin]] opens a call in its
  * build phase, [[acting]] drains and moves it to its action phase, and
  * [[end]] drains again and closes it. */
final class Trace(spark: SparkSession) {
  private val MB = 1024.0 * 1024.0
  private val sc = spark.sparkContext

  /** Counters of one builder call plus its action. Mutated only while
    * holding the Trace's lock. */
  final class Call(val query: String, val startMs: Long) {
    val m: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
    val batchS = mutable.ArrayBuffer.empty[Double]
    /** streaming run id → (state rows, state bytes) at its last batch */
    val state = mutable.Map.empty[String, (Long, Long)]
    var endMs = 0L

    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v

    /** Milliseconds of the call's wall time that some task covered. */
    def coveredMs: Long = {
      var covered = 0L
      var reach = startMs
      tasks.map { case (s, e) => (s.max(startMs), e.min(endMs)) }
        .filter { case (s, e) => e > s }
        .sortBy(_._1).foreach { case (s, e) =>
          if (e > reach) { covered += e - s.max(reach); reach = e }
        }
      covered
    }

    def taskRunMs: Long = tasks.map { case (s, e) => e - s }.sum
  }

  private var call = new Call("setup", System.currentTimeMillis())
  @volatile private var building = false

  def begin(query: String): Call = synchronized {
    call = new Call(query, System.currentTimeMillis())
    building = true
    call
  }

  /** Ends the build phase of the open call. `df` is what the builder
    * returned: Spark analyzes a DataFrame when it is created, so its
    * analysis time is on its own tracker, not on the action's. */
  def acting(df: DataFrame): Unit = {
    ListenerBus.drain(sc)
    building = false
    df.queryExecution.tracker.phases.get("analysis")
      .foreach(p => add("plans.analysis_s", p.durationMs / 1e3))
  }

  def end(): Unit = {
    ListenerBus.drain(sc)
    synchronized {
      call.endMs = System.currentTimeMillis()
      call.state.values.foreach { case (rows, bytes) =>
        call.add("streaming.state_rows", rows.toDouble)
        call.add("streaming.state_mb", bytes / MB)
      }
    }
  }

  private def add(k: String, v: Double): Unit = synchronized(call.add(k, v))

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      call.add("exec.jobs", 1)
      if (building) call.add("operators.eager_jobs", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      call.add("exec.stages", 1)
      if (i.numTasks == 1)
        for (s <- i.submissionTime; c <- i.completionTime)
          call.add("exec.single_task_stage_s", (c - s) / 1e3)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      call.add("exec.tasks", 1)
      if (!e.taskInfo.successful) call.add("exec.failed_tasks", 1)
      call.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val t = e.taskMetrics
      if (t != null) {
        call.add("exec.task_cpu_s", t.executorCpuTime / 1e9)
        call.add("exec.gc_s", t.jvmGCTime / 1e3)
        call.add("exec.shuffle_write_mb", t.shuffleWriteMetrics.bytesWritten / MB)
        call.add("exec.shuffle_read_mb", t.shuffleReadMetrics.totalBytesRead / MB)
        call.add("exec.shuffle_fetch_wait_s", t.shuffleReadMetrics.fetchWaitTime / 1e3)
        call.add("exec.spill_mb", t.diskBytesSpilled / MB)
        call.add("sources.input_rows", t.inputMetrics.recordsRead.toDouble)
        call.add("sources.output_mb", t.outputMetrics.bytesWritten / MB)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis" -> "plans.analysis_s", "optimization" -> "plans.optimizer_s",
        "planning" -> "plans.planning_s").foreach { case (phase, name) =>
        phases.get(phase).foreach(p => add(name, p.durationMs / 1e3))
      }
      walk(qe.executedPlan)
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Counts exchanges by origin and joins by strategy in an executed
    * plan, descending into adaptive plans, query stages and subqueries.
    * A reused exchange moves no new data, so it is not counted. */
  private def walk(p: SparkPlan): Unit = p match {
    case _: ReusedExchangeExec =>
    case _ =>
      p match {
        case s: ShuffleExchangeLike if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
          add("plans.exchanges_ensure", 1)
        case s: ShuffleExchangeLike if s.shuffleOrigin == REPARTITION_BY_NUM =>
          add("plans.exchanges_pinned", 1)
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec =>
          add("plans.broadcast_joins", 1)
        case _: SortMergeJoinExec => add("plans.sort_merge_joins", 1)
        // the parquet reader's task metrics miss the bytes it reads, so
        // input size comes from the scan's own count of the files it read
        case f: FileSourceScanExec =>
          f.metrics.get("filesSize").foreach(m => add("sources.input_mb", m.value / MB))
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => Nil
      }
      (p.children ++ inner ++ p.subqueries).foreach(walk)
  }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        def secs(k: String): Double =
          Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        call.add("streaming.batches", 1)
        if (p.numInputRows > 0) call.add("streaming.data_batches", 1)
        call.batchS += secs("triggerExecution")
        Seq("addBatch" -> "streaming.add_batch_s", "queryPlanning" -> "streaming.query_planning_s",
          "walCommit" -> "streaming.wal_commit_s", "commitOffsets" -> "streaming.commit_offsets_s",
          "latestOffset" -> "streaming.latest_offset_s", "getBatch" -> "streaming.get_batch_s")
          .foreach { case (k, name) => call.add(name, secs(k)) }
        call.add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        call.state(p.runId.toString) =
          (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  })
}
