package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything Spark's own listeners report for one drain (or one set-up
  * phase). Spark listeners run on the listener bus; [[Tracer.take]] waits
  * for the bus to empty before reading, so a drain's events are complete. */
class Recorder {
  val jobs = mutable.ArrayBuffer[(Long, Long)]() // (start ms, end ms)
  val jobStart = mutable.Map[Int, Long]()
  var stages, tasks, failedTasks, actions = 0L
  var cpuNs, gcMs, shuffleBytes, shuffleRecords, spillBytes = 0L
  var planMs = 0.0
  val started = mutable.Map[java.util.UUID, Long]()    // run id -> nanoTime
  val terminated = mutable.Map[java.util.UUID, Long]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  /** Busy time: the union of job intervals, in ms. */
  def busyMs: Double = {
    var busy, end = 0L
    for ((s, e) <- jobs.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) busy += e - from
      end = math.max(end, e)
    }
    busy.toDouble
  }
}

class Tracer(spark: SparkSession) {
  @volatile private var rec = new Recorder

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = rec.synchronized {
      rec.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = rec.synchronized {
      rec.jobStart.remove(e.jobId).foreach(s => rec.jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rec.synchronized { rec.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec.synchronized {
      rec.tasks += 1
      if (e.reason != org.apache.spark.Success) rec.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      rec.synchronized { rec.started(e.runId) = System.nanoTime() }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      rec.synchronized { rec.progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      rec.synchronized { rec.terminated(e.runId) = System.nanoTime() }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      rec.synchronized {
        rec.actions += 1
        rec.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      rec.synchronized { rec.actions += 1 }
  }

  private var on = false
  def isOn: Boolean = on

  def attach(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  def detach(): Unit = if (on) {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    spark.listenerManager.unregister(qeListener)
    on = false
  }

  /** Everything recorded since the last take, once the bus is empty. */
  def take(): Recorder = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val r = rec
    rec = new Recorder
    r
  }
}

/** Per-drain trace rows, reduced to the per-layer metrics. */
object Layers {
  val Queries = Seq("route", "cancel", "anomalies")

  /** Every per-layer metric a traced run prints, with its unit. Drain
    * metrics are means over the traced drains. */
  val Units: Seq[(String, String)] =
    Seq("pipeline.model_load_ms" -> "ms", "pipeline.route_ms" -> "ms",
      "pipeline.cancel_ms" -> "ms", "pipeline.anomalies_ms" -> "ms",
      "pipeline.cancel_critical_share" -> "share", "pipeline.drains_traced" -> "count") ++
    Queries.flatMap(q => Seq(s"$q.batches" -> "count", s"$q.input_rows" -> "count",
      s"$q.planning_ms" -> "ms", s"$q.source_ms" -> "ms", s"$q.add_batch_ms" -> "ms",
      s"$q.wal_ms" -> "ms", s"$q.offset_commit_ms" -> "ms")) ++
    Seq("anomalies", "cancel").flatMap(q => Seq(s"$q.state_rows" -> "count",
      s"$q.state_bytes" -> "B", s"$q.state_commit_ms" -> "ms")) ++
    Seq("sources.parse_rows_per_s" -> "rows/s", "router.classify_rows_per_s" -> "rows/s",
      "state_machine.fold_rows_per_s" -> "rows/s", "scoring.rows_per_s" -> "rows/s",
      "sink.commit_ms" -> "ms", "sink.write_rows_per_s" -> "rows/s",
      "ml.model_load_ms" -> "ms") ++
    Seq("train.features_ms", "train.kmeans_sweep_ms", "train.bisecting_sweep_ms",
      "train.threshold_ms", "train.save_ms").map(_ -> "ms") ++
    Seq("train.kmeans_jobs", "train.bisecting_jobs").map(_ -> "count") ++
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.actions")
      .map(_ -> "count") ++
    Seq("spark.job_busy_ms", "spark.driver_gap_ms", "spark.task_cpu_ms", "spark.task_gc_ms",
      "spark.plan_ms").map(_ -> "ms") ++
    Seq("spark.shuffle_write_bytes" -> "B", "spark.shuffle_records" -> "count",
      "spark.spill_bytes" -> "B", "gen.lag_ms" -> "ms", "gen.backlog_lines_end" -> "lines",
      "trace.overhead_ms" -> "ms")

  /** Metrics of one traced drain: `ids` maps each query's run id to its
    * name, `entry` is `Pipeline.run`'s entry time, `wallMs` the drain. */
  def drain(r: Recorder, ids: Map[java.util.UUID, String], entry: Long,
            wallMs: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val byName = ids.map(_.swap)
    def span(q: String) = for {
      id <- byName.get(q); s <- r.started.get(id); e <- r.terminated.get(id)
    } yield (s, e)
    byName.get("route").flatMap(r.started.get)
      .foreach(s => m("pipeline.model_load_ms") = (s - entry) / 1e6)
    for (q <- Queries; (s, e) <- span(q)) m(s"pipeline.${q}_ms") = (e - s) / 1e6
    for ((_, c) <- span("cancel"); (_, a) <- span("anomalies"))
      m("pipeline.cancel_critical_share") = if (c > a) 1.0 else 0.0
    for (q <- Queries) {
      val ps = r.progress.filter(p => ids.get(p.progress.runId).contains(q)).map(_.progress)
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      m(s"$q.batches") = ps.size
      m(s"$q.input_rows") = ps.map(_.numInputRows.toDouble).sum
      m(s"$q.planning_ms") = d("queryPlanning")
      m(s"$q.source_ms") = d("latestOffset") + d("getBatch")
      m(s"$q.add_batch_ms") = d("addBatch")
      m(s"$q.wal_ms") = d("walCommit")
      m(s"$q.offset_commit_ms") = d("commitOffsets")
      if (q != "route") {
        val ops = ps.flatMap(_.stateOperators)
        m(s"$q.state_commit_ms") = ops.map(_.commitTimeMs.toDouble).sum
        ps.lastOption.map(_.stateOperators).filter(_.nonEmpty).foreach { last =>
          m(s"$q.state_rows") = last.map(_.numRowsTotal.toDouble).sum
          m(s"$q.state_bytes") = last.map(_.memoryUsedBytes.toDouble).sum
        }
      }
    }
    m ++= spark(r, wallMs)
    m.toMap
  }

  /** Scheduler and executor totals over one span of `wallMs`. */
  def spark(r: Recorder, wallMs: Double): Map[String, Double] = {
    val busy = r.busyMs
    Map(
      "spark.jobs" -> r.jobs.size.toDouble,
      "spark.stages" -> r.stages.toDouble,
      "spark.tasks" -> r.tasks.toDouble,
      "spark.failed_tasks" -> r.failedTasks.toDouble,
      "spark.job_busy_ms" -> busy,
      "spark.driver_gap_ms" -> math.max(wallMs - busy, 0.0),
      "spark.task_cpu_ms" -> r.cpuNs / 1e6,
      "spark.task_gc_ms" -> r.gcMs.toDouble,
      "spark.shuffle_write_bytes" -> r.shuffleBytes.toDouble,
      "spark.shuffle_records" -> r.shuffleRecords.toDouble,
      "spark.spill_bytes" -> r.spillBytes.toDouble,
      "spark.actions" -> r.actions.toDouble,
      "spark.plan_ms" -> r.planMs)
  }

  /** Mean of each metric over the drains that report it. */
  def mean(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map { k =>
      val vs = rows.flatMap(_.get(k))
      k -> vs.sum / vs.size
    }.toMap
}
