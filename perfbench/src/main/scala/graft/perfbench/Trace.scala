package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory trace of one benchmark run.
  *
  * The benchmark drives one operation at a time (closed loop), tags it
  * with its own job group and drains the listener bus before the next
  * one starts, so every listener event belongs to the operation that
  * is current when it is delivered. Spans are recorded around the
  * benchmark's calls into the engine; each Spark SQL execution carries
  * the engine functions on its call site, so its time can be charged to
  * them (`io.writeParquet`, `incremental.update`, ...).
  * Everything stays in memory and is written out once, at the end.
  */
object Trace {

  /** Id of the operation in flight (0 = between operations). */
  @volatile var opId: Int = 0

  /** Whether the operation in flight records spans and listener counts.
    * Streaming progress is always recorded: it is an end-to-end input. */
  @volatile var traced: Boolean = false

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as listener event timestamps. */
  def nowMs(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  private var nextSpan = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = nowMs()
      try body
      finally {
        stack = stack.tail
        spans.synchronized {
          spans += Map("id" -> id, "op" -> opId, "name" -> name, "parent" -> parent,
            "start_ms" -> start, "end_ms" -> nowMs(), "source" -> "call")
        }
      }
    }

  // ---- listener-side records (guarded by `this`) ----------------------

  val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val sqlExecs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blockMem = mutable.Map.empty[String, Long]
  private var blockTotal = 0L
  val peakPersisted = mutable.Map.empty[Int, Long]

  private def groupOp(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).flatMap(_.stripPrefix("op-").toIntOption)
      .getOrElse(opId)

  /** Engine frames on a call site, innermost first, as
    * `module.function` (`graft.io.IO$.writeParquet(IO.scala:108)` →
    * `io.writeParquet`; top-level objects keep their own name). */
  def engineFrames(details: String): Seq[String] = {
    val Frame = """graft\.(?:([a-z]+)\.)?([A-Za-z]+)\$?\.([A-Za-z]+)\(.*""".r
    details.linesIterator.map(_.trim).collect {
      case l @ Frame(pkg, obj, fn) if !l.startsWith("graft.perfbench") =>
        s"${Option(pkg).getOrElse(obj)}.$fn"
    }.toSeq.distinct
  }

  object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
      val op = groupOp(e.properties)
      e.stageIds.foreach(stageOp(_) = op)
      jobs(e.jobId) = mutable.Map("job" -> e.jobId, "op" -> op, "start_ms" -> e.time.toDouble,
        "stages" -> e.stageIds.size,
        "sql_exec" -> Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_("end_ms") = e.time.toDouble)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, mutable.Map[String, Any](
          "stage" -> e.stageId, "op" -> stageOp.getOrElse(e.stageId, opId)))
        def add(k: String, v: Double): Unit =
          s(k) = s.getOrElse(k, 0.0).asInstanceOf[Double] + v
        val info = e.taskInfo
        val duration = (info.finishTime - info.launchTime).toDouble
        add("tasks", 1)
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("delay_ms", math.max(0.0, duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime.max(0L)))
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        val read = m.shuffleReadMetrics.totalBytesRead
        add("shuffle_read_bytes", read.toDouble)
        add("spill_mem_bytes", m.memoryBytesSpilled.toDouble)
        add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, mutable.Map[String, Any](
        "stage" -> i.stageId, "op" -> stageOp.getOrElse(i.stageId, opId)))
      s("name") = i.name
      val reads = stageReads.remove(i.stageId).getOrElse(mutable.ArrayBuffer.empty).filter(_ > 0).sorted
      if (reads.nonEmpty) s("skew") = reads.last.toDouble / math.max(1L, reads(reads.size / 2))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val id = b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        blockTotal += size - blockMem.getOrElse(id, 0L)
        if (size == 0L) blockMem.remove(id) else blockMem(id) = size
        peakPersisted(opId) = math.max(peakPersisted.getOrElse(opId, 0L), blockTotal)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        sqlExecs(s.executionId) = mutable.Map("exec" -> s.executionId,
          "op" -> s.jobGroupId.filter(_.startsWith("op-"))
            .flatMap(_.stripPrefix("op-").toIntOption).getOrElse(opId),
          "start_ms" -> s.time.toDouble, "root" -> s.rootExecutionId.getOrElse(s.executionId),
          "frames" -> engineFrames(s.details), "description" -> s.description)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        sqlExecs.get(s.executionId).foreach(_("end_ms") = s.time.toDouble)
      }
      case _ =>
    }
  }

  // ---- executed-plan metrics ------------------------------------------

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _: ReusedExchangeExec => Seq(p)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def metricSum(nodes: Seq[SparkPlan], names: Set[String], key: String): Double =
    nodes.filter(n => names.exists(n.nodeName.startsWith))
      .flatMap(_.metrics.get(key)).map(_.value.toDouble).sum

  def recordQuery(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (traced) {
    val nodes = planNodes(qe.executedPlan)
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def writeMetric(k: String) = writes.flatMap(_.get(k)).map(_.value.toDouble).sum
    val rec = Map[String, Any](
      "op" -> opId, "exec" -> qe.id, "func" -> funcName, "duration_ms" -> durationNs / 1e6,
      "plan_ms" -> phases.values.sum,
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "sort_ms" -> metricSum(nodes, Set("Sort"), "sortTime"),
      "hashagg_ms" -> metricSum(nodes, Set("HashAggregate", "ObjectHashAggregate"), "aggTime"),
      "codegen_ms" -> metricSum(nodes, Set("WholeStageCodegen"), "pipelineTime"),
      "window_spill_bytes" -> metricSum(nodes, Set("Window"), "spillSize"),
      "join_rows_max" -> nodes.collect { case j: BaseJoinExec => j }
        .flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).foldLeft(0.0)(math.max),
      "out_files" -> writeMetric("numFiles"),
      "out_bytes" -> writeMetric("numOutputBytes"),
      "out_rows" -> writeMetric("numOutputRows"))
    synchronized { queries += rec }
  }

  def recordProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val ops = p.stateOperators.toSeq
    val rec = Map[String, Any](
      "op" -> opId, "batch" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
      "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      "state_rows_total" -> ops.map(_.numRowsTotal.toDouble).sum,
      "state_memory_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
      "state_rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
    synchronized { progress += rec }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session gets one — including the streaming runners' cloned sessions. */
class PerfQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.recordQuery(funcName, qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`
  * for the same reason: the stream runners use their own sessions. */
class PerfStreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Trace.recordProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
