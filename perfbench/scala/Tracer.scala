package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's external tracer: a `SparkListener`, a
  * `StreamingQueryListener` and a reader of the SQL status store. It
  * records raw facts only — every job with its span, owner and call-site
  * stack, every completed stage with its task metrics, every streaming
  * progress report, and the scan metrics of every SQL execution. The
  * attribution of those facts to modules happens in `tracer.py`.
  */
final class Tracer extends SparkListener {
  private val lines = new ConcurrentLinkedQueue[String]()

  private def emit(kv: (String, Any)*): Unit = lines.add(Json.obj(kv: _*))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage is created last, so it carries this job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    emit("type" -> "job", "job" -> e.jobId, "t0" -> e.time,
      "stages" -> e.stageIds, "span" -> prop(Ops.SpanKey), "owner" -> prop(Ops.OwnerKey),
      "sql" -> prop("spark.sql.execution.id"),
      "stream" -> prop("sql.streaming.queryId"), "site" -> site)
  }

  // an SQL execution starts on the calling thread, so its call site names
  // the caller even when its jobs run on pool threads (AQE stages,
  // broadcasts, subqueries)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      emit("type" -> "sql_start", "sql" -> x.executionId, "root" -> x.rootExecutionId,
        "site" -> x.details)
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("type" -> "job_end", "job" -> e.jobId, "t1" -> e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null) emit("type" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks, "task_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_rows" -> m.outputMetrics.recordsWritten,
      "t0" -> s.submissionTime, "t1" -> s.completionTime)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      emit("type" -> "progress", "query" -> p.id.toString, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** Waits for the listener bus to drain, reads the SQL status store, and
    * writes everything as JSON lines. */
  def dump(spark: SparkSession, path: Path): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val store = spark.sharedState.statusStore
    store.executionsList().foreach { x =>
      val values = store.executionMetrics(x.executionId)
      def sum(name: String): Long = store.planGraph(x.executionId).allNodes
        .filter(_.name.startsWith("Scan"))
        .flatMap(_.metrics.filter(_.name == name))
        .flatMap(m => values.get(m.accumulatorId))
        .flatMap(v => v.replace(",", "").trim.toLongOption).sum
      emit("type" -> "sql", "sql" -> x.executionId, "jobs" -> x.jobs.keys.toSeq,
        "files_read" -> sum("number of files read"),
        "scan_rows" -> sum("number of output rows"))
    }
    val out = Files.newBufferedWriter(path, UTF_8)
    try lines.asScala.foreach { l => out.write(l); out.newLine() }
    finally out.close()
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streaming)
    t
  }
}
