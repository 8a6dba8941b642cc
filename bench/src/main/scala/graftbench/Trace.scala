package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer attribution measured from outside the engine, through
  * Spark's public listener interfaces only:
  *  - every job, with its task totals and the innermost `graft.` frame of
  *    its call site (the layer that issued the action), or of its SQL
  *    execution's call site when Spark launched it from its own thread;
  *  - every write command, with the warehouse table it targets
  *    (`<root>/data/<table>/…`, read off the executed command's plan);
  *  - streaming query starts, batches and terminations.
  *
  * Raw records only; `run.py` aggregates them per timed step. The time
  * spent inside these callbacks is itself recorded as `callbackNs`.
  */
final class Trace extends SparkListener {
  final class Job(val id: Int, val start: Long, val layer: String, val exec: Long,
                  val rootExec: Long, val streamId: String, val stages: Int) {
    var end: Long = -1
    var tasks, taskMs, gcMs, shuffleW, inBytes, outBytes, spill = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val execLayers = mutable.HashMap[Long, String]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  val writes = mutable.ArrayBuffer[(Long, Long, String)]() // (end ms, duration ms, table)
  private var pendingWrite: Option[(Long, String)] = None
  val streamStarts = mutable.ArrayBuffer[(String, Long)]()
  val streamEnds = mutable.ArrayBuffer[(String, Long)]()
  val batches = mutable.ArrayBuffer[(String, Long, Long)]() // (query id, end ms, batch ms)
  val callbackNs = new AtomicLong()

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new Job(e.jobId, e.time, Trace.layerOf(details),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.root.id").map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").orNull, e.stageInfos.size)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.inBytes += m.inputMetrics.bytesRead
      j.outBytes += m.outputMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  })

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed(e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execLayers(s.executionId) = Trace.layerOf(s.details))
    case s: SparkListenerSQLExecutionEnd => synchronized {
      pendingWrite.foreach { case (ms, t) => writes += ((s.time, ms, t)) }
      pendingWrite = None
    }
    case _ => ()
  })

  /** Every successful command that writes under `<root>/data/<table>/`,
    * with its duration; the table is read off the executed plan's typed
    * fields (a bucketed `saveAsTable` names its location only in its
    * CatalogTable). Spark calls this while delivering the command's
    * SQL-execution-end event, on the same listener-bus thread and before
    * this trace's own listener sees that event, which then supplies the
    * exact end time. Nested commands of one write overlap in time and are
    * merged by interval union downstream.
    */
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      if (funcName == "command") Trace.planTarget(qe).foreach { t =>
        Trace.this.synchronized { pendingWrite = Some((durationNs / 1000000L, t)) }
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = timed(Trace.this.synchronized {
      streamStarts += (e.id.toString -> System.currentTimeMillis())
    })
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed(Trace.this.synchronized {
      val d = Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += ((e.progress.id.toString, System.currentTimeMillis(), d))
    })
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = timed(Trace.this.synchronized {
      streamEnds += (e.id.toString -> System.currentTimeMillis())
    })
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** A job's layer. Jobs launched from Spark's own threads (AQE stages,
    * broadcasts, subqueries) carry no engine frame: they take their SQL
    * execution's call site.
    */
  def layerOf(j: Job): String = synchronized {
    if (j.layer != "other") j.layer
    else Seq(j.exec, j.rootExec).flatMap(execLayers.get).find(_ != "other").getOrElse("other")
  }

  /** Raw records for the JSON document (times in epoch ms). */
  def toJson: Map[String, Any] = synchronized {
    val js = jobs.values.map { j =>
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "layer" -> layerOf(j),
        "stream" -> j.streamId, "stages" -> j.stages,
        "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleW, "input" -> j.inBytes, "output" -> j.outBytes,
        "spill" -> j.spill)
    }
    val ws = writes.map { case (end, ms, t) => Map("end" -> end, "ms" -> ms, "table" -> t) }
    Map("jobs" -> js.toSeq, "writes" -> ws.toSeq,
      "stream_starts" -> streamStarts.map { case (q, t) => Map("q" -> q, "t" -> t) }.toSeq,
      "stream_ends" -> streamEnds.map { case (q, t) => Map("q" -> q, "t" -> t) }.toSeq,
      "batches" -> batches.map { case (q, t, d) => Map("q" -> q, "t" -> t, "ms" -> d) }.toSeq,
      "callback_ms" -> callbackNs.get() / 1e6)
  }
}

object Trace {
  private val TablePath = """/data/([A-Za-z0-9_]+)/[0-9a-f]{8}-[0-9a-f]{4}-""".r

  /** Layer of a job: the innermost `graft.` frame of its long call site,
    * as `<package>.<Object>` below `graft.` (`graft.etl.Scd1$.foo(…)` →
    * `etl.Scd1`); "other" when no engine frame issued the action.
    */
  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map { frame =>
        val cls = frame.takeWhile(c => c != '(').split('.').dropRight(1).mkString(".")
        cls.stripPrefix("graft.").takeWhile(_ != '$')
      }.getOrElse("other")

  private val WritingNode = "InsertInto|AsSelect|SaveAs".r

  /** Table a command writes data into, from typed fields of its writing
    * node: an InsertIntoHadoopFsRelationCommand's output path, or the
    * CatalogTable location of a create-as-select / save-as-table (a plain
    * CREATE TABLE, such as a bucketed dir's registration, writes nothing).
    */
  def planTarget(qe: QueryExecution): Option[String] = {
    val roots = Seq(Try(qe.logical), Try(qe.analyzed)).flatMap(_.toOption)
    val found = mutable.ArrayBuffer[String]()
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def visit(x: Any, depth: Int, writing: Boolean): Unit = if (depth < 12) x match {
      case t: CatalogTable if writing => t.storage.locationUri.foreach(u => found += u.toString)
      case p: org.apache.hadoop.fs.Path if writing => found += p.toString
      case p: LogicalPlan if seen.add(p) =>
        val w = WritingNode.findFirstIn(p.nodeName).isDefined
        p.productIterator.foreach(visit(_, depth + 1, w))
        p.children.foreach(visit(_, depth + 1, false))
      case _ => ()
    }
    roots.foreach(visit(_, 0, false))
    found.flatMap(s => TablePath.findFirstMatchIn(s).map(_.group(1))).headOption
  }
}
