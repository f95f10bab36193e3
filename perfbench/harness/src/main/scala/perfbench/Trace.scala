package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run: spans opened by the harness around each
  * public call, plus the Spark jobs, stages, SQL executions, planning
  * phases and codegen compiles that happen inside them. Nothing is written
  * until `toJson`, which the harness calls once when the run ends.
  *
  * Recording is switched per unit of work with `on`; the harness drains
  * the listener bus before it flips the switch, so every event of a traced
  * poll is recorded and none of an untraced one. Events carry wall-clock
  * milliseconds; spans carry the same clock, so jobs are attributed to
  * spans by interval. */
final class Trace(outputRoots: Seq[(String, String)]) {
  @volatile var on = false

  private val spans = new ConcurrentLinkedQueue[Json.Obj]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Json.Obj]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Json.Obj]()
  private val sqls = new java.util.concurrent.ConcurrentHashMap[Long, Json.Obj]()
  private val phases = new ConcurrentLinkedQueue[Json.Obj]()
  private val compiles = new ConcurrentLinkedQueue[Json.Obj]()
  private val schedDelay = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private var nextSpan = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  /** Time `f` as a span named `name` under the innermost open span of
    * this thread; `unit` is the run-wide poll or query id. */
  def span[A](name: String, unit: Int)(f: => A): A =
    if (!on) f
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        stack.set(stack.get.tail)
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
          "unit" -> unit, "start" -> t0, "end" -> System.currentTimeMillis()))
      }
    }

  private def outputOf(plan: String): String =
    if (!plan.contains("InsertIntoHadoopFsRelationCommand")) ""
    else outputRoots.collectFirst { case (label, root) if plan.contains(root) => label }
      .getOrElse("other")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      // the job's result stage is named after the action's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val sql = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, Map("id" -> e.jobId, "start" -> e.time,
        "site" -> site.replaceAll(":\\d+$", ""), "sql" -> sql))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j + ("end" -> e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val i = e.taskInfo
        val m = e.taskMetrics
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.gettingResultTime else 0L))
        schedDelay.merge(e.stageId, delay, (a: Long, b: Long) => a + b)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      Option(stageJob.get(s.stageId)).filter(_ => s.taskMetrics != null)
        .foreach { job =>
          val m = s.taskMetrics
          stages.add(Map("job" -> job, "stage" -> s.stageId,
            "tasks" -> s.numTasks, "run_ms" -> m.executorRunTime,
            "sched_ms" -> Option(schedDelay.get(s.stageId)).getOrElse(0L),
            "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
            "out_bytes" -> m.outputMetrics.bytesWritten))
        }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        // an execution's description is its action's call site; under AQE
        // its jobs' own stages can be named after an async thread instead
        sqls.put(s.executionId, Map("id" -> s.executionId,
          "site" -> s.description.replaceAll(":\\d+$", ""),
          "out" -> outputOf(s.physicalPlanDescription)))
      case _ =>
    }
  }

  /** Catalyst analysis + optimisation + planning time of every action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) {
        val ph = qe.tracker.phases
        if (ph.nonEmpty)
          phases.add(Map("start" -> ph.values.map(_.startTimeMs).min,
            "ms" -> ph.values.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Codegen compile times, read from the CodeGenerator's own
    * "Code generated in X ms" log line. */
  private def captureCodegen(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (on) {
        e.getMessage.getFormattedMessage match {
          case Compiled(ms) => compiles.add(Map(
            "start" -> e.getTimeMillis, "ms" -> ms.toDouble))
          case _ =>
        }
      }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    captureCodegen()
  }

  def toJson: Json.Obj = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "sqls" -> sqls.values.asScala.toSeq,
    "phases" -> phases.asScala.toSeq,
    "compiles" -> compiles.asScala.toSeq)
}

/** A minimal JSON writer for the harness's result file. */
object Json {
  type Obj = Map[String, Any]

  def write(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
