package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory span recorder for the traced mode. Three kinds of span, each
  * with a parent:
  *   - bench spans: the benchmark's own calls into public entry points
  *     (ladder prefixes, `Pipeline.run`, each ops query); parent = the
  *     enclosing bench span;
  *   - SQL spans: one per SQL execution (QueryExecutionListener for the plan
  *     and action, SQL start/end events for wall-clock bounds); parent = the
  *     bench span that contains its start;
  *   - stage spans: one per stage (SparkListener), with run time, shuffle
  *     and spill bytes and every task's duration; parent = its SQL execution.
  * Records only while attached; nothing is written while measuring, and
  * callers read the buffers after [[detach]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val bench = mutable.ArrayBuffer.empty[BenchSpan]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1
  private val sqls = mutable.Map.empty[Long, SqlSpan]
  private val sqlTimes = mutable.Map.empty[Long, (Long, Long)]
  private val queryOfSql = mutable.Map.empty[Long, Long]
  private val stageSql = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val jobs = mutable.Map.empty[Int, JobSpan]

  private def sqlIdOf(p: java.util.Properties): Long =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = JobSpan(sqlIdOf(e.properties), span, e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSql(e.stageInfo.stageId) = sqlIdOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stages += StageSpan(stageSql.getOrElse(si.stageId, -1L), tm.executorRunTime,
        tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled,
        taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Nil))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlTimes(s.executionId) = (s.time, -1L)
      }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        val st = sqlTimes.get(x.executionId).map(_._1).getOrElse(x.time)
        sqlTimes(x.executionId) = (st, x.time)
        org.apache.spark.sql.perfbench.Bus.queryId(x).foreach(q => queryOfSql(x.executionId) = q)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val plans = Seq(qe.logical, qe.analyzed)
      val reads = plans.flatMap(_.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten).distinct
      val writes = plans.flatMap(_.collect {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
      }).distinct
      // planning (analysis → physical plan) runs on the driver before the
      // execution starts; the span begins with the query's first phase
      val planStart = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(Long.MaxValue)
      lock.synchronized { sqls(qe.id) = SqlSpan(qe.id, func, reads, writes, planStart, 0L) }
    }
    override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
  }

  private var attached = false

  /** Starts recording. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Waits for every posted listener event, then stops recording. */
  def detach(): Unit = if (attached) {
    org.apache.spark.sql.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Times `body` as a bench span; jobs it starts carry the span id. */
  def span[T](name: String)(body: => T): T = {
    val (id, parent) = lock.synchronized {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open.push((id, name, System.currentTimeMillis()))
      (id, parent)
    }
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    try body
    finally {
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
      lock.synchronized {
        val (_, n, st) = open.pop()
        bench += BenchSpan(id, n, parent, st, System.currentTimeMillis())
      }
    }
  }

  def benchSpans: Seq[BenchSpan] = lock.synchronized(bench.toSeq.sortBy(_.id))

  /** SQL spans whose execution starts inside bench span `b` (or a
    * descendant), in execution order, with their wall-clock bounds: from the
    * query's first planning phase to the end of its execution. */
  def sqlIn(b: BenchSpan): Seq[SqlSpan] = lock.synchronized {
    sqlTimes.toSeq.sortBy(_._1).flatMap {
      case (id, (st, en)) if st >= b.startMs && st <= b.endMs =>
        queryOfSql.get(id).flatMap(sqls.get).map(q =>
          q.copy(id = id, startMs = math.max(b.startMs, math.min(st, q.startMs)), endMs = en))
      case _ => None
    }
  }

  /** Jobs under bench span `b` that ran outside any SQL execution (e.g.
    * parallel file listing when a table is opened). */
  def bareJobsIn(b: BenchSpan): Seq[JobSpan] = lock.synchronized {
    val ids = descendants(b.id)
    jobs.values.filter(j => j.sqlId < 0 && ids.contains(j.span)).toSeq.sortBy(_.startMs)
  }

  /** Stages of SQL execution `sqlId` (the id [[sqlIn]] reports). */
  def stagesOf(sqlId: Long): Seq[StageSpan] = lock.synchronized(stages.filter(_.sqlId == sqlId).toSeq)

  /** Jobs started under bench span `b` (by span id, so jobs outside any SQL
    * execution — file listing, broadcast — count too). */
  def jobsIn(b: BenchSpan): Int = lock.synchronized {
    val ids = descendants(b.id)
    jobs.values.count(j => ids.contains(j.span))
  }

  def jobsOfSql(sqlId: Long): Int = lock.synchronized(jobs.values.count(_.sqlId == sqlId))

  private def descendants(id: Int): Set[Int] = {
    val kids = bench.filter(_.parent == id).map(_.id)
    kids.flatMap(descendants).toSet ++ kids + id
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class BenchSpan(id: Int, name: String, parent: Int, startMs: Long, endMs: Long)
  final case class SqlSpan(id: Long, func: String, reads: Seq[String], writes: Seq[String],
                           startMs: Long, endMs: Long)
  final case class JobSpan(sqlId: Long, span: Int, startMs: Long, endMs: Long)
  final case class StageSpan(sqlId: Long, runMs: Long, shuffleWriteB: Long, spillB: Long,
                             taskMs: Seq[Long])
}
