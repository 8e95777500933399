package ddfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into the library, and the Spark
  * events they cause, recorded from outside the library.
  *
  * A span is opened around each call the benchmark makes; its id goes into
  * the `ddfbench.span` local property, which Spark copies onto every job and
  * stage the call submits (including those submitted from broadcast and
  * subquery threads). The listener keeps one record per job and per stage
  * with the span id it carried. Catalyst phase times come from a
  * [[QueryExecutionListener]]; they carry no local property, so the report
  * places each phase in the span open when the phase started.
  *
  * Times are epoch milliseconds, as Spark stamps its events.
  */
final class Trace(spark: SparkSession) extends Spans {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val phases = ArrayBuffer.empty[Phase]
  var failedTasks = 0L
  private var open: List[Span] = Nil
  private val lock = new Object
  private var recording = false

  def span[T](name: String, module: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, module, nowMs)
    spans += s
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (recording) jobs += Job(e.jobId, spanOf(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      if (recording) stages += Stage(e.stageInfo.stageId, e.stageInfo.attemptNumber(),
        spanOf(e.properties))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      stages.find(s => s.id == i.stageId && s.attempt == i.attemptNumber()).foreach { s =>
        val m = i.taskMetrics
        s.tasks = i.numTasks
        if (m != null) {
          s.runMs = m.executorRunTime
          s.cpuMs = m.executorCpuTime / 1000000L
          s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
          s.input = m.inputMetrics.bytesRead
          s.output = m.outputMetrics.bytesWritten
          s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
          s.result = m.resultSize
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (recording && !e.taskInfo.successful) failedTasks += 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      if (recording) qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Starts keeping events; earlier ones (set-up, warm-up) are dropped. */
  def start(): Unit = lock.synchronized { recording = true }

  /** Waits until the listener bus has delivered every event so far. The
    * bus is private to Spark, so it is reached by reflection.
    */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def stop(): Unit = {
    drain()
    lock.synchronized { recording = false }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: String = lock.synchronized {
    def arr[T](xs: Seq[T])(f: T => String) = xs.map(f).mkString("[", ",", "]")
    val js = arr(spans.toSeq)(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "module" -> s.module, "start" -> s.startMs, "end" -> s.endMs))
    val jj = arr(jobs.toSeq)(j => Json.obj("id" -> j.id, "span" -> j.span,
      "start" -> j.startMs, "end" -> j.endMs))
    val ss = arr(stages.toSeq)(s => Json.obj("id" -> s.id, "attempt" -> s.attempt,
      "span" -> s.span, "tasks" -> s.tasks, "task_run_ms" -> s.runMs,
      "task_cpu_ms" -> s.cpuMs, "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead, "input_bytes" -> s.input,
      "output_bytes" -> s.output, "spill_bytes" -> s.spill, "result_bytes" -> s.result))
    val ps = arr(phases.toSeq)(p => Json.obj("phase" -> p.name, "start" -> p.startMs,
      "end" -> p.endMs))
    s"""{"spans":$js,"jobs":$jj,"stages":$ss,"phases":$ps,"failed_tasks":$failedTasks}"""
  }
}

/** Opens spans around the benchmark's calls; the untraced runs use [[NoSpans]]. */
trait Spans {
  /** Runs `body` as a span named `name` of layer `module`. */
  def span[T](name: String, module: String)(body: => T): T
}

object NoSpans extends Spans {
  def span[T](name: String, module: String)(body: => T): T = body
}

object Trace {
  val Prop = "ddfbench.span"

  final case class Span(id: Int, parent: Int, name: String, module: String, startMs: Double) {
    var endMs: Double = Double.NaN
  }
  final case class Job(id: Int, span: Int, startMs: Long) { var endMs: Long = -1L }
  final case class Stage(id: Int, attempt: Int, span: Int) {
    var tasks = 0; var runMs = 0L; var cpuMs = 0L; var shuffleWrite = 0L
    var shuffleRead = 0L; var input = 0L; var output = 0L; var spill = 0L; var result = 0L
  }
  final case class Phase(name: String, startMs: Double, endMs: Double)
}
