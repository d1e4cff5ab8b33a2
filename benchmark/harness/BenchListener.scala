package graftbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** The benchmark's one listener: Spark work (jobs, tasks, bytes, task time)
  * summed per span. A span is named by the local property [[SpanKey]] set
  * on the driver thread before an action; Spark carries local properties
  * to the jobs it submits on other threads (broadcasts, AQE stages), so
  * every job of the action lands in its span.
  *
  * Listener events arrive asynchronously. [[attached]] registers the
  * listener for one stretch of work only, so that untraced work in the
  * same JVM runs without it, and waits for the stretch's events before it
  * unregisters; [[totals]] is complete after that.
  */
final class BenchListener extends SparkListener {
  import BenchListener._

  private val bySpan = mutable.LinkedHashMap.empty[String, Totals]
  private val stageSpan = mutable.HashMap.empty[Int, String]

  private def of(span: String): Totals = bySpan.getOrElseUpdate(span, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse(Unattributed)
    val t = of(span)
    t.jobs += 1
    if (isSchemaRead(e)) t.schemaJobs += 1
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = of(stageSpan.getOrElse(e.stageId, Unattributed))
      t.tasks += 1
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
    }
  }

  def totals: Map[String, Map[String, Long]] =
    synchronized(bySpan.map { case (span, t) => span -> t.asMap }.toMap)
}

object BenchListener {
  val SpanKey = "graftbench.span"
  val Unattributed = "unattributed"

  /** Runs `body` with `listener` registered; afterwards waits until the
    * bus has delivered every event of the body's jobs, then unregisters. */
  def attached[T](sc: SparkContext, listener: BenchListener)(body: => T): T = {
    sc.addSparkListener(listener)
    try body finally {
      BenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** A parquet schema read (`spark.read.parquet` infers the schema with
    * one job over a local collection of file statuses): one stage, named
    * after a `parquet` call site, whose data starts from a local collection. */
  def isSchemaRead(e: SparkListenerJobStart): Boolean = e.stageInfos match {
    case Seq(stage) => stage.name.startsWith("parquet at ") &&
      stage.rddInfos.exists(_.name.startsWith("ParallelCollectionRDD"))
    case _ => false
  }

  final class Totals {
    var jobs = 0L
    var schemaJobs = 0L
    var tasks = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var runMs = 0L
    var gcMs = 0L

    def asMap: Map[String, Long] = Map(
      "jobs" -> jobs, "schema_jobs" -> schemaJobs, "tasks" -> tasks, "input_bytes" -> inputBytes,
      "input_records" -> inputRecords, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "task_run_ms" -> runMs, "gc_ms" -> gcMs)
  }
}
