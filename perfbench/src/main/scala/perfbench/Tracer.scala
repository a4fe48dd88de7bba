package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, plus the engine
  * events that happen inside them.
  *
  * A span has a name, a layer, a parent, the round it belongs to, and
  * start/end times in epoch microseconds (a monotonic clock anchored once
  * to the wall clock, so spans line up with the engine's millisecond event
  * times). While a span is open its id is the thread's Spark job group, so
  * every job it submits carries the id; jobs submitted from other threads
  * (stream micro-batches run on the query's own thread, under the query's
  * job group) are attributed later by time. Everything is kept in memory
  * and rendered once, when the run ends. With `enabled = false` every call
  * is a no-op and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                   val round: Int, val startUs: Long) {
    var endUs: Long = -1L
  }

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  private val finished = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var sc: Option[SparkContext] = None
  var round: Int = 0

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def setGroup(id: Int): Unit = sc.foreach(
    _.setLocalProperty("spark.jobGroup.id", if (id == 0) null else s"perfbench-$id"))

  def begin(name: String, layer: String): Unit = if (enabled) {
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0), name, layer, round, nowUs)
    nextId += 1
    stack = s :: stack
    setGroup(s.id)
  }

  def end(): Unit = if (enabled) stack match {
    case s :: rest =>
      s.endUs = nowUs
      finished += s
      stack = rest
      setGroup(rest.headOption.map(_.id).getOrElse(0))
    case Nil => ()
  }

  def depth: Int = stack.size
  def unwindTo(d: Int): Unit = while (stack.size > d) end()

  def span[T](name: String, layer: String)(body: => T): T = {
    val d = depth
    begin(name, layer)
    try body finally unwindTo(d)
  }

  /** Register the engine listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs += Map("job" -> e.jobId, "time_ms" -> e.time, "group" -> group.orNull,
          "stages" -> e.stageIds)
      }
      private def stage(id: Int): mutable.Map[String, Any] =
        stages.getOrElseUpdate(id, mutable.LinkedHashMap[String, Any](
          "stage" -> id, "tasks" -> 0L, "run_ms" -> 0L, "cpu_ns" -> 0L,
          "shuffle_write" -> 0L, "shuffle_read" -> 0L, "spill" -> 0L, "input" -> 0L,
          "peak_mem" -> 0L, "cached_rdds" -> Seq.empty[Int]))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
        stage(e.stageInfo.stageId)("cached_rdds") =
          e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        val m = Option(e.taskMetrics)
        val s = stage(e.stageId)
        def add(k: String, v: Long): Unit = s(k) = s(k).asInstanceOf[Long] + v
        add("tasks", 1L)
        m.foreach { t =>
          add("run_ms", t.executorRunTime)
          add("cpu_ns", t.executorCpuTime)
          add("shuffle_write", t.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read", t.shuffleReadMetrics.totalBytesRead)
          add("spill", t.memoryBytesSpilled + t.diskBytesSpilled)
          add("input", t.inputMetrics.bytesRead)
          s("peak_mem") = math.max(s("peak_mem").asInstanceOf[Long], t.peakExecutionMemory)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases.synchronized {
          qe.tracker.phases.foreach { case (phase, s) =>
            phases += Map("phase" -> phase, "start_ms" -> s.startTimeMs, "ms" -> s.durationMs)
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized {
          val p = e.progress
          val d = mutable.LinkedHashMap.empty[String, Any]
          p.durationMs.forEach((k, v) => d(k) = v.longValue)
          progress += Map("time_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "batch" -> p.batchId, "rows" -> p.numInputRows, "durations" -> d)
        }
    })
  }

  /** Everything recorded, for the result file. Call after the listener
    * bus has drained.
    */
  def dump(): Map[String, Any] = Map(
    "spans" -> finished.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "round" -> s.round, "start_us" -> s.startUs, "end_us" -> s.endUs)
    },
    "jobs" -> jobs.synchronized(jobs.toList),
    "stages" -> stages.synchronized(stages.values.map(_.toMap).toList),
    "phases" -> phases.synchronized(phases.toList),
    "progress" -> progress.synchronized(progress.toList))
}
