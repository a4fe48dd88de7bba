package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload in one fresh JVM at local[N].
  *
  *   perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *                  --warmup K --min-rounds M --trace 0|1 --cores N
  *                  --result FILE [--probe]
  *
  * Set-up is timed from the JVM's start to a ready session with the run's
  * inputs staged (no Spark job runs inside it). Round 0 is the first,
  * cold execution of the workload's operations; warm rounds then repeat
  * them, closed-loop with one client: K warm-up rounds, then measured
  * rounds until S seconds have passed and at least M of them ran. The
  * warm-up is a number of rounds, not a time, so that every run measures
  * rounds equally far into the JIT compiler's warm-up. Each round records
  * its wall time and the process's CPU time. `--probe` stops after set-up.
  * Everything measured goes to the result file; the output checks and the
  * metrics are computed from it by `run.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val probe = args.contains("--probe")
    val a = args.filterNot(_ == "--probe").grouped(2)
      .collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val mem = new MemoryWatch
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(a.get("trace").contains("1") && !probe)
    val workload = Workload(a("workload"), spark, a("inputs"), work, tracer)
    workload.stage()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "cores" -> cores)
    if (!probe) {
      tracer.attach(spark)
      val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
      val jit = ManagementFactory.getCompilationMXBean
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      def gcMs = gcs.map(_.getCollectionTime).sum
      def runRound(r: Int, phase: String): Unit = {
        tracer.round = r
        val (jit0, gc0, cpu0, t0) =
          (jit.getTotalCompilationTime, gcMs, ProcessCpu.seconds, System.nanoTime())
        val (jitCpu0, gcCpu0) = ProcessCpu.jitAndGcSeconds
        val startUs = tracer.nowUs
        val ops = workload.round(r)
        val wallS = (System.nanoTime() - t0) / 1e9
        val cpuS = ProcessCpu.seconds - cpu0
        val (jitCpu1, gcCpu1) = ProcessCpu.jitAndGcSeconds
        val endUs = tracer.nowUs
        // the live heap the round left behind, after a full collection
        // (outside the timed operations)
        System.gc()
        val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
        rounds += Map(
          "round" -> r, "phase" -> phase, "wall_s" -> wallS, "cpu_s" -> cpuS,
          "jit_cpu_s" -> (jitCpu1 - jitCpu0), "gc_cpu_s" -> (gcCpu1 - gcCpu0),
          "live_heap_mb" -> liveMb,
          "op_s" -> ops.map(_.seconds).sum, "start_us" -> startUs, "end_us" -> endUs,
          "jit_ms" -> (jit.getTotalCompilationTime - jit0), "gc_ms" -> (gcMs - gc0),
          "ops" -> ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "cpu_s" -> o.cpuS,
            "error" -> o.error, "outputs" -> o.outputs, "info" -> o.info)))
      }
      val warmup = a("warmup").toInt
      val minRounds = a("min-rounds").toInt
      runRound(0, "cold")
      for (r <- 1 to warmup) runRound(r, "warmup")
      val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      var r = warmup + 1
      while (r <= warmup + minRounds || System.nanoTime() < deadline) {
        runRound(r, "measured")
        r += 1
      }
      result("rounds") = rounds
      result("heap_after_gc_peak_mb") = mem.heapAfterGcPeakMb
      result("rss_peak_mb") = MemoryWatch.rssPeakMb
      result("extras") = workload.afterRun()
      if (tracer.enabled) {
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        result("trace") = tracer.dump()
      }
      result("versions") = Map("java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)
    }
    Files.writeString(Paths.get(a("result")), Json.render(result))
    spark.stop()
  }
}

/** CPU time of the whole process (every thread, JIT compiler and
  * collector threads included), in seconds. Time the host takes from the
  * process (steal) is not in it.
  */
object ProcessCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds: Double = os.getProcessCpuTime / 1e9

  /** (JIT compiler threads, collector threads) CPU seconds so far, from
    * /proc/self/task (clock ticks of 10 ms).
    */
  def jitAndGcSeconds: (Double, Double) = {
    var jit, gc = 0L
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks != null) tasks.foreach { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val ticks = f(11).toLong + f(12).toLong
        if (comm.contains("CompilerThre")) jit += ticks
        else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) gc += ticks
      } catch { case _: java.io.IOException => () }
    }
    (jit / 100.0, gc / 100.0)
  }
}

/** Peak memory of the process, two ways: the largest heap occupancy left
  * after any collection (from GC notifications), and the resident set's
  * high-water mark.
  */
final class MemoryWatch {
  @volatile private var peak = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          if (used > peak) peak = used
        }
      }, null, null)
    case _ => ()
  }
  def heapAfterGcPeakMb: Double = peak / 1048576.0
}

object MemoryWatch {
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}
