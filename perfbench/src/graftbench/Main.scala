package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.GraftBenchBus

/** The JVM under test for one benchmark run:
  *
  *   Main <workload> <runDir> <seconds> <trace 0|1> <launchEpochMs>
  *
  * Reads the staged inputs under `<runDir>/input`, runs the workload in a
  * closed loop for `seconds` and writes `<runDir>/result.json`. With trace
  * 1 it runs the production loop in quarters with the Spark listener
  * alternately off and on (execution counters, and the listener's
  * overhead), then replays the first batches through the per-batch calls
  * with spans. */
object Main {
  /** Batches the traced replay re-runs: the first ones, which every run
    * has committed as warm-up. */
  private val Replayed = 3

  def main(args: Array[String]): Unit = {
    val Array(name, dir, secondsArg, traceArg, launchArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val spark = graft.LocalSpark.session(cpus = "2")
    val sessionReady = System.currentTimeMillis()
    try {
      val w: StreamWorkload = name match {
        case "export_stream" => new ExportStreamWorkload(spark, dir)
        case "corpus_ingest" => new CorpusIngestWorkload(spark, dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.init()
      val setupS = (System.currentTimeMillis() - launchArg.toLong) / 1e3
      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val base = Map[String, Any](
        "workload" -> name,
        "session_s" -> (sessionReady - launchArg.toLong) / 1e3,
        "setup_s" -> setupS)
      val body: Map[String, Any] =
        if (!trace) {
          val cpu0 = cpu.getProcessCpuTime; val t0 = System.nanoTime()
          val units = w.run(t0 + (seconds * 1e9).toLong)
          val wall = (System.nanoTime() - t0) / 1e9
          val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
          Map("units" -> units.map(unitMap), "wall_s" -> wall, "cpu_s" -> cpuS)
        } else {
          // quarters alternate listener off / on: the "on" units give the
          // execution counters, the difference of medians the overhead
          val sc = spark.sparkContext
          val tracer = new Tracer(sc)
          val listener = new ExecListener(tracer)
          val quarter = (seconds * 1e9 / 4).toLong
          val plain, traced = scala.collection.mutable.ArrayBuffer[UnitRec]()
          var wall = 0.0
          for (q <- 0 until 4) {
            val on = q % 2 == 1
            if (on) sc.addSparkListener(listener)
            val t0 = System.nanoTime()
            val units = w.run(t0 + quarter)
            if (on) {
              wall += (System.nanoTime() - t0) / 1e9
              GraftBenchBus.drain(sc)
              sc.removeSparkListener(listener)
              traced ++= units
            } else plain ++= units
          }
          val exec = listener.snapshot()
          val mem = memory()
          sc.addSparkListener(listener)
          w.replay(tracer, Replayed)
          GraftBenchBus.drain(sc)
          val bySpan = listener.spanTotals()
          Map(
            "plain_units" -> plain.map(unitMap),
            "units" -> traced.map(unitMap), "wall_s" -> wall,
            "exec" -> exec,
            "spans" -> tracer.records.map { s =>
              Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
                "unit" -> s.unit, "start_ns" -> s.start, "end_ns" -> s.end,
                "attrs" -> s.attrs, "exec" -> bySpan.getOrElse(s.id, Map.empty))
            }) ++ mem
        }
      val out = base ++ body ++ Map("check" -> w.finish())
      Files.write(Paths.get(dir, "result.json"),
        Json(out).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private def unitMap(u: UnitRec): Map[String, Any] =
    Map("ms" -> u.ms, "rows" -> u.rows, "id" -> u.id, "dur" -> u.dur)

  /** Peak RSS so far, then the heap still live after a full collection:
    * the state the program retains (catalog, survivor-store metadata,
    * caches), independent of when the collector last ran. */
  private def memory(): Map[String, Any] = {
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
    System.gc()
    Map("peak_rss_kb" -> rss,
      "heap_live_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }
}
