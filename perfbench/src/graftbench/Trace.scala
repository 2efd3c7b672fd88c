package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Spans recorded by the benchmark around its calls into each layer.
  * Spark jobs issued inside a span carry the span id as a local property,
  * which [[ExecListener]] reads back to attribute tasks to the span. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, unit: Long,
                        start: Long, var end: Long = 0L,
                        var attrs: Map[String, Any] = Map.empty)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Innermost open span, for jobs that carry no span property. */
  @volatile var current: Int = -1
  // maps the epoch-ms times of listener events onto the span clock
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()

  private def add(name: String, parent: Int, unit: Long, start: Long): Span =
    synchronized {
      val s = Span(spans.size, name, parent, unit, start)
      spans += s
      s
    }

  def span[T](name: String, unit: Long)(f: => T): T = {
    val s = add(name, stack.headOption.fold(-1)(_.id), unit, System.nanoTime())
    stack = s :: stack
    enter()
    try f
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      enter()
    }
  }

  /** Add a child span of `parent` over an interval of listener event
    * times (epoch ms). */
  def child(parent: Int, name: String, startMs: Long, endMs: Long): Int = {
    val unit = synchronized(spans(parent).unit)
    val s = add(name, parent, unit, toNs(startMs))
    s.end = toNs(endMs)
    s.id
  }

  def name(id: Int): Option[String] =
    synchronized(if (id >= 0 && id < spans.size) Some(spans(id).name) else None)

  private def toNs(epochMs: Long): Long = originNs + (epochMs - originMs) * 1000000L

  /** Attach attributes (counts measured at the boundary) to the open span. */
  def annotate(kv: (String, Any)*): Unit =
    stack.headOption.foreach(s => s.attrs = s.attrs ++ kv)

  private def enter(): Unit = {
    current = stack.headOption.fold(-1)(_.id)
    sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
  }

  def records: Seq[Span] = synchronized(spans.toSeq)
}

object Tracer {
  val Key = "graftbench.span"

  /** Layer of work issued inside an "ingest" span, named by the source
    * file of the innermost program frame in its call site (the long form
    * in `StageInfo.details` and in the SQL execution's start event): the
    * batch count in `ingestBatch` runs the scan and the quality filter.
    * Work without a program frame stays with the span. */
  private val IngestLayers = Seq(
    "StreamingCorpus.scala" -> "quality",
    "StreamingContamination.scala" -> "contamination",
    "StreamingDedup.scala" -> "dedup_gate",
    "Dedup.scala" -> "dedup_gate")

  def ingestLayer(details: String): Option[String] =
    details.split("\n").find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .flatMap(f => IngestLayers.collectFirst { case (file, layer) if f.contains("(" + file + ":") => layer })
}

/** Task-level counters, in total and per span. Events arrive on the
  * listener bus thread; readers call [[snapshot]] and [[spanTotals]] after
  * draining it. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, taskRunMs, taskCpuNs, gcMs = 0L
    var shuffleBytes, spillBytes, failedTasks = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
      shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
      failedTasks += o.failedTasks
    }
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6,
      "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "failed_tasks" -> failedTasks)
  }

  /** A job: the span open when it was submitted, its SQL execution and
    * call site, and its counters. */
  private final class Job(val id: Int, val span: Int, val exec: Option[Long],
                          val details: String, val start: Long) {
    var end: Long = start
    val acc = new Acc
  }
  /** A SQL execution: its root execution, call site and wall interval. */
  private final class Exec(val root: Long, val details: String, val start: Long) {
    var end: Long = start
  }

  private val total = new Acc
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execs = mutable.Map[Long, Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.Key).map(_.toInt).getOrElse(tracer.current)
    val job = new Job(e.jobId, span, prop("spark.sql.execution.id").map(_.toLong),
      e.stageInfos.headOption.fold("")(_.details), e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
    total.jobs += 1
    job.acc.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) =
        new Exec(s.rootExecutionId.getOrElse(s.executionId), s.details, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  private def jobAcc(stageId: Int): Option[Acc] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.acc)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    jobAcc(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    (Seq(total) ++ jobAcc(e.stageId)).foreach { a =>
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Map[String, Any] = synchronized(total.toMap)

  /** Counters by span. Inside an "ingest" span each root SQL execution
    * becomes a child span named by its layer ([[Tracer.ingestLayer]] of
    * its call site), covering the execution's wall interval and carrying
    * every job it ran, including those AQE and broadcasts submit from
    * their own threads. */
  def spanTotals(): Map[Int, Map[String, Any]] = synchronized {
    val bySpan = mutable.Map[Int, Acc]()
    val children = mutable.Map[(Int, Long), Int]()
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val root = j.exec.flatMap(execs.get).flatMap(x => execs.get(x.root))
      val layer =
        if (!tracer.name(j.span).contains("ingest")) None
        else root.flatMap(x => Tracer.ingestLayer(x.details))
          .orElse(Tracer.ingestLayer(j.details))
      val target = layer.fold(j.span) { l =>
        val key = j.exec.flatMap(execs.get).fold(-1L - j.id)(_.root)
        children.getOrElseUpdate((j.span, key), root.fold(
          tracer.child(j.span, l, j.start, j.end))(x => tracer.child(j.span, l, x.start, x.end)))
      }
      bySpan.getOrElseUpdate(target, new Acc).add(j.acc)
    }
    bySpan.map { case (k, v) => k -> v.toMap }.toMap
  }
}
