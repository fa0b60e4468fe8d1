package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer timing from outside the engine.
  *
  * Every benchmark operation runs its layers through [[phase]]: the
  * wall time around the public call, the Janino compiles and compile
  * time it caused (`CodeGenerator.compileTime`,
  * `CodegenMetrics.METRIC_COMPILATION_TIME`) and — through the job
  * group each phase sets — the Spark jobs and stage metrics a
  * `SparkListener` saw for it. Untraced runs (`on = false`) set no job
  * group, install no listener and record nothing: [[phase]] is then a
  * plain call, so traced minus untraced is the tracing overhead. */
final class Trace(sc: SparkContext, val on: Boolean) {
  import Trace._

  /** Off while untimed warm-up work runs: its phases and jobs stay out
    * of the layer figures. */
  var paused = false

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val phaseAgg = mutable.LinkedHashMap.empty[String, PhaseAgg]
  private val t0 = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val rec = JobRec(e.jobId, group, e.time, e.stageInfos.size)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, rec)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.stagesDone += 1
          j.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
    }
  }
  if (on) sc.addSparkListener(listener)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def ms(ns: Long): Double = ns / 1e6

  /** Run one layer of operation `op` (class `cls`). */
  def phase[A](op: String, cls: String, name: String)(f: => A): A = {
    if (!on || paused) return f
    val group = s"$op/$name"
    sc.setJobGroup(group, s"$cls $name $op", interruptOnCancel = false)
    val c0 = compiles; val cg0 = CodeGenerator.compileTime
    val s = System.nanoTime()
    try f
    finally {
      val e = System.nanoTime()
      sc.clearJobGroup()
      spans += Span(name, op, s"$op", s - t0, e - t0)
      val a = phaseAgg.getOrElseUpdate(s"$cls|$name", PhaseAgg(cls, name))
      a.wallNs += e - s
      a.compiles += compiles - c0
      a.codegenNs += CodeGenerator.compileTime - cg0
      a.groups += group
    }
  }

  /** A whole operation — the parent span of its phases. */
  def request[A](op: String, cls: String)(f: => A): A = {
    if (!on || paused) return f
    val s = System.nanoTime()
    try f finally spans += Span(s"request:$cls", op, "", s - t0, System.nanoTime() - t0)
  }

  /** Block until the listener has processed every job started so far:
    * events are delivered in order, so once a marker job's end is seen
    * all earlier jobs and stages have been recorded. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc.setJobGroup("drain", "listener drain marker", interruptOnCancel = false)
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    def seen = jobs.values.asScala.exists(j => j.group == "drain" && j.end > 0)
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    require(seen, "listener did not catch up within 30 s")
  }

  /** Jobs launched under the given phase groups. */
  def jobsOf(groups: collection.Set[String]): Seq[JobRec] =
    jobs.values.asScala.filter(j => groups.contains(j.group)).toSeq

  def phases: Seq[PhaseAgg] = phaseAgg.values.toSeq

  def phasesNamed(name: String, cls: Option[String] = None): Seq[PhaseAgg] =
    phases.filter(p => p.name == name && cls.forall(_ == p.cls))

  /** Jobs of traced phases (warm-up and the drain marker excluded). */
  def allJobs: Seq[JobRec] =
    jobs.values.asScala.filter(j => j.group.nonEmpty && j.group != "drain").toSeq

  def phaseMs(ps: Seq[PhaseAgg]): Double = ms(ps.map(_.wallNs).sum)
  def codegenMs(ps: Seq[PhaseAgg]): Double = ms(ps.map(_.codegenNs).sum)
  def compileCount(ps: Seq[PhaseAgg]): Long = ps.map(_.compiles).sum
  def jobCount(ps: Seq[PhaseAgg]): Int =
    jobsOf(ps.flatMap(_.groups).toSet).size
  def shuffleBytes(ps: Seq[PhaseAgg]): Long =
    jobsOf(ps.flatMap(_.groups).toSet).map(j => j.shuffleRead + j.shuffleWrite).sum

  /** The spans: requests, their phases, and each Spark job under the
    * phase whose job group launched it. */
  def spanList: Seq[Map[String, Any]] = {
    def j(s: Span) = Map("name" -> s.name, "request" -> s.request,
      "parent" -> s.parent, "start_ms" -> s.startNs / 1e6,
      "end_ms" -> s.endNs / 1e6)
    val startMs = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000
    val jobSpans = allJobs.sortBy(_.id).map { r =>
      val op = r.group.takeWhile(_ != '/')
      Map("name" -> s"job:${r.id}", "request" -> op, "parent" -> r.group,
        "start_ms" -> (r.start - startMs).toDouble,
        "end_ms" -> (r.end - startMs).toDouble, "stages" -> r.stages,
        "tasks" -> r.tasks)
    }
    spans.toSeq.map(j) ++ jobSpans
  }
}

object Trace {
  final case class Span(name: String, request: String, parent: String,
                        startNs: Long, endNs: Long)

  final case class JobRec(id: Int, group: String, start: Long, stages: Int) {
    @volatile var end: Long = 0L
    @volatile var stagesDone, tasks: Int = 0
    @volatile var cpuNs, gcMs, spill, shuffleRead, shuffleWrite: Long = 0L
  }

  final case class PhaseAgg(cls: String, name: String) {
    var wallNs, compiles, codegenNs: Long = 0L
    val groups: mutable.Set[String] = mutable.Set.empty
  }
}

/** JSON output through Jackson's Scala module: `Option` as the value
  * or null, case classes as objects of their fields. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
