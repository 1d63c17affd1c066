package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftshim.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one traced phase (one call into one layer). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inRecords, inBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** (job id, start ms, end ms) on the driver's wall clock. */
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
  /** (output path, ms) of every file write, in order; the ms are those of
    * all SQL executions since the previous write, this one included. */
  val writes = ArrayBuffer.empty[(String, Long)]

  /** Milliseconds of [start, end] covered by at least one job. */
  def jobCoveredMs(start: Long, end: Long): Long = {
    var covered = 0L
    var reach = start
    jobSpans.map { case (_, a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  def json(startMs: Long, wallMs: Long): String = Json.obj(Seq(
    "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
    "executor_run_ms" -> runMs.toString, "executor_cpu_ns" -> cpuNs.toString,
    "gc_ms" -> gcMs.toString, "shuffle_read_bytes" -> shuffleRead.toString,
    "shuffle_write_bytes" -> shuffleWrite.toString, "spill_bytes" -> spill.toString,
    "input_records" -> inRecords.toString, "input_bytes" -> inBytes.toString,
    "analysis_ms" -> analysisMs.toString, "optimization_ms" -> optimizationMs.toString,
    "planning_ms" -> planningMs.toString,
    "driver_gap_ms" -> math.max(0L, wallMs - jobCoveredMs(startMs, startMs + wallMs)).toString))
}

/** One span of the trace: run → operation → layer call → Spark job. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Long, endMs: Long, attrs: String) {
  def json: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "name" -> Json.str(name),
    "layer" -> Json.str(layer), "start_ms" -> startMs.toString,
    "end_ms" -> endMs.toString, "attrs" -> attrs))
}

/** Listener-based tracer. Jobs are linked to the phase that ran them by the
  * job group set around each phase; SQL executions (Catalyst phase times,
  * durations, write paths) arrive in bus order and belong to the phase
  * that is open when the bus is drained, since the client issues one call
  * at a time.
  * Spans stay in memory until [[spans]] is read at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long)]()
  /** (duration ms, written path, Catalyst phase ms) per SQL execution. */
  private val sqlDone = new ConcurrentLinkedQueue[(Long, Option[String], Map[String, Long])]()
  @volatile private var current = "pb:none"
  private val spanBuf = ArrayBuffer.empty[Span]
  private var nextId = 1

  private def counters(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("pb:")).getOrElse(current)
      counters(g).jobs += 1
      jobOpen.put(e.jobId, (g, e.time))
      e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (g, t0) =>
        counters(g).jobSpans += ((e.jobId, t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach(g => counters(g).tasks += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val c = counters(g)
        c.stages += 1
        Option(e.stageInfo.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inRecords += m.inputMetrics.recordsRead
          c.inBytes += m.inputMetrics.bytesRead
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val path = qe.logical.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
      }
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      sqlDone.add((durationNs / 1000000L, path, phases))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Reserves a span id, so children can name a parent that is still open. */
  def open(): Int = synchronized { nextId += 1; nextId - 1 }

  def close(id: Int, parent: Int, name: String, layer: String, startMs: Long,
            endMs: Long, attrs: String = "{}"): Unit =
    synchronized(spanBuf += Span(id, parent, name, layer, startMs, endMs, attrs))

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)

  /** Runs `f` as one traced phase and returns its result, its wall
    * seconds and what Spark did inside it. The bus is drained after `f`,
    * outside its timing. */
  def phase[T](group: String)(f: => T): (T, Double, Counters) = {
    val g = s"pb:$group"
    current = g
    sc.setJobGroup(g, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try f finally sc.clearJobGroup()
    val dt = (System.nanoTime() - t0) / 1e9
    ListenerDrain.waitUntilEmpty(sc, 60000L)
    current = "pb:none"
    val c = Option(byGroup.remove(g)).getOrElse(new Counters)
    var pendingMs = 0L
    var q = sqlDone.poll()
    while (q != null) {
      val (ms, path, ph) = q
      c.analysisMs += ph.getOrElse("analysis", 0L)
      c.optimizationMs += ph.getOrElse("optimization", 0L)
      c.planningMs += ph.getOrElse("planning", 0L)
      pendingMs += ms
      path.foreach { p => c.writes += ((p, pendingMs)); pendingMs = 0L }
      q = sqlDone.poll()
    }
    byGroup.remove("pb:none")
    (r, dt, c)
  }

  def jobSpans(parent: Int, c: Counters): Unit =
    c.jobSpans.foreach { case (id, a, b) => close(open(), parent, s"job $id", "spark", a, b) }
}

object Tracer {
  def spansJsonl(spans: Seq[Span]): String = spans.map(_.json).mkString("", "\n", "\n")
}
