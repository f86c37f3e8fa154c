package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded around the benchmark's calls into graft.
  *
  * A span is opened at a layer boundary (the call the benchmark makes into
  * a graft module); spans nest through an inheritable thread-local stack,
  * so work the [[graft.runtime.Runner]] fans out to its own thread pool
  * still hangs under the batch that caused it. Each span also becomes the
  * Spark job group of its thread, which is how the job listener attributes
  * Spark jobs to spans. Everything stays in memory until [[writeJson]].
  *
  * With tracing off, [[span]] runs its body and records nothing, and no
  * listener is registered. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        start: Long, end: Long) {
    def dur: Long = end - start
  }
  final case class Job(group: Long, start: Long, end: Long)

  private val JobGroup = "spark.jobGroup.id"
  @volatile private var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val counters = new ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  private val taskTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  /** (span id, op id) of the innermost open span of this thread */
  private val stack = new InheritableThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, op) = outer.headOption.map { case (p, o) => (p, o) }.getOrElse((0L, id))
      val prevGroup = sc.getLocalProperty(JobGroup)
      stack.set((id, op) :: outer)
      sc.setJobGroup(id.toString, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      }
    }

  /** Start recording: registers the job, SQL and streaming listeners. */
  def start(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(SqlListener)
    spark.streams.addListener(StreamListener)
    on = true
  }

  /** Forget everything recorded so far (the timed phase starts clean). */
  def reset(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    spans.clear(); jobs.clear(); counters.clear(); taskTimes.clear()
  }

  /** Stop recording after the listener bus has delivered every event. */
  def stop(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    on = false
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Sum of the lengths of `ivs` after merging overlaps. */
  def unionNs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span: (self ns = duration minus the union of its children,
    * job ns = union of the Spark jobs run in it or its descendants). */
  def breakdown(): Map[Long, (Long, Long)] = {
    val ss = allSpans
    val kids = ss.groupBy(_.parent)
    val jobsBy = jobs.asScala.toSeq.groupBy(_.group)
    def subtreeJobs(s: Span): Seq[(Long, Long)] =
      jobsBy.getOrElse(s.id, Nil).map(j => (j.start max s.start, j.end min s.end)) ++
        kids.getOrElse(s.id, Nil).flatMap(subtreeJobs)
    ss.map { s =>
      val childNs = unionNs(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.id -> (s.dur - childNs, unionNs(subtreeJobs(s)))
    }.toMap
  }

  /** Mean over stages with ≥ 2 tasks of (slowest task ÷ mean task). */
  def taskSkew: Double = {
    val ratios = taskTimes.values.asScala.toSeq.map(_.asScala.toSeq.map(_.toDouble))
      .filter(_.size >= 2).map(ts => ts.max / math.max(1e-9, ts.sum / ts.size))
    if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size
  }

  def jobWallNs: Long = jobs.asScala.toSeq.map(j => j.end - j.start).sum

  /** Write every span as one JSON document (self and job time included). */
  def writeJson(path: java.nio.file.Path, header: String): Unit = {
    val bd = breakdown()
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[")
    allSpans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val (self, job) = bd(s.id)
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":$self,"job_ns":$job}""")
    }
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup)))
        .flatMap(_.toLongOption).getOrElse(0L)
      jobStarts.put(e.jobId, (g, System.nanoTime()))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (g, t0) =>
        jobs.add(Job(g, t0, System.nanoTime()))
        add("exec.jobs", 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("exec.stages", 1)
      add("exec.tasks", e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("exec.scan_bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("exec.scan_records_read", m.inputMetrics.recordsRead.toDouble)
      if (on) taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(e.taskInfo.duration)
    }
  }

  private object SqlListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1000.0))
      }
      add("catalyst.actions", 1)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add("catalyst.actions", 1)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("streaming.batches", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
        Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
          "queryPlanning" -> "query_planning", "latestOffset" -> "latest_offset",
          "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets").foreach {
          case (k, n) => Option(p.durationMs.get(k)).foreach(v => add(s"streaming.${n}_s", v / 1000.0))
        }
        p.stateOperators.foreach { s =>
          add("streaming.state_rows", s.numRowsTotal.toDouble)
          add("streaming.state_mem_bytes", s.memoryUsedBytes.toDouble)
        }
      }
    }
  }
}
