package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond resolution; `parent` is the id of the span that
  * caused it (-1 for an operation's root span). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double)

/** Storage counters for the `file` scheme: bytes from the statistics
  * Hadoop keeps per filesystem anyway, operations from
  * [[CountingLocalFileSystem]] (zero unless the traced run installed it). */
final case class FsStats(readOps: Long, listOps: Long, writeOps: Long,
    bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps,
    listOps - o.listOps, writeOps - o.writeOps,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsStats {
  def now(): FsStats = {
    import scala.jdk.CollectionConverters._
    val all = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsStats(CountingLocalFileSystem.reads.sum(), CountingLocalFileSystem.lists.sum(),
      CountingLocalFileSystem.writes.sum(), all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}

/** The local filesystem with operation counters, installed for the `file`
  * scheme through the Hadoop configuration in the traced run only: reads
  * are opens and status probes, lists are directory listings, writes are
  * creates, renames, deletes and mkdirs. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.increment(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.LongAdder
  val lists = new java.util.concurrent.atomic.LongAdder
  val writes = new java.util.concurrent.atomic.LongAdder
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** epoch milliseconds on the monotonic clock */
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans and counters for the traced phase. Harness spans wrap each call
  * into a module's public API; Spark's own layers are observed from
  * outside through a SparkListener (jobs, stages, task metrics) and a
  * QueryExecutionListener (the `qe.tracker` phase times). Everything
  * stays in memory until the run writes it out. The listeners are
  * installed only in a trace run and record only while [[enabled]]; a
  * disabled tracer just runs the bodies, so untraced ops pay nothing. */
final class Tracer(spark: SparkSession, val traceRun: Boolean) {
  @volatile var enabled = false
  val OpProperty = "perfbench.op"

  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var curOp = -1

  /** Run `body` as operation `op`: the root span, and the job property
    * that lets listener events name the operation that caused them. */
  def op[A](op: Int, name: String)(body: => A): A = {
    curOp = op
    if (enabled) spark.sparkContext.setLocalProperty(OpProperty, op.toString)
    try span(name)(body)
    finally {
      if (enabled) spark.sparkContext.setLocalProperty(OpProperty, null)
      curOp = -1
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = Clock.ms()
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, curOp, name, t0, Clock.ms())
      }
    }

  // ---- Spark, observed from outside ----------------------------------

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  /** op id → task metric name → sum */
  private val taskSums = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private def opOfStage(stage: Int): Int =
    stageJob.get(stage).flatMap(jobs.get).map(_.op).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time.toDouble, e.time.toDouble,
        e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      if (stageJob.contains(i.stageId)) stages += StageRec(stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stageJob.contains(e.stageId)) {
        val s = taskSums.getOrElseUpdate(opOfStage(e.stageId), mutable.Map.empty)
        def add(k: String, v: Double): Unit = s(k) = s.getOrElse(k, 0.0) + v
        add("exec.tasks", 1)
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_deser_ms", m.executorDeserializeTime.toDouble)
        add("exec.task_gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("exec.input_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        (k, (v.startTimeMs.toDouble, v.endTimeMs.toDouble)) }
      // files the executed scans actually opened, from the scan nodes'
      // own SQL metrics (FileSourceScanExec "numFiles", DSv2 custom
      // metrics named like it)
      val counts = collectWithSubqueries(qe.executedPlan) { case p => p }
        .flatMap(_.metrics.collect {
          case (k, m) if k == "numFiles" || k == "filesRead" => m.value
        })
      val end = System.currentTimeMillis().toDouble
      Tracer.this.synchronized {
        qes += QeRec(end, phases, counts.sum, counts.size)
      }
    }
  }

  if (traceRun) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Block until the listener buses have delivered every event of the
    * finished jobs (both buses are asynchronous). */
  def drain(): Unit = if (traceRun) {
    var last = -1; var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val n = synchronized(jobs.size + stages.size + qes.size)
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** ops whose root span is [start, end]: the listener records (jobs,
    * stages, qe phases) whose interval starts inside an op belong to it */
  private def opAt(t: Double, roots: Seq[Span]): Int =
    roots.find(s => s.start <= t && t <= s.end).map(_.op).getOrElse(-1)

  /** All spans, harness and listener-derived, with parents resolved. */
  def allSpans(): Seq[Span] = synchronized {
    val roots = spans.filter(_.parent < 0).toSeq
    var id = nextId
    val out = mutable.ArrayBuffer.empty[Span] ++= spans
    // innermost harness span of the op that contains time t
    def within(op: Int, t: Double): Int = {
      val c = spans.filter(s => s.op == op && s.start <= t && t <= s.end)
      if (c.isEmpty) -1 else c.minBy(s => s.end - s.start).id
    }
    val jobSpan = mutable.Map.empty[Int, Int]
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val op = if (j.op >= 0) j.op else opAt(j.start, roots)
      jobSpan(j.id) = id
      out += Span(id, within(op, j.start), op, "spark.job", j.start, j.end)
      id += 1
    }
    stages.foreach { s =>
      val p = jobSpan.getOrElse(s.job, -1)
      val op = out.find(_.id == p).map(_.op).getOrElse(-1)
      out += Span(id, p, op, "spark.stage", s.start, s.end)
      id += 1
    }
    qes.foreach { q =>
      q.phases.foreach { case (name, (a, b)) =>
        val op = opAt(a, roots)
        out += Span(id, within(op, a), op, s"catalyst.$name", a, b)
        id += 1
      }
    }
    out.toSeq
  }

  /** op id → catalyst phase → total ms, and the scans run and the files
    * they read */
  def qeByOp(): Map[Int, Map[String, Double]] = synchronized {
    val roots = spans.filter(_.parent < 0).toSeq
    qes.toSeq.flatMap { q =>
      val op = q.phases.values.headOption.map(p => opAt(p._1, roots))
        .getOrElse(opAt(q.end, roots))
      q.phases.toSeq.map { case (k, (a, b)) => (op, s"catalyst.${k}_ms", b - a) } :+
        ((op, "scan.files_read", q.filesRead.toDouble)) :+
        ((op, "scan.scans", q.scans.toDouble))
    }.groupBy(_._1).map { case (op, xs) =>
      op -> xs.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    }
  }

  def jobsByOp(): Map[Int, Map[String, Double]] = synchronized {
    val stageOps = stages.toSeq.map(s => jobs.get(s.job).map(_.op).getOrElse(-1))
    val j = jobs.values.groupBy(_.op).map { case (op, js) =>
      op -> Map("exec.jobs" -> js.size.toDouble,
        "exec.stages" -> stageOps.count(_ == op).toDouble)
    }
    (j.keySet ++ taskSums.keySet).map { op =>
      op -> (j.getOrElse(op, Map.empty) ++ taskSums.getOrElse(op, Map.empty))
    }.toMap
  }
}

object Tracer {
  final case class JobRec(id: Int, op: Int, start: Double, var end: Double,
      stages: Seq[Int])
  final case class StageRec(job: Int, start: Double, end: Double)
  final case class QeRec(end: Double, phases: Map[String, (Double, Double)],
      filesRead: Long, scans: Int)
}
