package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** One operation of a timed loop: its class, its wall time, whether it
  * completed, the input rows it consumed, its timed sub-steps, whether it
  * was the untimed warm-up, and whether it ran traced. */
final case class OpRec(id: Int, cls: String, ms: Double, ok: Boolean,
    rowsIn: Long, parts: Map[String, Double], warm: Boolean, traced: Boolean)

final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state of one benchmark run. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checks = mutable.ArrayBuffer.empty[Check]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** sizes and byte totals reported beside the metrics */
  val facts = mutable.LinkedHashMap.empty[String, Double]
  /** per-op layer counters gathered by the harness in the traced run */
  val layers = mutable.Map.empty[Int, mutable.Map[String, Double]]
  var timedS: Double = 0.0
  private var warming = false

  def hconf = spark.sparkContext.hadoopConfiguration

  /** log a phase boundary with the JVM's uptime, to see where a run goes */
  def phase(name: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $name")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  def layer(op: Int, name: String, v: Double): Unit = if (tracer.enabled) {
    val m = layers.getOrElseUpdate(op, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  /** Time `body` as operation `cls`; a throw marks the op failed and
    * stops the loop (the table state is then unknown to the model). */
  def op(cls: String, rowsIn: Long)(body: mutable.Map[String, Double] => Unit): Boolean = {
    val id = ops.size
    val parts = mutable.Map.empty[String, Double]
    val f0 = if (tracer.enabled) FsStats.now() else null
    val t0 = System.nanoTime()
    val ok = try { tracer.op(id, cls)(body(parts)); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $cls op $id failed: $e")
        e.printStackTrace()
        false
    }
    ops += OpRec(id, cls, (System.nanoTime() - t0) / 1e6, ok, rowsIn, parts.toMap,
      warming, tracer.enabled)
    if (tracer.enabled) {
      val d = FsStats.now() - f0
      layer(id, "fs.read_ops", d.readOps.toDouble)
      layer(id, "fs.list_ops", d.listOps.toDouble)
      layer(id, "fs.write_ops", d.writeOps.toDouble)
      layer(id, "fs.bytes_read", d.bytesRead.toDouble)
      layer(id, "fs.bytes_written", d.bytesWritten.toDouble)
    }
    ok
  }

  /** time a sub-step of the current op into `parts` and a trace span */
  def part[A](parts: mutable.Map[String, Double], name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally parts(name) = parts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  /** Run the loop: the first `warmup` steps run before the clock (their
    * ops are checked but not timed, so first-run code generation and JIT
    * stay out of the timings); then `step(i)` runs in whole cycles of
    * `cycle` steps until the run's seconds are spent, or until it returns
    * false. Stopping only at a cycle's end keeps every run's mix of
    * operation kinds the same. A trace run then repeats the timed phase
    * with the tracer on, so traced and untraced ops share one process and
    * one set-up, and their difference is the tracing overhead. */
  def loop(cycle: Int, warmup: Int)(step: Int => Boolean): Unit = {
    phase("set-up done")
    var i = 0
    warming = true
    try while (i < warmup && step(i)) i += 1 finally warming = false
    def timed(): Double = {
      val (t0, first) = (System.nanoTime(), i)
      def more = (i - first) % cycle != 0 || (System.nanoTime() - t0) / 1e9 < seconds
      while (more && step(i)) i += 1
      (System.nanoTime() - t0) / 1e9
    }
    if (i == warmup) {
      timedS = timed()
      if (tracer.traceRun && ops.forall(_.ok)) {
        tracer.enabled = true
        try timed() finally tracer.enabled = false
      }
    }
    phase(s"timed loop done, ${ops.size} ops")
  }

  /** Set up `times` times and keep the last; `setup_s` is their median */
  def setup[A](times: Int)(body: Int => A): A = {
    var last: Option[A] = None
    for (k <- 0 until times) {
      val t0 = System.nanoTime()
      last = Some(body(k))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  def du(root: String): Long = {
    val p = new Path(root)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** bytes of the files a table's current snapshot reads */
  def liveBytes(t: LakeTable): Long = {
    val fs = new Path(t.config.root).getFileSystem(hconf)
    t.log.liveFiles().map { f =>
      if (f.bytes > 0) f.bytes
      else fs.getFileStatus(new Path(t.config.root, f.path)).getLen
    }.sum
  }

  /** Commit-log resolution on a FRESH handle (no memoized commits): the
    * cost every new reader or writer of the table pays first. */
  def resolveLayer(op: Int, t: LakeTable): Unit = if (tracer.enabled) {
    val fresh = LakeTable(spark, t.config)
    val f0 = FsStats.now()
    val t0 = System.nanoTime()
    val live = tracer.span("commitlog.resolve")(fresh.log.liveFiles())
    layer(op, "commitlog.resolve_ms", (System.nanoTime() - t0) / 1e6)
    val d = FsStats.now() - f0
    layer(op, "commitlog.log_read_ops", (d.readOps + d.listOps).toDouble)
    layer(op, "commitlog.commits", fresh.log.latestId.map(_ + 1).getOrElse(0L).toDouble)
    layer(op, "commitlog.live_files", live.size.toDouble)
  }

  /** what a commit's FileAdd records say it wrote */
  def commitLayer(op: Int, t: LakeTable, id: Long, prefix: String): Unit =
    if (tracer.enabled) {
      val c = LakeTable(spark, t.config).log.read(id)
      val data = c.adds.filterNot(_.isDv)
      layer(op, s"$prefix.files_added", data.size.toDouble)
      layer(op, s"$prefix.files_removed", c.removes.size.toDouble)
      layer(op, s"$prefix.bytes_added", data.map(_.bytes).sum.toDouble)
      layer(op, s"$prefix.rows_written", data.map(_.rows).sum.toDouble)
    }
}

object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(work: String, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/wh")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new java.io.File(kv("work")).getAbsolutePath
    val cores = kv("cores").toInt
    val trace = kv.get("trace").contains("1")
    val spark = session(work, cores, trace)
    try kv("mode") match {
      case "stage" =>
        // staging self-test: stage each workload's inputs once per seed
        for (w <- kv("workloads").split(","); (seed, i) <- kv("seeds").split(",").zipWithIndex)
          Workloads.stageOnly(spark, w, seed.toLong, s"$work/stage/$w/$i")
      case "run" =>
        val tracer = new Tracer(spark, trace)
        val run = new Run(spark, work, kv("seed").toLong, kv("seconds").toDouble, tracer)
        run.phase("session up")
        Workloads.run(kv("workload"), run)
        run.phase("checks done")
        tracer.drain()
        write(kv("out"), run)
        if (tracer.traceRun)
          mapper.writeValue(new java.io.File(kv("spans")), tracer.allSpans().map(s =>
            Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
              "start" -> s.start, "end" -> s.end)))
    } finally spark.stop()
  }

  private def write(out: String, run: Run): Unit = {
    val t = run.tracer
    val qe = t.qeByOp()
    val ex = t.jobsByOp()
    val layers: Map[String, Map[String, Double]] = run.ops.filter(_.traced).map { o =>
      val own: Map[String, Double] = run.layers.get(o.id).map(_.toMap).getOrElse(Map.empty)
      o.id.toString -> (own ++ qe.getOrElse(o.id, Map.empty) ++ ex.getOrElse(o.id, Map.empty))
    }.toMap
    val doc = Map(
      "setup_s" -> run.setupS.toSeq,
      "timed_s" -> run.timedS,
      "ops" -> run.ops.map(o => Map("id" -> o.id, "cls" -> o.cls, "ms" -> o.ms,
        "ok" -> o.ok, "rows_in" -> o.rowsIn, "parts" -> o.parts, "warm" -> o.warm,
        "traced" -> o.traced)).toSeq,
      "checks" -> run.checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).toSeq,
      "facts" -> run.facts.toMap,
      "layers" -> layers)
    mapper.writeValue(new java.io.File(out), doc)
  }
}
