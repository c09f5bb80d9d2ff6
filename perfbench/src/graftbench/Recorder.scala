package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of the closed loop. Times are seconds since the run
  * started; `wrong` marks an op that returned but failed its check. */
final case class OpRec(id: Int, kind: String, rows: Long, t0: Double, t1: Double,
    ok: Boolean, wrong: Boolean, error: String, layer: Map[String, Double])

/** A traced interval: spans of one op share `op`; `parent` is -1 for a
  * root. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int)

/** Handle an op body gets: named child spans, layer values it knows
  * itself, and work to run after its interval closes (traced run
  * only). */
final class Ctx(rec: Recorder, val opId: Int, val traced: Boolean) {
  val layer = mutable.Map[String, Double]()
  private[graftbench] val after = mutable.Buffer[() => Unit]()
  def span[A](name: String)(body: => A): A = rec.span(name, opId)(body)
  def put(k: String, v: Double): Unit = layer(k) = v
  def afterOp(body: => Unit): Unit = if (traced) after += (() => body)
}

/** Runs ops, times them and checks their outputs. With a [[Tracer]],
  * it also records spans and per-layer counters around each op. */
final class Recorder(val tracer: Option[Tracer]) {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - origin) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originEpochMs) / 1e3

  val ops = mutable.ArrayBuffer[OpRec]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Untimed output checks: (name, passed, detail). */
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** False during set-up and warm-up: nothing is recorded then. */
  var recording = false
  private var nextOp = 0
  private var nextSpan = 0
  private var stack: List[Int] = Nil

  def span[A](name: String, op: Int)(body: => A): A =
    if (tracer.isEmpty || !recording) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, now(), parent, op)
      }
    }

  private[graftbench] def childSpan(name: String, start: Double, end: Double,
      parent: Int, op: Int): Unit = {
    spans += Span(nextSpan, name, start, end, parent, op); nextSpan += 1
  }

  /** Untimed check outside any op; a failure is a wrong answer. */
  def check(name: String)(body: => Unit): Unit = {
    val (ok, detail) =
      try { body; (true, "") } catch { case NonFatal(e) => (false, Recorder.msg(e)) }
    if (recording || !ok) checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[graftbench] check $name FAILED: $detail")
  }

  /** Time `body` as one op of `kind`. `probes` are layer calls timed
    * from outside the op (traced run only), `dirs` the table
    * directories whose files the traced run compares around it, and
    * `check` verifies the result untimed. Returns the result unless the
    * op threw. */
  def op[A](kind: String, rows: Long, dirs: Seq[Path] = Nil,
      probes: Seq[(String, () => Any)] = Nil)(body: Ctx => A)(
      check: A => Unit): Option[A] = {
    val id = nextOp; nextOp += 1
    val traced = tracer.isDefined && recording
    val ctx = new Ctx(this, id, traced)
    if (traced) probes.foreach { case (name, f) =>
      val t = now()
      span(name, id)(f())
      ctx.put(name, now() - t)
    }
    if (traced) tracer.get.before(dirs)
    val opSpan = nextSpan
    val t0 = now()
    val res = try Right(span("op." + kind, id)(body(ctx)))
      catch { case NonFatal(e) => Left(e) }
    val t1 = now()
    if (traced) {
      tracer.get.after(this, ctx, opSpan, t0, t1, rows, dirs)
      ctx.after.foreach(_())
    }
    val (ok, wrong, err) = res match {
      case Left(e) => (false, false, Recorder.msg(e))
      case Right(a) =>
        try { check(a); (true, false, "") }
        catch { case NonFatal(e) => (false, true, "wrong answer: " + Recorder.msg(e)) }
    }
    if (recording) ops += OpRec(id, kind, rows, t0, t1, ok, wrong, err, ctx.layer.toMap)
    if (!ok && (wrong || !recording))
      System.err.println(s"[graftbench] op $kind failed: $err")
    res.toOption
  }
}

object Recorder {
  def msg(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(2).mkString(" ").take(300)
}

/** Spark and filesystem counters around an op: a [[SparkListener]]
  * for jobs, stages and tasks, a [[QueryExecutionListener]] for
  * Catalyst phase times, and a walk of the op's table directories. */
final class Tracer(spark: SparkSession, cores: Int) {
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long)

  private val jobStart = mutable.Map[Int, Long]()
  private val jobs = mutable.Buffer[(Long, Long)]()
  private val tasks = mutable.Buffer[Task]()
  private val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var queries = 0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      queries += 1
      qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs / 1e3 }
    }
  })

  private var filesBefore: Map[Path, Long] = Map()
  private var gcBefore = 0L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def reset(): Unit = synchronized {
    jobStart.clear(); jobs.clear(); tasks.clear(); phases.clear(); queries = 0
  }

  def before(dirs: Seq[Path]): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    reset()
    filesBefore = Tracer.files(dirs)
    gcBefore = gcMs()
  }

  def after(rec: Recorder, ctx: Ctx, opSpan: Int, t0: Double, t1: Double,
      rows: Long, dirs: Seq[Path]): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val put = ctx.put _
    val wall = t1 - t0
    synchronized {
      jobs.foreach { case (s, e) =>
        rec.childSpan("exec.job", rec.fromEpochMs(s), rec.fromEpochMs(e), opSpan, ctx.opId)
      }
      put("exec.jobs", jobs.size)
      put("exec.stages", tasks.map(_.stage).distinct.size)
      put("exec.tasks", tasks.size)
      val run = tasks.map(_.runMs).sum / 1e3
      put("exec.task_s", run)
      put("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
      put("exec.gc_s", tasks.map(_.gcMs).sum / 1e3)
      put("exec.core_idle_share", 1.0 - run / (wall * cores))
      put("exec.max_task_share",
        if (run > 0) tasks.map(_.runMs).max / 1e3 / run else 0.0)
      put("exec.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum)
      put("exec.shuffle_read_bytes", tasks.map(_.shuffleRead).sum)
      put("exec.spill_bytes", tasks.map(_.spill).sum)
      put("exec.input_bytes", tasks.map(_.input).sum)
      // the stage that wrote the most bytes: its task count is the
      // parallelism the data write got
      val byStage = tasks.groupBy(_.stage).filter(_._2.exists(_.output > 0))
      put("exec.write_stage_tasks",
        if (byStage.isEmpty) 0 else byStage.maxBy(_._2.map(_.output).sum)._2.size)
      put("catalyst.queries", queries)
      Seq("analysis", "optimization", "planning").foreach(p =>
        put(s"catalyst.${p}_s", phases(p)))
    }
    put("exec.cached_frames_left", spark.sparkContext.getPersistentRDDs.size)
    put("jvm.gc_s", (gcMs() - gcBefore) / 1e3)
    if (dirs.nonEmpty) {
      val now = Tracer.files(dirs)
      val fresh = now.keySet -- filesBefore.keySet
      val freshData = fresh.filter(Tracer.isData)
      val rowsWritten = freshData.toSeq.map(Tracer.footerRows).sum
      put("store.files_written", freshData.size)
      put("store.bytes_written", fresh.toSeq.map(now).sum)
      put("store.write_amp", if (rows > 0) rowsWritten.toDouble / rows else 0.0)
      put("store.buckets_touched", freshData.map(_.getParent).size)
      put("store.files_live", now.keySet.count(Tracer.isData))
      put("store.bytes_live", now.values.sum)
      put("store.snapshots_live", dirs.map(d =>
        if (!Files.isDirectory(d)) 0
        else Files.list(d).iterator.asScala.count(p =>
          Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))).sum)
    }
  }
}

object Tracer {
  def files(dirs: Seq[Path]): Map[Path, Long] =
    dirs.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toList
      finally s.close()
    }.toMap

  def isData(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  def footerRows(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}
