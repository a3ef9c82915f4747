package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, with Spark
  * counters attributed to them.
  *
  * Disabled, `span` only runs its body. Enabled, each span sets a Spark
  * job group; a `SparkListener` sums every job's counters under its
  * group, and a `QueryExecutionListener` records each finished query's
  * file-scan statistics. Each job is also attributed to the program
  * layer that submitted it: the innermost `graft.*` frame of the job's
  * call site names the module, and the outermost consecutive frame of
  * that module names its public entry point. Spans live in memory and
  * are written as JSONL at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  private val scans = new java.util.concurrent.ConcurrentLinkedQueue[Scan]()
  private val finished = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(NoGroup)
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      jobStart.put(e.jobId, (e.time, entryOf(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val g = Option(jobGroup.remove(e.jobId)).getOrElse(NoGroup)
      val (t0, entry) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, Other))
      counters(g).addJob(entry, (e.time - t0) / 1000.0)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      counters(Option(stageGroup.get(e.stageInfo.stageId)).getOrElse(NoGroup)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(Option(stageGroup.get(e.stageId)).getOrElse(NoGroup))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskDurations += e.taskInfo.duration
        if (m != null) {
          c.runS += m.executorRunTime / 1000.0
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scans.add(scanOf(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `f` as a span named `name`. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(nextId, parent, name, runId)
      nextId += 1
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      stack = s :: stack
      val scansBefore = scans.size
      s.startNs = System.nanoTime()
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
        PerfbenchBus.drain(sc)
        s.self = counters(s"span-${s.id}")
        s.scans = scans.asScala.drop(scansBefore).toVector
        finished += s
      }
    }

  def spans: Seq[Span] = finished.toSeq

  /** Finished spans named `name`. */
  def named(name: String): Seq[Span] = finished.filter(_.name == name).toSeq

  /** Counters of `s` and every span below it. */
  def inclusive(s: Span): Counters = {
    val out = new Counters
    def add(x: Span): Unit = {
      out.merge(x.self)
      finished.filter(_.parent == x.id).foreach(add)
    }
    add(s)
    out
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = finished.sortBy(_.id).map { s =>
      val c = inclusive(s)
      Harness.Json.writeValueAsString(scala.collection.immutable.ListMap(
        "run" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "dur_s" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_run_s" -> c.runS, "input_bytes" -> c.inputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "output_bytes" -> c.outputBytes,
        "task_skew" -> c.skew,
        "job_s_by_entry" -> scala.collection.immutable.ListMap(c.byEntry.toSeq.sortBy(_._1).map {
          case (k, (n, t)) => k -> Map("jobs" -> n, "s" -> t) }: _*),
        "files_read" -> s.scans.map(_.filesRead).sum))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val NoGroup = "(none)"
  val Other = "other"

  /** Spark counters summed over a set of jobs. */
  final class Counters {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var runS = 0.0
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
    val taskDurations = mutable.ArrayBuffer.empty[Long]
    /** entry point ("store.upsert", ...) -> (jobs, summed job seconds) */
    val byEntry = mutable.Map.empty[String, (Int, Double)]

    def addJob(entry: String, seconds: Double): Unit = synchronized {
      jobs += 1
      val (n, t) = byEntry.getOrElse(entry, (0, 0.0))
      byEntry(entry) = (n + 1, t + seconds)
    }

    def merge(o: Counters): Unit = synchronized {
      o.synchronized {
        jobs += o.jobs; stages += o.stages; tasks += o.tasks
        taskDurations ++= o.taskDurations
        runS += o.runS; inputBytes += o.inputBytes
        shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
        o.byEntry.foreach { case (k, (n, t)) =>
          val (n0, t0) = byEntry.getOrElse(k, (0, 0.0))
          byEntry(k) = (n0 + n, t0 + t)
        }
      }
    }

    /** Jobs and summed job seconds whose entry point starts with `prefix`. */
    def entry(prefix: String): (Int, Double) =
      byEntry.filter(_._1.startsWith(prefix)).values
        .foldLeft((0, 0.0)) { case ((n, t), (n1, t1)) => (n + n1, t + t1) }

    /** Longest task time over the median task time (1 = even). */
    def skew: Double =
      if (taskDurations.isEmpty) 0.0
      else taskDurations.max / math.max(1.0, Stats.median(taskDurations.map(_.toDouble).toSeq))
  }

  /** File-scan statistics of one finished query. */
  final case class Scan(filesRead: Long, rowsOut: Long)

  final class Span(val id: Int, val parent: Int, val name: String, val runId: String) {
    var startNs = 0L
    var endNs = 0L
    var self: Counters = new Counters
    var scans: Vector[Scan] = Vector.empty
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val Frame = """graft\.((?:\w+\.)*)(\w+)\$?\.([\w$]+)\(""".r

  private val Layers = Map(
    "VectorStore" -> "store", "Ledger" -> "ledger", "IngestJob" -> "ingest",
    "VectorIndex" -> "index", "BatchedEmbedder" -> "embed", "ParseOps" -> "parse",
    "Tables" -> "tables")

  /** "layer.entry" for a job's long call site (see the class doc). */
  def entryOf(callSite: String): String = {
    val frames = callSite.linesIterator.flatMap(l => Frame.findFirstMatchIn(l)).map { m =>
      val method = m.group(3).split('$').filter(_.nonEmpty) match {
        case Array("anonfun", name, _*) => name
        case parts if parts.nonEmpty    => parts.head
        case _                          => m.group(3)
      }
      (m.group(1) + m.group(2), m.group(2), method)
    }.toVector
    frames.headOption match {
      case None => Other
      case Some((pkgObj, obj, _)) =>
        val entry = frames.takeWhile(_._1 == pkgObj).last._3
        val layer = Layers.getOrElse(obj, if (pkgObj.startsWith("queries.")) "query" else obj)
        s"$layer.$entry"
    }
  }

  /** Files read and rows produced by the file scans of a finished plan. */
  def scanOf(plan: SparkPlan): Scan = {
    var files = 0L
    var rows = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case f: FileSourceScanExec    =>
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other                    =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Scan(files, rows)
  }
}
