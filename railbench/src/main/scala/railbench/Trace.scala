package railbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval of the run: an op, an isolated layer call or a
  * gate phase. Times are wall-clock milliseconds so they line up with
  * Spark's listener event times.
  */
final case class Span(name: String, op: Int, parent: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** In-memory span recorder; written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def record(s: Span): Unit = buf.synchronized(buf += s)

  def apply[A](name: String, op: Int, parent: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    val a = f
    record(Span(name, op, parent, t0, System.currentTimeMillis()))
    a
  }

  def all: Seq[Span] = buf.synchronized(buf.toSeq)
}

/** Maps a Spark call site ("count at TableStore.scala:97") to the repo
  * module whose source file it names. The table is built from the
  * source tree, so files added to a package are attributed without
  * touching the benchmark. A call site in a file outside the repo's
  * sources is the harness driving execution (a gate's noop write), so
  * it counts as `engine`.
  */
final class Layers(srcRoot: File) {
  private val byFile: Map[String, String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(srcRoot).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = srcRoot.toPath.relativize(f.toPath).toString
      f.getName -> layerOf(rel)
    }.toMap
  }

  private def layerOf(rel: String): String = rel.split(File.separatorChar).toList match {
    case "Main.scala" :: Nil => "pipeline"
    case ("SparkEntry.scala" | "Tables.scala") :: Nil => "queries"
    case pkg :: _ :: _ => pkg match {
      case "sources" | "etl" | "store" | "analytics" | "queries" | "plans" => pkg
      case _ => "engine"
    }
    case _ => "engine"
  }

  private val site = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r

  /** The layer of a call site, or None when it names no source file. */
  def of(callSite: String): Option[String] =
    site.findFirstMatchIn(callSite).map(m => byFile.getOrElse(m.group(1), "engine"))
}

/** Attributes Spark work to repo modules. Each job is tied to its SQL
  * execution through `spark.sql.execution.id`, and each execution to a
  * layer through the source file of its call site (job call sites are
  * useless under AQE: most name `CompletableFuture.java`). A job also
  * carries the op id the calling thread set as a local property, so
  * listener events, which arrive asynchronously, land on the right op.
  */
final class LayerListener(layers: Layers) extends SparkListener {
  import LayerListener._

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // per (op, stage): task run times, for the stage skew
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val counters = new ConcurrentHashMap[(Int, String), Array[Long]]()

  private def add(op: Int, key: String, v: Long): Unit = {
    val a = counters.computeIfAbsent((op, key), _ => Array(0L))
    a.synchronized(a(0) += v)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      // a nested execution inherits its root's layer when its own call
      // site names no repo file
      val root = s.rootExecutionId.filter(_ != s.executionId).flatMap(r => Option(execs.get(r)))
      val layer = layers.of(s.description).orElse(layers.of(s.details.linesIterator.take(1).mkString))
        .orElse(root.map(_.layer)).getOrElse("other")
      execs.put(s.executionId, Exec(layer, s.time, s.time))
    case e: SparkListenerSQLExecutionEnd =>
      Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // a job outside any SQL execution (file listing, schema inference)
    // is attributed by its first stage's call site
    val site = j.stageInfos.sortBy(_.stageId).headOption.flatMap(s => layers.of(s.name))
    jobs.put(j.jobId, Job(op, exec, site, j.time, j.time))
    j.stageIds.foreach(s => stageJob.put(s, j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val job = Option(stageJob.get(t.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null && job.isDefined && job.get.op >= 0) {
      val op = job.get.op
      add(op, "tasks", 1)
      add(op, "run_ms", m.executorRunTime)
      add(op, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(op, "spill_bytes", m.diskBytesSpilled)
      add(op, "input_bytes", m.inputMetrics.bytesRead)
      if (layerOfJob(job.get) == "store") add(op, "store_bytes", m.outputMetrics.bytesWritten)
      val q = stageTasks.computeIfAbsent((op, t.stageId), _ => mutable.ArrayBuffer.empty[Long])
      q.synchronized(q += m.executorRunTime)
    }
  }

  private def layerOfJob(j: Job): String =
    j.exec.flatMap(e => Option(execs.get(e))).map(_.layer).orElse(j.site).getOrElse("other")

  /** What the listener saw for one op, given the op's wall interval. */
  def summary(op: Int, startMs: Long, endMs: Long): OpTrace = {
    val opJobs = jobs.values.asScala.filter(_.op == op).toSeq
    val execIds = opJobs.flatMap(_.exec).distinct
    val opExecs = execIds.flatMap(e => Option(execs.get(e)))
    def union(iv: Seq[(Long, Long)]): Long = {
      var covered = 0L
      var reach = Long.MinValue
      for ((s, e) <- iv.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
             .filter { case (s, e) => e > s }.sortBy(_._1)) {
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      covered
    }
    val jobIv = opJobs.map(j => j.startMs -> j.endMs)
    val byLayer = opJobs.groupBy(layerOfJob).map { case (l, js) =>
      l -> union(js.map(j => j.startMs -> j.endMs)) / 1e3
    }
    // worst max/median task time over stages of at least four tasks
    // whose slowest task ran 100 ms or more: tiny stages are all jitter
    val skews = stageTasks.asScala.collect {
      case ((o, _), ts) if o == op && ts.size >= 4 => ts.synchronized(ts.sorted)
    }.collect {
      case s if s.last >= 100 => s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
    def c(k: String): Long = Option(counters.get((op, k))).map(_(0)).getOrElse(0L)
    OpTrace(
      jobs = opJobs.size,
      sqlExecs = execIds.size,
      jobsByLayer = opJobs.groupBy(layerOfJob).map { case (l, js) => l -> js.size },
      jobSecondsByLayer = byLayer,
      execSecondsByLayer = opExecs.groupBy(_.layer).map { case (l, es) =>
        l -> union(es.map(e => e.startMs -> e.endMs)) / 1e3
      },
      jobSeconds = union(jobIv) / 1e3,
      tasks = c("tasks"), runMs = c("run_ms"), shuffleBytes = c("shuffle_bytes"),
      spillBytes = c("spill_bytes"), inputBytes = c("input_bytes"),
      storeBytes = c("store_bytes"),
      maxStageSkew = if (skews.isEmpty) 1.0 else skews.max)
  }
}

object LayerListener {
  /** Local property carrying the op id from the calling thread to jobs. */
  val OpProperty = "railbench.op"

  private final case class Exec(layer: String, startMs: Long, var endMs: Long)
  private final case class Job(
      op: Int, exec: Option[Long], site: Option[String], startMs: Long, var endMs: Long)
}

/** The listener's view of one op. */
final case class OpTrace(
    jobs: Int, sqlExecs: Int, jobsByLayer: Map[String, Int],
    jobSecondsByLayer: Map[String, Double], execSecondsByLayer: Map[String, Double],
    jobSeconds: Double, tasks: Long, runMs: Long, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, storeBytes: Long, maxStageSkew: Double)
