package railbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

import graft.SessionDefaults

/** Benchmark entry point: one workload, one JVM, `local[nproc]`, a single
  * closed-loop client. Prints the run's result as one JSON line (the
  * last line of stdout) and writes a self-explaining run record.
  *
  * {{{
  * railbench.Bench --workload daily_increments|gates --seed N
  *   --seconds S --trace 0|1 --work DIR --src SRC_ROOT --record FILE
  *   --fingerprints FILE --launched-ms T [--inject throw|count]
  *   [--write-fingerprints]
  * }}}
  */
object Bench {

  // Workload sizes. daily_increments: about 20 k history records over
  // 146 days, then 95 new records and 45 updates per day; gates: tables
  // at scale 0.01.
  private val HistoryDays = 146
  private val HistoryPerDay = 137
  private val DailyFresh = 95
  private val DailyUpdates = 45
  private val GateScale = 0.01

  private final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def flag(k: String): Boolean = m.contains(k)
  }

  private def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { m(k) = argv(i + 1); i += 2 }
      else { m(k) = "true"; i += 1 }
    }
    Args(m.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launchedMs = a("launched-ms").toLong
    val work = Paths.get(a("work"))
    val inject = a.get("inject")
    val cores = Runtime.getRuntime.availableProcessors()
    require(Set("daily_increments", "gates")(workload), s"unknown workload $workload")

    // the pipeline's own session shape (Main.main): the engine baseline
    // confs, local[n] with shuffle fan-out n, no UI
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"railbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3

    val spans = new Spans
    val listener = if (trace) Some(new LayerListener(new Layers(new File(a("src"))))) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new RunCtx(spark, work, seed, inject, spans, trace)

    val fpFile = Paths.get(a("fingerprints"))
    val w: Workload = workload match {
      case "daily_increments" =>
        new DailyIncrements(ctx, HistoryDays, HistoryPerDay, DailyFresh, DailyUpdates)
      case "gates" =>
        new Gates(ctx, GateScale,
          if (Files.exists(fpFile)) Json.readFlatStrings(Files.readString(fpFile)) else Map.empty,
          recording = a.flag("write-fingerprints"))
    }

    canary(spark, cores) // the session's first job: class loading and codegen
    val canaryBefore = canary(spark, cores)
    val failures = mutable.ArrayBuffer.empty[Sample]
    val prepStart = System.nanoTime()
    val prepErr =
      try { w.prepare(); None }
      catch { case e: Exception => Some(s"setup: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val prepareS = (System.nanoTime() - prepStart) / 1e9

    // warm-up at bench scale, in this JVM: a fixed number of untimed
    // units, so every run measures at the same point of the JIT slope
    var unitIx = 0
    val warmWalls = mutable.ArrayBuffer.empty[Double]
    var warmSamples = 0
    while (prepErr.isEmpty && warmWalls.size < w.warmUnits) {
      val t0 = System.nanoTime()
      val ss = w.warmUnit(unitIx)
      warmWalls += (System.nanoTime() - t0) / 1e9
      warmSamples += ss.size
      failures ++= ss.filterNot(_.ok)
      unitIx += 1
    }
    val setupS = (System.currentTimeMillis() - launchedMs) / 1e3

    // timed phase: whole units, as many as fill the time at the nominal
    // unit wall, so every run times the same work
    val units = if (prepErr.isDefined) 0
      else Seq(w.minUnits, if (trace) 2 else 1, math.round(seconds / w.unitSeconds).toInt).max
    val timed = mutable.ArrayBuffer.empty[Sample]
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    for (_ <- 0 until units) {
      val ss = w.unit(unitIx, trace)
      timed ++= ss
      if (trace) ss.find(s => s.traced && s.ok).foreach(s => w.isolatedCalls(s.op))
      unitIx += 1
    }
    val timedPhaseS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    failures ++= timed.filterNot(_.ok)
    val canaryAfter = canary(spark, cores)
    ListenerBusDrain(spark.sparkContext)

    if (a.flag("write-fingerprints")) w match {
      case g: Gates =>
        Files.writeString(fpFile, Json.render(g.fingerprints.toSeq.sortBy(_._1)) + "\n")
      case _ =>
    }

    // ---- end-to-end metrics (untraced executions only)
    val good = timed.filter(s => s.ok && !s.traced)
    val ops = w.ops(good.toSeq).map(_.seconds)
    val reruns = good.filter(_.kind == "rerun").map(_.seconds)
    val (tailV, tailP) = Stats.tail(ops.toSeq)
    val throughput = good.map(_.units).sum / math.max(good.map(_.seconds).sum, 1e-9)
    // every warm and timed execution is an attempt, and so is the setup
    val attempted = warmSamples + timed.size + prepErr.size
    val failed = failures.size + prepErr.size
    val unitName = w match {
      case _: Gates => "gates/s"
      case _ => "records/s"
    }
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("op_p50_s", Stats.median(ops.toSeq), "s", ops.size),
      ("op_tail_s", tailV, "s", ops.size),
      ("rerun_p50_s", Stats.median(reruns.toSeq), "s", reruns.size),
      ("throughput_per_s", throughput, "1/s", good.size))

    // ---- per-layer metrics (traced executions)
    val layer = if (trace) Some(PerLayer(ctx, w, timed.toSeq, listener.get, spans,
      canaryBefore, canaryAfter, warmWalls.size)) else None

    // drift flag: the second half of the timed executions of each kind
    // (gates: of each gate) against the first half, as a median ratio
    val drift = good.groupBy(w.pairKey).values
      .filter(_.size >= 2).map { ss =>
        val ts = ss.sortBy(_.startMs).map(_.seconds)
        val half = ts.size / 2
        Stats.median(ts.drop(ts.size - half).toSeq) / Stats.median(ts.take(half).toSeq)
      }.toSeq
    val driftRatio = if (drift.isEmpty) None else Some(Stats.median(drift))
    val halvesDisagree = driftRatio.exists(r => r > 1.2 || r < 1 / 1.2)

    val byGate = timed.filter(_.ok).groupBy(_.label).toSeq.sortBy(_._1).map { case (g, ss) =>
      val ts = ss.map(_.seconds)
      g -> Seq("n" -> ts.size, "min_s" -> ts.min, "max_s" -> ts.max,
        "pass_disagreement" -> (ts.max > 3 * ts.min))
    }
    val failureList = failures.map(s => Seq("kind" -> s.kind, "label" -> s.label,
      "error" -> s.error.getOrElse(""))) ++
      prepErr.toSeq.map(e => Seq("kind" -> "setup", "label" -> "", "error" -> e))

    val metricsOut = layer.map(_.metrics).getOrElse(e2e)
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "inputs" -> w.inputs,
      "setup" -> Seq("setup_s" -> setupS, "session_s" -> sessionS, "prepare_s" -> prepareS,
        "warmup_passes" -> warmWalls.size, "warm_unit_s" -> warmWalls.toSeq,
        // last warm unit against the one before it: 1.0 means warm
        "warm_last_over_previous" -> (if (warmWalls.size >= 2)
          Some(warmWalls.last / warmWalls(warmWalls.size - 2)) else None)),
      "timed_phase_s" -> timedPhaseS, "timed_gc_s" -> gcS, "units" -> units,
      "metrics" -> e2e.map { case (n, v, u, k) =>
        n -> Seq("value" -> v, "unit" -> (if (n == "throughput_per_s") unitName else u), "n" -> k)
      },
      "op_tail" -> Seq("percentile" -> tailP, "n" -> ops.size),
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(attempted, 1),
      "failures" -> failureList.toSeq,
      "canary_s" -> Seq("before" -> canaryBefore, "after" -> canaryAfter),
      "halves" -> Seq("second_over_first" -> driftRatio, "disagree" -> halvesDisagree),
      "labels" -> byGate,
      "per_layer" -> layer.map(_.record).getOrElse(Nil),
      "samples" -> timed.toSeq.map(s => Seq("kind" -> s.kind, "label" -> s.label,
        "s" -> s.seconds, "ok" -> s.ok, "traced" -> s.traced)),
      "spans" -> spans.all.map(s => Seq("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    val recordPath = Paths.get(a("record"))
    Files.createDirectories(recordPath.getParent)
    Files.writeString(recordPath, Json.render(record) + "\n")

    failureList.foreach(f => System.err.println(s"FAILED ${Json.render(f)}"))
    val correct = failed == 0
    println(s"record: $recordPath")
    println(Json.render(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsOut.map { case (n, v, u, _) => n -> Seq("value" -> v, "unit" -> u) })))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** The repo bench's fixed-work load canary at a quarter of its size:
    * CPU-bound, no I/O, no state, so its wall time moves only with load
    * from outside this run.
    */
  private def canary(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    // bounded-collect: one global aggregate row
    spark.range(0L, 100000000L, 1L, cores).agg(expr("sum(id % 7 + id % 11)")).collect()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Order statistics of a sample. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile (nearest rank) with at least ten
    * samples above it. With ten samples or fewer no percentile has, and
    * the median stands in. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    def rank(p: Int) = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
    (99 to 1 by -1).find(p => n - rank(p) - 1 >= 10)
      .map(p => (s(rank(p)), p)).getOrElse((median(xs), 50))
  }
}

/** Minimal JSON rendering of nested Seq[(String, Any)] objects, lists,
  * strings, numbers and booleans.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
          case (_: String, _) => true
          case _ => false
        } => kv.map { case (k: String, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  /** Reads a flat {"key": "value", ...} object. */
  def readFlatStrings(s: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
}
