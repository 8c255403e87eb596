package graft.dev

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Bench, SessionDefaults, SparkEntry, Tables}

/** Dev measurement tool for single gates. Every mode runs on the
  * engine's own session ([[SessionDefaults]], the planner Bench and
  * Verify run), warms the input tables once and evaluates gates
  * through Bench's noop sink, so a probe measures what the bench
  * times.
  *
  * Usage: runMain graft.dev.Probe <mode> <sfDir> [gate...]
  * (no gate: every registered gate, in name order)
  *
  *  - `time`: per gate, a warm run, then the min of two timed runs.
  *  - `layers`: per gate, after two warm runs, the build / plan / exec
  *    split of the fixed per-query cost — build is `fn(spark, dir)`,
  *    plan forces `executedPlan`, exec is the noop write of the SAME
  *    frame (it re-plans, so exec minus plan is approximate). Control
  *    rows first: `floor1` (noop write of one row, one task), `floor32`
  *    (a small shuffle over `SPARK_GRAFT_CPUS` partitions) and `load`
  *    (resolving every table through `Tables.load`).
  *  - `plan[:outDir]`: `explain("formatted")` per gate into
  *    `outDir/<gate>.txt` (default `/tmp/plans`).
  *  - `audit`: per gate, the scale hazards of the physical plan —
  *    SortAggregate demotions, CartesianProduct and
  *    BroadcastNestedLoopJoin (benign when the build side is a 1-row
  *    scalar) — and its Exchange count.
  *  - `slopes`: `sfDir` is a comma-separated ladder of scale dirs; per
  *    gate and rung, wall seconds and summed task bytes (input, shuffle
  *    written/read) and the worst stage skew, then growth ratios over
  *    the last rung step. The timed run pays the session-cached shared
  *    builds (edge frames, ANN models) too.
  *  - `stream`: for the streaming gates, cold and warm wall time plus
  *    the warm run's micro-batch cost by component, summed from the
  *    engine's own progress events.
  *
  * An unknown mode or gate exits with status 2 before any work.
  */
object Probe {

  private val modes = Set("time", "layers", "plan", "audit", "slopes", "stream")

  private def fail(msg: String): Nothing = {
    System.err.println(s"Probe: $msg\nusage: Probe <${modes.toSeq.sorted.mkString("|")}> <sfDir> [gate...]")
    sys.exit(2)
  }

  private def secs[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) fail("missing <mode> <sfDir>")
    val (mode, modeArg) = args(0).span(_ != ':')
    if (!modes(mode)) fail(s"unknown mode ${args(0)}")
    val dirs = args(1).split(",").toSeq
    val registry = SparkEntry.queries
    val gates = if (args.length > 2) args.drop(2).toSeq else registry.keys.toSeq.sorted
    val unknown = gates.filterNot(registry.contains)
    if (unknown.nonEmpty) fail(s"unknown gate ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach(Bench.warmTables(spark, _))
    val dir = dirs.head

    mode match {
      case "time" =>
        val qs = gates.map(n => n -> registry(n))
        Bench.timedPass(spark, dir, qs)
        val p1 = Bench.timedPass(spark, dir, qs)
        val p2 = Bench.timedPass(spark, dir, qs)
        p1.zip(p2).foreach {
          case ((n, Some(a)), (_, Some(b))) => println(f"TIMED $n%-32s ${math.min(a, b)}%7.3f s")
          case ((n, _), _) => println(f"TIMED $n%-32s  FAILED")
        }

      case "layers" =>
        def floor1(): Unit = Bench.evaluate(spark.range(1).toDF())
        def floor32(): Unit = Bench.evaluate(
          spark.range(0L, 1000L, 1L, cpus.toInt).groupBy(expr("id % 7")).count())
        def loadAll(): Unit = Tables.names.foreach(n =>
          try Tables.load(spark, dir, n)
          catch { case _: org.apache.spark.sql.AnalysisException => () })
        def minOf3(f: () => Unit): Double = {
          f(); f(); f()
          (1 to 3).map(_ => secs(f())._1).min
        }
        println(f"CONTROL floor1=${minOf3(floor1)}%.3f floor32=${minOf3(floor32)}%.3f load=${minOf3(loadAll)}%.4f")
        gates.foreach { n =>
          val fn = registry(n)
          for (_ <- 1 to 2) Bench.evaluate(fn(spark, dir))
          val (tb, df) = secs(fn(spark, dir))
          val (tp, _) = secs(df.queryExecution.executedPlan)
          val (te, _) = secs(Bench.evaluate(df))
          println(f"LAYERS $n%-32s build=$tb%.3f plan=$tp%.3f exec=$te%.3f total=${tb + te}%.3f")
        }

      case "plan" =>
        val outDir = Paths.get(if (modeArg.length > 1) modeArg.drop(1) else "/tmp/plans")
        Files.createDirectories(outDir)
        gates.foreach { n =>
          val txt =
            try registry(n)(spark, dir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}\n" }
          val out = outDir.resolve(s"$n.txt")
          Files.writeString(out, txt)
          println(s"PLAN $n $out")
        }

      case "audit" =>
        gates.foreach { n =>
          try {
            val plan = registry(n)(spark, dir).queryExecution.executedPlan.toString
            val flags = Seq("SortAggregate", "CartesianProduct", "BroadcastNestedLoopJoin")
              .filter(plan.contains)
            val nEx = "Exchange".r.findAllIn(plan).length
            println(s"AUDIT $n exchanges=$nEx flags=${if (flags.isEmpty) "-" else flags.mkString(",")}")
          } catch { case e: Throwable => println(s"AUDIT $n ERR ${e.getClass.getSimpleName}") }
        }

      case "slopes" =>
        val listener = new TaskMetricsListener
        spark.sparkContext.addSparkListener(listener)
        final case class Row(sec: Double, inB: Long, swB: Long)
        def mb(b: Long): Double = b / 1e6
        def rung(d: String): String = d.split('/').last
        println(f"${"gate"}%-32s ${"sf"}%-8s ${"sec"}%8s ${"read MB"}%10s ${"shufW MB"}%10s ${"shufR MB"}%10s ${"tskew"}%6s ${"maxT ms"}%8s")
        val rows = gates.map { n =>
          n -> dirs.map { d =>
            Bench.evaluate(registry(n)(spark, d)) // warm: Janino + AQE shape
            graft.queries.GraphGateSource.invalidate()
            graft.similarity.TrainedModels.invalidate()
            // the listener bus is asynchronous: drain before reset and
            // after the run so rungs don't bleed into each other
            Thread.sleep(500); listener.reset()
            val (sec, _) = secs(Bench.evaluate(registry(n)(spark, d)))
            Thread.sleep(500)
            val (skew, maxMs) = listener.worstStageSkew()
            val r = Row(sec, listener.input.sum, listener.shufW.sum)
            println(f"$n%-32s ${rung(d)}%-8s $sec%8.3f ${mb(r.inB)}%10.2f ${mb(r.swB)}%10.2f ${mb(listener.shufR.sum)}%10.2f $skew%6.1f $maxMs%8d")
            System.out.flush()
            r
          }
        }
        if (dirs.length >= 2) {
          println(f"%nRATIOS ${rung(dirs(dirs.length - 2))} -> ${rung(dirs.last)}")
          println(f"${"gate"}%-32s ${"sec x"}%8s ${"read x"}%8s ${"shufW x"}%8s")
          def ratio(x: Long, y: Long): String = if (x <= 0) "-" else f"${y.toDouble / x}%.1f"
          rows.foreach { case (n, rs) =>
            val (a, b) = (rs(rs.length - 2), rs.last)
            println(f"$n%-32s ${b.sec / math.max(a.sec, 1e-3)}%8.1f ${ratio(a.inB, b.inB)}%8s ${ratio(a.swB, b.swB)}%8s")
          }
        }

      case "stream" =>
        val durations = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
        val batches = new java.util.concurrent.atomic.AtomicInteger
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            batches.incrementAndGet()
            e.progress.durationMs.forEach((k, v) => durations.merge(k, v, (a, b) => a + b))
          }
        })
        def run(n: String): Double = {
          durations.clear(); batches.set(0)
          val (wall, _) = secs(Bench.evaluate(registry(n)(spark, dir)))
          Thread.sleep(300) // drain the async listener bus
          wall
        }
        gates.foreach { n =>
          val cold = run(n)
          val warm = run(n)
          val parts = durations.asScala.toSeq.sortBy(-_._2.longValue)
            .map { case (k, v) => f"$k=${v / 1000.0}%.2fs" }.mkString(" ")
          println(f"STREAM $n%-32s cold=$cold%6.2fs warm=$warm%6.2fs batches=${batches.get} $parts")
        }
    }
    spark.stop()
  }
}
