package railbench

import java.nio.file.Path
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Main, SparkEntry}
import graft.analytics.NsQueries
import graft.etl.{Clock, DisruptionCleaner}
import graft.sources.RawSource

/** One execution. `kind` is "op", "rerun" or "warm". A failed execution carries
  * its error and never counts as a timing. `op` is the trace id of a
  * traced execution, -1 otherwise.
  */
final case class Sample(
    kind: String, label: String, seconds: Double, error: Option[String],
    startMs: Long, endMs: Long, op: Int, units: Long) {
  def ok: Boolean = error.isEmpty
  def traced: Boolean = op >= 0
}

/** What one run shares between its workload and the harness. */
final class RunCtx(
    val spark: SparkSession, val work: Path, val seed: Long,
    val inject: Option[String], val spans: Spans, val tracing: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private var opSeq = 0
  private val injected = mutable.Set.empty[String]

  /** True exactly once per fault kind: where a self-test fault lands. */
  def injectNow(kind: String): Boolean = inject.contains(kind) && injected.add(kind)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `f` as one timed execution; `f` returns an error message when
    * the output is wrong. A traced execution tags its Spark jobs with a
    * fresh op id, which the listener attributes them to.
    */
  def timed(kind: String, label: String, traced: Boolean, units: Long)(
      f: Int => Option[String]): Sample = {
    val op = if (traced) { opSeq += 1; opSeq } else -1
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerListener.OpProperty, if (traced) op.toString else null)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val err =
      try {
        if (injectNow("throw")) throw new IllegalStateException("self-test: injected op failure")
        f(op)
      } catch {
        case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally sc.setLocalProperty(LayerListener.OpProperty, null)
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    if (traced) spans.record(Span(s"$kind:$label", op, "", t0, t1))
    System.err.println(f"railbench: $kind%-5s $label%-28s $secs%8.3f s${err.map(" FAILED " + _).getOrElse("")}")
    Sample(kind, label, secs, err, t0, t1, op, units)
  }

  /** An isolated layer call on `df`, timed as a child span of op `op`. */
  private def isolated(name: String, op: Int)(df: => DataFrame): Unit =
    spans(name, op, "isolated")(noop(df))

  /** The reader alone, the cleaner on cached raw rows, and gold stats on
    * cached silver rows (`silver` derives them from the raw rows): each
    * pipeline layer's own cost, isolated from the rest of the pipeline.
    */
  def pipelineLayerCalls(op: Int, path: String, clock: Clock)(silver: DataFrame => DataFrame): Unit = {
    isolated("sources.read", op)(RawSource.readRawJsonArray(spark, path))
    val raw = RawSource.readRawJsonArray(spark, path).cache()
    raw.count()
    isolated("etl.clean", op)(DisruptionCleaner.clean(raw, clock))
    val rows = silver(raw).cache()
    rows.count()
    isolated("analytics.daily_stats", op)(NsQueries.dailyStats(rows, clock))
    raw.unpersist(); rows.unpersist()
  }
}

/** A workload: untimed inputs, then units of timed executions. */
trait Workload {
  /** Input sizes for the run record. */
  def inputs: Seq[(String, Any)]

  /** Generates inputs (and seeds the store); untimed, inside setup_s. */
  def prepare(): Unit

  /** Untimed units before timing starts. */
  def warmUnits: Int

  /** Warm-up unit `i`: executions that are checked but not timed. */
  def warmUnit(i: Int): Seq[Sample] = unit(i, trace = false)

  /** One timed unit: an op with its re-run, or one pass over the gates. */
  def unit(i: Int, trace: Boolean): Seq[Sample]

  /** Timed units a run makes at least. */
  def minUnits: Int = 1

  /** A timed unit's nominal wall time: a run of `s` seconds makes
    * s / unitSeconds units (at least [[minUnits]]), a count that does not
    * depend on how fast this run happens to go.
    */
  def unitSeconds: Double

  /** Traced only: the isolated layer calls, as child spans of op `op`. */
  def isolatedCalls(op: Int): Unit

  /** The executions whose latency `op_p50_s` and `op_tail_s` report. */
  def ops(good: Seq[Sample]): Seq[Sample] = good.filter(_.kind == "op")

  /** Raw input bytes behind an execution's label, 0 when it has none. */
  def rawBytes(label: String): Long = 0L

  /** Executions with equal keys are comparable, traced against untraced. */
  def pairKey(s: Sample): String = s.kind
}

/** Compares `Main.run`'s counts with the generator's expected values. */
object PipelineCheck {
  def apply(got: Seq[(String, Long)], want: Map[String, Long]): Option[String] = {
    val g = got.toMap
    val bad = want.toSeq.sortBy(_._1).collect {
      case (k, v) if !g.get(k).contains(v) => s"$k=${g.get(k).map(_.toString).getOrElse("missing")} (want $v)"
    }
    if (bad.isEmpty) None else Some(bad.mkString("count mismatch: ", ", ", ""))
  }
}

/** A pipeline input: a path or glob, its clock, record count and the
  * generator's store keys of its records.
  */
final case class PipelineInput(
    path: String, clock: Clock, records: Long, keys: Seq[(Option[String], Option[LocalDate])])

/** The paper's daily batch: a store seeded with generated history, then
  * per unit one `Main.run` on a new day's snapshot and its idempotent
  * re-run on the same input and clock.
  */
final class DailyIncrements(
    ctx: RunCtx, historyDays: Int, historyPerDay: Int, freshPerDay: Int, updatesPerDay: Int)
    extends Workload {
  private val gen = new RawGen(ctx.seed)
  private val store: Path = ctx.work.resolve("store")
  private val model = new StoreModel
  private val firstDay = LocalDate.of(2024, 1, 1).plusDays(ctx.seed.abs % 365)
  private var history: PipelineInput = _
  private var historyBytes = 0L
  private val days = mutable.Map.empty[Int, (PipelineInput, Long)]

  def inputs: Seq[(String, Any)] = Seq(
    "history_days" -> historyDays, "history_records" -> Option(history).map(_.records),
    "history_bytes" -> historyBytes, "fresh_per_day" -> freshPerDay,
    "updates_per_day" -> updatesPerDay,
    "snapshot_records" -> days.values.map(_._1.records).toSeq.sorted,
    "snapshot_bytes" -> days.values.map(_._2).toSeq.sorted)

  private def clockOf(d: LocalDate): Clock =
    Clock(d.atTime(23, 30).toInstant(ZoneOffset.UTC))

  def prepare(): Unit = {
    // the history: one file per 30 days, loaded by a single Main.run
    val dir = ctx.work.resolve("history")
    val keys = mutable.ArrayBuffer.empty[(Option[String], Option[LocalDate])]
    (0 until historyDays).grouped(30).foreach { block =>
      val snaps = block.map { k =>
        val d = firstDay.minusDays((historyDays - k).toLong)
        gen.closeBefore(d.minusDays(7))
        gen.day(d, historyPerDay, 0, 1.0 / 3)
      }
      val all = Snapshot(snaps.flatMap(_.records), snaps.flatMap(_.keys))
      historyBytes += all.write(dir.resolve(f"block${block.head}%04d.json"))
      keys ++= all.keys
    }
    history = PipelineInput(s"$dir/*.json", clockOf(firstDay.minusDays(1)), keys.size.toLong, keys.toSeq)
    val got = Main.run(ctx.spark, history.path, store.toString, history.clock)
    PipelineCheck(got, model(history.keys))
      .foreach(e => throw new IllegalStateException(s"history load: $e"))
  }

  private def input(i: Int): PipelineInput = days.getOrElseUpdate(i, {
    val d = firstDay.plusDays(i.toLong)
    gen.closeBefore(d.minusDays(7))
    val snap = gen.day(d, freshPerDay, updatesPerDay, 1.0 / 3)
    val f = ctx.work.resolve("days").resolve(s"$d.json")
    val bytes = snap.write(f)
    (PipelineInput(f.toString, clockOf(d), snap.size.toLong, snap.keys), bytes)
  })._1

  // after the history load, one daily op: the first one runs the merge
  // paths cold and takes about twice as long as the next
  def warmUnits: Int = 1

  override def warmUnit(i: Int): Seq[Sample] = Seq(exec(i, "op", traced = false))

  def unitSeconds: Double = 7.0

  private def exec(i: Int, kind: String, traced: Boolean): Sample = {
    val in = input(i)
    ctx.timed(kind, s"unit$i", traced, in.records) { _ =>
      val want = model(in.keys)
      val wrong =
        if (kind == "op" && ctx.injectNow("count"))
          want.updated("bronze_inserted", want("bronze_inserted") + 1)
        else want
      PipelineCheck(Main.run(ctx.spark, in.path, store.toString, in.clock), wrong)
    }
  }

  // traced runs alternate which execution is traced, so the untraced one
  // measures what tracing costs
  def unit(i: Int, trace: Boolean): Seq[Sample] =
    Seq(exec(i, "op", trace && i % 2 == 0), exec(i, "rerun", trace && i % 2 == 1))

  // the large input: the whole history archive, and the store's silver
  def isolatedCalls(op: Int): Unit =
    ctx.pipelineLayerCalls(op, history.path, history.clock)(
      _ => ctx.spark.read.parquet(store.resolve("disruptions").toString))

  override def rawBytes(label: String): Long =
    days.get(label.stripPrefix("unit").toInt).map(_._2).getOrElse(0L)
}

/** A fixed, stratified gate sample over generated tables, each gate
  * timed through the noop sink, in a seeded order per pass. Every timed
  * execution is an op; those after a gate's first timed one are also
  * its re-runs. The first warm pass fingerprints every gate against the
  * recorded fingerprints.
  */
final class Gates(ctx: RunCtx, sf: Double, expected: Map[String, String], recording: Boolean)
    extends Workload {
  private val data = ctx.work.resolve("tables").toString
  private var rows = Map.empty[String, Long]
  private val queries = SparkEntry.queries
  private var probeSnapshot: (String, Clock) = _
  private var timedPasses = 0
  // single-partition window operators per gate, from the traced plans
  val windows = mutable.Map.empty[String, Int]
  val fingerprints = mutable.Map.empty[String, String]

  def inputs: Seq[(String, Any)] = Seq("sf" -> sf, "gates" -> GateData.sample.size) ++
    rows.toSeq.sortBy(_._1).map { case (t, n) => s"rows.$t" -> n }

  def prepare(): Unit = {
    rows = GateData.generate(ctx.spark, data, sf)
    if (ctx.tracing) {
      // a reference-volume snapshot for the isolated pipeline-layer calls
      val d = LocalDate.of(2025, 6, 1)
      val f = ctx.work.resolve("probe.json")
      new RawGen(ctx.seed).day(d, 140, 0, 1.0 / 3).write(f)
      probeSnapshot = (f.toString, Clock(d.atTime(23, 30).toInstant(ZoneOffset.UTC)))
    }
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(GateData.sample)

  override def warmUnit(pass: Int): Seq[Sample] =
    order(pass).map { g =>
      ctx.timed("warm", g, traced = false, 1) { _ =>
        val got = GateData.fingerprint(queries(g)(ctx.spark, data))
        fingerprints(g) = got
        val want = expected.get(g).map(w => if (ctx.injectNow("count")) w + "+1" else w)
        if (recording || want.contains(got)) None
        else Some(s"fingerprint $got, want ${want.getOrElse("none recorded")}")
      }
    }

  // the cold pass that fingerprints every gate
  def warmUnits: Int = 1

  override def minUnits: Int = 2

  def unitSeconds: Double = 5.0

  override def ops(good: Seq[Sample]): Seq[Sample] = good

  def unit(pass: Int, trace: Boolean): Seq[Sample] = {
    timedPasses += 1
    val kind = if (timedPasses == 1) "op" else "rerun"
    order(pass).map { g =>
      // traced runs trace every other gate of the sample, the other
      // half in the next pass
      val traced = trace && (GateData.sample.indexOf(g) + timedPasses) % 2 == 0
      ctx.timed(kind, g, traced, 1) { op =>
        val fn = queries(g)
        if (traced) {
          val df = ctx.spans("queries.build", op, g)(fn(ctx.spark, data))
          val plan = ctx.spans("plans.plan", op, g)(df.queryExecution.executedPlan)
          windows(g) = GateData.singlePartitionWindows(plan)
          ctx.spans("engine.exec", op, g)(ctx.noop(df))
        } else ctx.noop(fn(ctx.spark, data))
        None
      }
    }
  }

  override def pairKey(s: Sample): String = s.label

  // no store here: gold stats run on the cleaned snapshot
  def isolatedCalls(op: Int): Unit = {
    val (path, clock) = probeSnapshot
    ctx.pipelineLayerCalls(op, path, clock)(raw => DisruptionCleaner.clean(raw, clock))
  }
}
