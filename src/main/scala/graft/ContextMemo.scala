package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}

/** Values built once per (live SparkContext, key): resolved tables,
  * checkpointed shared frames, written gate fixtures, gate sessions.
  * Single-flight: concurrent lookups of one key wait for one build; a
  * build that throws leaves the key unbuilt for the next lookup. A
  * build runs outside the map's locks, so it may look up other keys.
  * Entries of stopped contexts (unusable frames, gone checkpoint
  * blocks) are dropped on every lookup, O(entries).
  */
final class ContextMemo[K, V] {

  private final class Slot(build: () => V) {
    lazy val value: V = build()
  }

  private val slots = new ConcurrentHashMap[(SparkContext, K), Slot]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    slots.keySet.removeIf(_._1.isStopped)
    slots.computeIfAbsent((s.sparkContext, key), _ => new Slot(() => build)).value
  }

  /** Drop every value, so the next lookup of each key builds again. */
  def clear(): Unit = slots.clear()
}

object ContextMemo {

  /** `df` in session `s`: the frame itself in its own session, else
    * its analysed plan bound to `s`, so a query derived from a shared
    * frame plans under the asking session's confs, not the confs of
    * the session that first built it.
    */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df else GraftPlanBridge.ofRows(s, df.queryExecution.analyzed)
}
