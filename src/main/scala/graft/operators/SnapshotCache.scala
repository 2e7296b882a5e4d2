package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Driver-side cache of values derived from table snapshots — the one
  * mechanism behind the three operator tiers that answer on the driver:
  * [[LookupTier]] (point retrieve and stitch), [[IvfTier]] (int8 IVF
  * top-k) and [[RangeTier]] (per-user time-range reads).
  *
  * A snapshot is keyed by the canonicalized optimized plans of its
  * sources plus their input-file sets, so a rewrite (an
  * `Ingest.upsertBatch` swap, an index re-written at the same path, a
  * rewritten events directory) yields a new key and a stale value is
  * never served. A tier that organizes a value by columns its caller
  * names (the range tier's user and sort columns) puts them in the key
  * too, so two callers that index one table differently never share a
  * value. At most `maxEntries` values are held, least recently used
  * evicted first; concurrent callers of one snapshot wait for a single
  * build.
  *
  * Counters (tests and callers read them; one increment per call):
  * [[builds]], [[hits]], [[evictions]], and each held entry's
  * estimated bytes ([[entryBytes]]) — the `sizeInBytes` its tier's
  * eligibility check compared against the broadcast threshold.
  */
private[graft] final class SnapshotCache[V](val maxEntries: Int) {

  private final class Slot(val bytes: Long, build: () => V) {
    lazy val value: V = { buildCount.incrementAndGet(); build() }
  }

  private val buildCount = new AtomicLong
  private val hitCount = new AtomicLong
  private val evictionCount = new AtomicLong

  private val slots = new java.util.LinkedHashMap[SnapshotCache.Key, Slot](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SnapshotCache.Key, Slot]): Boolean = {
      val evict = this.size() > maxEntries
      if (evict) evictionCount.incrementAndGet()
      evict
    }
  }

  /** Values built so far. */
  def builds: Long = buildCount.get()

  /** Calls answered by an entry that was already held. */
  def hits: Long = hitCount.get()

  /** Entries dropped to stay within `maxEntries`. */
  def evictions: Long = evictionCount.get()

  /** Entries currently held. */
  def size: Int = slots.synchronized(slots.size())

  /** Estimated bytes of each held entry, least recently used first. */
  def entryBytes: Seq[Long] = slots.synchronized {
    val out = Seq.newBuilder[Long]
    slots.values().forEach(s => out += s.bytes)
    out.result()
  }

  /** The value of snapshot `key`, built by `build` on first use;
    * `bytes` is the estimate recorded for the entry. */
  def get(key: SnapshotCache.Key, bytes: BigInt)(build: => V): V = {
    val slot = slots.synchronized {
      Option(slots.get(key)) match {
        case Some(s) => hitCount.incrementAndGet(); s
        case None =>
          val s = new Slot(bytes.min(Long.MaxValue).toLong, () => build)
          slots.put(key, s)
          s
      }
    }
    slot.value
  }
}

private[graft] object SnapshotCache {

  /** Entries each tier's cache holds. */
  val MaxEntries = 8

  /** One snapshot of `sources`: their canonicalized optimized plans and
    * input-file sets, in order, and the columns the value is organized
    * by. */
  final case class Key(plans: Seq[LogicalPlan], files: Seq[Set[String]], by: Seq[String] = Nil)

  def key(sources: DataFrame*): Key =
    Key(sources.map(_.queryExecution.optimizedPlan.canonicalized),
      sources.map(_.inputFiles.toSet))

  /** `df`'s optimized plan when it is local data. Plans that read
    * anything but local data are turned away before optimization, so
    * the check costs the scan path nothing. */
  def localRelation(df: DataFrame): Option[LocalRelation] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r)
      case _ => None
    }

  /** Whether a tier may hold `df` on the driver: its optimized plan is
    * deterministic, free of subqueries, reads only file relations or
    * local data, and its estimated size is at most
    * `spark.sql.autoBroadcastJoinThreshold` — the bound Spark already
    * trusts to hold a table in memory. */
  def fitsDriver(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    scansOnlyFilesOrLocalData(plan) &&
      plan.stats.sizeInBytes <= PlanBridge.conf(df.sparkSession).autoBroadcastJoinThreshold
  }

  private def scansOnlyFilesOrLocalData(plan: LogicalPlan): Boolean =
    !plan.isStreaming && plan.deterministic &&
      !plan.exists(_.expressions.exists(SubqueryExpression.hasSubquery)) &&
      plan.collectLeaves().forall {
        case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
        case _: LocalRelation => true
        case _ => false
      }
}
