package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialization discipline for the heavy (edge- or corpus-sized)
  * pins (r17 verdict item 7).
  *
  * The repo's pin convention — `localCheckpoint()` a table that feeds
  * several lineages so the expensive upstream executes once — stores
  * the pinned blocks in EXECUTOR storage with no fault tolerance
  * (guide §5): fine for bounded tables (key sets, counts, ≤bins
  * histograms) and for local mode, but an O(|E|)/O(|corpus|) pin at
  * 100 TB holds terabytes in executor memory/disk and any executor
  * loss kills the job, because a localCheckpoint's truncated lineage
  * cannot be recomputed.
  *
  * [[heavy]] is the call-site marker for exactly those pins, and the
  * deployment knob that fixes the failure mode: a cluster run sets
  * `spark.graft.reliableHeavyPins=true` (plus
  * `sparkContext.setCheckpointDir` to a durable FS) and every heavy
  * pin becomes a RELIABLE checkpoint — same single execution of the
  * upstream, same lineage truncation, but the blocks live on the
  * checkpoint dir's fault-tolerant storage instead of executor
  * memory. Local/bench runs keep the (cheaper) localCheckpoint
  * default, so fixture-scale plans and timings are unchanged.
  *
  * Why not a size-censused pin-vs-recompute branch instead: counting
  * the table BEFORE pinning executes the expensive upstream one extra
  * time (the exact replay disease the pins cure), and counting AFTER
  * pinning can only unpersist back to the replay-per-consumer shape —
  * strictly worse than keeping the pin on durable storage. A
  * censused decision (say broadcast-vs-shuffle) belongs downstream of
  * the pin: it reads its count off the already-materialized table,
  * where the count is cheap.
  */
object Pins {

  private[graft] val ReliableConf = "spark.graft.reliableHeavyPins"

  /** Pin an edge- or corpus-sized table: one execution of the
    * upstream, lineage truncated, storage selected by deployment
    * (executor-local by default; reliable checkpoint under
    * [[ReliableConf]]). */
  def heavy(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(ReliableConf).contains("true"))
      df.checkpoint()
    else df.localCheckpoint()
}
