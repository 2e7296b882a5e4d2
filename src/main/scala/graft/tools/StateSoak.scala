package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Ingest, StreamEvent}

/** Streaming state-size SOAK for the flatMapGroupsWithState operators
  * (r14 verdict item 4): their bounded per-key state claims are
  * argued at the site and spec-tested on small inputs; this drives
  * each operator through hundreds of micro-batches over a FIXED key
  * population and records the state-store metrics
  * (`StreamingQueryProgress.stateOperators`: numRowsTotal,
  * memoryUsedBytes) per batch, then asserts the curve is FLAT after
  * warmup — state rows pinned to the key-population bound exactly,
  * memory within a tolerance that absorbs the HDFS-backed store's
  * snapshot jitter.
  *
  * Soaked operators and their bounds:
  *  - [[graft.streaming.Ingest.statefulMergeCap]] — state rows = distinct (user,
  *    week) keys seen (`users × weeks` here), each a ≤ cap bucket;
  *  - [[graft.streaming.Ingest.streamingSessionize]] — one OpenSession (or its
  *    n=0 index marker) per user, with sessions closing and reopening
  *    throughout the soak (a gap-exceeding time jump every 5 batches).
  *
  * Usage: `runMain graft.tools.StateSoak [batches] [users]`
  * (defaults 200 / 400). Prints one `STATESOAK {...}` JSON line per
  * operator plus a final `STATESOAK_SUMMARY`; exits nonzero if any
  * operator's state grew past its bound after warmup. Dev/evidence
  * tooling — the library itself never depends on it.
  */
object StateSoak {

  final case class Curve(rows: Vector[Long], mem: Vector[Long]) {
    def tail2mean(v: Vector[Long]): (Double, Double) = {
      val warm = v.drop(v.size / 4)
      val (a, b) = warm.splitAt(warm.size / 2)
      (a.sum.toDouble / a.size.max(1), b.sum.toDouble / b.size.max(1))
    }
  }

  private def jnum(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(x))

  /** Drive `batches` micro-batches through `q`, calling `feed(i)`
    * before each, and collect the last progress's state-operator
    * totals per batch. */
  private def drive(q: StreamingQuery, batches: Int,
      feed: Int => Unit): Curve = {
    var rows = Vector.empty[Long]
    var mem = Vector.empty[Long]
    (0 until batches).foreach { i =>
      feed(i)
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty) {
        rows :+= p.stateOperators.map(_.numRowsTotal).sum
        mem :+= p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
    q.stop()
    Curve(rows, mem)
  }

  /** Flatness verdict: state rows must sit exactly at `rowBound` on
    * every post-warmup batch (the population bound IS the claim);
    * memory's second-half mean must stay within `memTolerance` of its
    * first post-warmup half (snapshot jitter allowance). */
  private def verdict(name: String, c: Curve, rowBound: Long,
      memTolerance: Double = 0.10): (String, Boolean) = {
    val warmRows = c.rows.drop(c.rows.size / 4)
    val rowsFlat = warmRows.nonEmpty && warmRows.forall(_ == rowBound)
    val (m1, m2) = c.tail2mean(c.mem)
    val memGrowth = if (m1 > 0) (m2 - m1) / m1 else 0.0
    val memFlat = memGrowth <= memTolerance
    val ok = rowsFlat && memFlat
    val json = s"""STATESOAK {"op":"$name","batches":${c.rows.size},""" +
      s""""row_bound":$rowBound,"rows_first":${c.rows.headOption.getOrElse(-1L)},""" +
      s""""rows_last":${c.rows.lastOption.getOrElse(-1L)},""" +
      s""""rows_max":${if (c.rows.isEmpty) -1L else c.rows.max},""" +
      s""""rows_flat":$rowsFlat,""" +
      s""""mem_first_half":${jnum(m1)},"mem_second_half":${jnum(m2)},""" +
      s""""mem_growth":${jnum(memGrowth * 100)}e-2,"mem_flat":$memFlat,""" +
      s""""ok":$ok}"""
    println(json)
    (json, ok)
  }

  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(200)
    val users = args.lift(1).map(_.toLong).getOrElse(400L)
    val spark = graft.GraftSession.builder("state-soak", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val week0 = 1704067200000L // 2024-01-01 UTC
    val weekMs = 604800000L
    val weeks = 4

    // ---- statefulMergeCap: fixed (user, week) population, new
    // event_ids every batch — rows plateau at users*weeks, memory at
    // the cap bound
    val memCap = MemoryStream[StreamEvent]
    // cap 8: each (user, week) bucket gains one event every `weeks`
    // batches, so the cap (= the memory plateau) is reached by batch
    // 8*weeks = 32 — safely inside the quarter-run warmup the
    // flatness verdict drops
    val capQ = Ingest.statefulMergeCap(memCap.toDS(), cap = 8)
      .writeStream.format("noop").outputMode("update").start()
    val capCurve = drive(capQ, batches, { i =>
      val wk = i % weeks
      memCap.addData((0L until users).map(u =>
        StreamEvent(u, i.toLong * users + u,
          week0 + wk * weekMs + (i.toLong % 1000) * 1000 + u % 997)))
    })
    val (_, okCap) = verdict("statefulMergeCap", capCurve,
      rowBound = users * weeks)

    val minMs = 60000L

    // ---- streamingSessionize: fixed users, advancing event time
    // with a gap-exceeding jump every 5 batches — sessions close and
    // reopen continuously, state stays ONE OpenSession (or its n=0
    // index marker) per user
    val memSes = MemoryStream[(Long, Long, Long)]
    val sesQ = Ingest.streamingSessionize(
        memSes.toDF.toDF("user_id", "event_id", "ts"), gapMs = 120000L)
      .toDF.writeStream.format("noop").outputMode("append").start()
    val sesCurve = drive(sesQ, batches, { i =>
      memSes.addData((0L until users).map(u =>
        (u, i.toLong, week0 + i * minMs + (i / 5) * 10 * minMs)))
    })
    val (_, okSes) = verdict("streamingSessionize", sesCurve,
      rowBound = users)

    val ok = okCap && okSes
    println(s"""STATESOAK_SUMMARY {"batches":$batches,"users":$users,"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
