package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** State-store growth capture for every stream the local harnesses drive
  * to completion (round-13 verdict item 3 — the one runtime dimension the
  * batch growth appendix could not see).
  *
  * A stateful operator's cost at scale is its RESIDENT STATE, not its
  * wall-clock: session windows hold one row per open session, stream-stream
  * joins buffer both sides inside the watermark envelope, dedup holds one
  * row per key seen. The engine reports this per micro-batch in
  * `StreamingQueryProgress.stateOperators`; this object keeps, per driven
  * query, the PEAK and FINAL `numRowsTotal` / `memoryUsedBytes` across the
  * drive (peak = what an executor must actually hold; final = what survives
  * the terminal watermark flush). `drainAndMeter` records every drive, so
  * the capture covers the whole streaming catalog with zero plumbing in
  * the query functions.
  *
  * Single-writer contract: the local harnesses (Verify / Bench / tests)
  * drive queries sequentially, so a plain synchronized log is enough.
  * The log is bounded by `clear()` between runs.
  */
object StateMetrics {

  /** One stateful operator's footprint over a completed drive. */
  final case class OperatorState(
      operatorName: String,
      peakRows: Long,
      finalRows: Long,
      peakMemoryBytes: Long,
      totalRowsUpdated: Long)

  /** One completed drive: query name, micro-batches, per-operator state. */
  final case class DriveState(
      query: String,
      batches: Int,
      operators: Seq[OperatorState])

  private val log = scala.collection.mutable.ArrayBuffer.empty[DriveState]

  private[streaming] def record(
      name: String, prog: Array[StreamingQueryProgress]): Unit = synchronized {
    val perOp = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Long, Long)] // peak, final, peakMem, updated
    prog.foreach { p =>
      p.stateOperators.zipWithIndex.foreach { case (so, i) =>
        val key = s"${so.operatorName}#$i"
        val (pk, _, pm, up) = perOp.getOrElse(key, (0L, 0L, 0L, 0L))
        perOp(key) = (math.max(pk, so.numRowsTotal), so.numRowsTotal,
          math.max(pm, so.memoryUsedBytes), up + so.numRowsUpdated)
      }
    }
    val ops = perOp.map { case (k, (pk, fin, pm, up)) =>
      OperatorState(k, pk, fin, pm, up)
    }.toSeq
    if (ops.nonEmpty) log += DriveState(name, prog.length, ops)
  }

  /** Drives recorded since the last clear (stateless streams record
    * nothing). */
  def drives: Seq[DriveState] = synchronized(log.toSeq)

  def clear(): Unit = synchronized(log.clear())
}
