package graft.streaming

import org.apache.spark.sql.Dataset
import java.sql.Timestamp

/** Streaming heavy-hitters monitor — the live twin of the
  * [[graft.functions.MisraGries]] batch sketch aggregate: keyed events
  * accumulate per source into a k-counter Misra-Gries sketch within
  * event-time windows, and when a window rolls over the top-`topM`
  * entries are emitted as (source, window_start, n_events, rank, key,
  * est_count, ub_count, cum_est_count, novel, alarm) rows. A key OUTSIDE
  * the caller's expected set whose estimated share of the window reaches
  * `minNovelShare` trips the alarm — the "a new key is suddenly heavy"
  * tripwire (bot storm, template spam, a misbehaving client id) that a
  * batch top-k report only surfaces a day later.
  *
  * The sketch arithmetic — the counter update/eviction step and the
  * (count DESC, key ASC) emission order — mirrors the batch aggregate
  * term for term, so on a window whose events arrive in batch scan order
  * the monitor's sketch state is IDENTICAL to the batch `heavy_hitters`
  * result on the same rows (the spec pins this, exact and eviction
  * regimes both). MG's public guarantees carry over per window: every
  * key with true window frequency > n/(k+1) is present, and
  * est ≤ true ≤ est + ⌊n/(k+1)⌋ — `ub_count` ships that upper bound so
  * a consumer can make the conservative call.
  *
  * State is O(sources × k) counters — never events, never the key
  * universe. A second k-counter sketch rides along for the since-start
  * view (MG states merge by counter addition + fold-down, here updated
  * directly as one long-running sketch); `cum_est_count` reports it for
  * every emitted key, separating persistent heavies from one-window
  * bursts. Like [[CusumMonitor]]/[[ConformalMonitor]]/[[AucMonitor]]/
  * [[DriftMonitor]], the frame of reference (k, the expected key set,
  * the novelty share) is CALLER-SUPPLIED from the batch side — batch
  * calibrates, stream monitors — and event-time rollover inside the
  * ts-sorted micro-batch keeps emission deterministic under replay.
  */
object TopKMonitor {

  final case class KeyedEvent(source: String, ts: Timestamp, key: String)
      extends SourceEvent

  final case class MgState(
      win: Long, n: Long, keys: Seq[String], counts: Seq[Long],
      cumKeys: Seq[String], cumCounts: Seq[Long]) extends InWindow

  final case class WinRow(
      source: String, window_start: Long, n_events: Long, rank: Int,
      key: String, est_count: Long, ub_count: Long, cum_est_count: Long,
      novel: Boolean, alarm: Boolean)

  /** The batch aggregate's update step on a Seq-backed sketch: bump a
    * live counter, claim a free slot, or decrement-all (dropping zeros).
    */
  private def mgUpdate(
      keys: Seq[String], counts: Seq[Long], k: Int,
      key: String): (Seq[String], Seq[Long]) = {
    val i = keys.indexOf(key)
    if (i >= 0) (keys, counts.updated(i, counts(i) + 1L))
    else if (keys.size < k) (keys :+ key, counts :+ 1L)
    else {
      val kept = keys.zip(counts).flatMap { case (ky, c) =>
        if (c == 1L) None else Some((ky, c - 1L))
      }
      (kept.map(_._1), kept.map(_._2))
    }
  }

  def monitor(
      events: Dataset[KeyedEvent],
      k: Int,
      topM: Int,
      expected: Set[String],
      minNovelShare: Double,
      windowMs: Long = 3600000L): Dataset[WinRow] = {
    require(k > 0 && topM > 0 && topM <= k, "need 0 < topM <= k")
    require(minNovelShare >= 0.0 && minNovelShare <= 1.0, "share in [0,1]")
    require(windowMs > 0, "windowMs must be positive")
    WindowedMonitor[KeyedEvent, MgState, WinRow](events, windowMs)(
      open = w => MgState(w, 0L, Vector.empty, Vector.empty, Vector.empty, Vector.empty),
      step = (st, e) => {
        val (ks, cs) = mgUpdate(st.keys, st.counts, k, e.key)
        val (cks, ccs) = mgUpdate(st.cumKeys, st.cumCounts, k, e.key)
        MgState(st.win, st.n + 1L, ks, cs, cks, ccs)
      },
      emit = (src, s) => {
        val ub = s.n / (k + 1)
        val cum = s.cumKeys.zip(s.cumCounts).toMap
        s.keys.zip(s.counts)
          .sortBy { case (ky, c) => (-c, ky) }
          .take(topM)
          .zipWithIndex
          .map { case ((ky, c), i) =>
            val novel = !expected.contains(ky)
            WinRow(src, s.win * windowMs, s.n, i + 1, ky, c,
              c + ub, cum.getOrElse(ky, 0L), novel,
              novel && c.toDouble / s.n >= minNovelShare)
          }
      },
      carry = (s, w) => MgState(w, 0L, Vector.empty, Vector.empty,
        s.cumKeys, s.cumCounts))
  }
}
