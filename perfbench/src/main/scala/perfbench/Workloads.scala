package perfbench

/** A workload: its inputs given the drains of a run (warm-up plus
  * measured), its warm-up drains, its measured drains for a run of
  * `seconds` (as many as take about that long once warm, at least two so
  * a traced run has a traced and an untraced drain), and its drive
  * (given the warm-up and measured drains, whether it is traced, and
  * what to do once the warm-up drains end), which returns every landed
  * chunk's scheduled and actual landing time (nanoTime). */
case class Workload(
    name: String,
    spec: Int => Spec,
    warmDrains: Int,
    measuredDrains: Int => Int,
    drive: (Stream, Int, Int, Boolean, () => Unit) => (Map[Int, Long], Map[Int, Long]))

object Workloads {

  /** The reference's own load (~100–200 events/s, BASELINE.md): open
    * loop, ~150 lines/s landed as three ~50-line chunks per second (three
    * so a run has enough latency samples for a tail), drained back to
    * back, so the fixed cost of each drain is nearly all of the latency.
    * The load starts with the first warm-up drain, which takes ~20 s
    * (class loading, codegen, JIT). Drains then shorten over the next
    * three or four, from ~8 s to ~5.5 s on 4 cores, and the chunks the
    * first measured drain commits land during the last warm-up drain,
    * whose length is part of their latency: so three warm-up drains, and
    * a fixed number of measured drains (a measured window cut by the
    * clock would hold two drains on a slow run and three on a fast one).
    * Chunks are pre-built for three chunks a second over 80 s. */
  val streamSmall = Workload("stream_small",
    _ => Spec(50, 3 * 80, Fit.LinesPerInvoice),
    warmDrains = 3,
    measuredDrains = seconds => math.max(2, math.round(seconds / 5.5).toInt),
    drive = (s, warm, measured, trace, warmedUp) =>
      Drive.openLoop(s, warm, measured, periodNs = 1000000000L / 3, trace, warmedUp))

  /** Closed loop, one client, ~30k-line chunks into growing invoice
    * state: per-line parse, fold and score weigh far more than on
    * stream_small, so a cut to the fixed cost per drain moves it less.
    * One chunk per drain. Two warm-up drains: with one, the first
    * measured drain still ran ~15% slower than the next (JIT warm-up). A
    * third would steady the measured drains further, but its ~7 s per run
    * does not fit the time all runs of the benchmark may take. */
  val LargeChunkLines = 30000
  val streamLarge = Workload("stream_large",
    drains => Spec(LargeChunkLines, drains, Fit.LinesPerInvoice),
    warmDrains = 2,
    measuredDrains = seconds => math.max(2, math.round(seconds / 6.0).toInt),
    drive = (s, warm, measured, trace, warmedUp) => {
      val landed = Drive.closedLoop(s, warm, measured, trace, warmedUp)
      (landed, landed)
    })

  val byName: Map[String, Workload] = Seq(streamSmall, streamLarge).map(w => w.name -> w).toMap
}
