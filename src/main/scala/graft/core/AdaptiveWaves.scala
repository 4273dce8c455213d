package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Measured-feedback wave scheduler for the bounded-wave loops (round 15).
  *
  * The pre-enumeration byte models are deliberately conservative — measured
  * over-prediction runs 2.6–12.8× in the no-spill regime — and every bought
  * wave pays a real fixed term (candidate-frame build, payload read, job
  * overhead): the post-refactor 150k set-join gate ran 6 waves / 1615 s
  * where the honest footprint needed ~1 (192.7 s). This scheduler keeps the
  * model's wave count as the SAFE INITIAL PLAN, then re-plans after each
  * batch from what the waves actually wrote: per-unit footprint = measured
  * shuffle-write + spill bytes of the batch ÷ units in it, and the next
  * batch takes as many remaining units as fit the budget at that measured
  * rate, growing at most 2× per step (spill is superlinear in batch size —
  * see the re-plan comment below) and shrinking back toward the planned
  * floor after an overshoot. The planned batch is the floor (`waves_run`
  * never exceeds `waves_planned`), and a free-disk precheck still guards
  * every batch. Output is
  * batching-invariant by construction (each unit's pair set is disjoint and
  * the union over any batching is the full set) — SetJoinSpec pins
  * re-planned ≡ fixed-wave.
  */
object AdaptiveWaves {

  /** Headroom factor the FIRST batch's free-disk precheck applies to the
    * model's per-wave prediction. Calibration: across every recorded gate
    * the model's only under-prediction is the waved+spill regime at 0.68
    * (5M-doc gram campaign — measured 1.47× predicted); the no-spill
    * regime over-predicts 1.65–12.8×. 1.5 covers the worst measured
    * under-read with margin while refusing nothing the node can actually
    * hold (a campaign within 1.5× of free disk shares the volume with
    * shuffle scratch and was already one estimator error from ENOSPC).
    * Later batches use measured bytes and need no factor.
    */
  private[graft] val FirstBatchHeadroom = 1.5

  private final class Meter extends SparkListener {
    val shuffle = new AtomicLong(0L)
    val spill   = new AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        spill.addAndGet(m.diskBytesSpilled): Unit
      }
    }
    def total: Long = shuffle.get() + spill.get()
  }

  /** Test-only failure injection: set to k ≥ 1 and the NEXT campaign
    * throws after batch k completes (with units still remaining) — the
    * OOM/ENOSPC shape the wave regime designs for, placed exactly where a
    * real abort leaves partial wave parquet on disk with the caller's memo
    * uninstalled. One-shot: cleared when it fires, so the retry that
    * WaveRetrySpec pins (retried output ≡ single uninterrupted run) runs
    * to completion. −1 (the resting value) never fires.
    */
  private[graft] val abortAfterBatches =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Run `body` over all of `units` (disjoint residue/salt classes) in
    * adaptively-sized batches.
    *
    *   - `wavesPlanned`: the byte model's wave count — the initial batch is
    *     `⌈units/wavesPlanned⌉` units and later batches never shrink below
    *     it, so the campaign never runs MORE waves than planned.
    *   - `predictedPerWave`: the model's per-wave bytes, used for the first
    *     batch's free-disk precheck at [[FirstBatchHeadroom]] (later
    *     batches use measured bytes, no factor).
    *   - `budget`: per-wave byte budget; None ⇒ no re-planning (fixed
    *     batches — the spec-equivalence entry point with no environment).
    *
    * Returns (wavesPlanned, wavesRun).
    */
  def run(
      spark: SparkSession,
      tag: String,
      units: Seq[Int],
      wavesPlanned: Int,
      predictedPerWave: Long,
      budget: Option[Long])(body: Seq[Int] => Unit): (Int, Int) = {
    val n         = units.size
    val baseBatch = math.max(1, (n + wavesPlanned - 1) / wavesPlanned)
    var i         = 0
    var wave      = 0
    var batch     = baseBatch
    // measured per-unit footprint so far (max across batches: the safe
    // side — a lucky early batch must not over-commit a later one)
    var perUnit = -1.0
    while (i < n) {
      val take = math.min(batch, n - i)
      // First-batch disk headroom (round 16): until a measured perUnit
      // exists, the free-disk precheck charges the model's prediction at
      // [[FirstBatchHeadroom]] — the byte model's one measured
      // UNDER-prediction is the spill regime (5M-doc gram campaign:
      // measured = 1.47× predicted, ratio 0.68), exactly where a raw
      // prediction would promise what the disk cannot hold and the first
      // batch would ENOSPC on a tighter node than the 44%-high-water gates.
      val need =
        if (perUnit > 0) (perUnit * take).toLong
        else (predictedPerWave * FirstBatchHeadroom).toLong
      WaveScratch.ensureFreeSpace(need, s"$tag wave ${wave + 1} ($take units)")
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      var noGrow = false
      try {
        val t0 = System.nanoTime()
        body(units.slice(i, i + take))
        // drain: poll until the byte counter holds still (the stricter
        // set-join gate's discipline — 30 s cap, 4 stable polls). The
        // direction matters: an UNDERCOUNT here lowers perUnit, which
        // RAISES the next batch's fit and SHRINKS its free-space precheck
        // — the unsafe side, not the conservative one — so hitting the
        // deadline without stability is treated as "do not grow" below.
        val deadline = System.nanoTime() + 30L * 1000000000L
        var last     = -1L
        var stable   = 0
        while (stable < 4 && System.nanoTime() < deadline) {
          Thread.sleep(500)
          val cur = m.total
          if (cur == last) stable += 1 else { stable = 0; last = cur }
        }
        val drained  = stable >= 4
        val sec      = (System.nanoTime() - t0) / 1e9
        val measured = m.total
        noGrow = m.spill.get() > m.shuffle.get() / 10 || !drained
        perUnit = math.max(perUnit, measured.toDouble / math.max(1, take))
        System.err.println(
          f"[$tag] wave ${wave + 1} ($take units, ${i + take}/$n) done in $sec%.1f s — " +
            f"measured shuffle ${m.shuffle.get()} B + spill ${m.spill.get()} B " +
            f"(${perUnit / 1048576}%.1f MiB/unit)" +
            (if (drained) "" else " [drain deadline hit — growth disabled this step]"))
      } finally spark.sparkContext.removeSparkListener(m)
      i += take
      wave += 1
      if (i < n && abortAfterBatches.compareAndSet(wave, -1))
        throw new IllegalStateException(
          s"[$tag] injected mid-campaign abort after wave $wave (test hook)")
      // re-plan the NEXT batch from measured bytes: as many units as fit
      // the budget at the measured rate, never below the planned batch
      // (cap at the original plan), never above what remains — and GROW
      // (at most 2× per step) only while the last batch stayed spill-free
      // AND its metrics drain reached stability (an undrained counter
      // undercounts, which inflates fit and shrinks the precheck — the
      // unsafe direction). The spill guard is load-bearing: per-unit
      // footprint is not batch-size-invariant in the spill regime — a
      // bigger batch's verify sorts cross the memory threshold and spill
      // volume jumps superlinearly (measured at the 150k gate: 1.15
      // GiB/salt in a 2-salt spill-free wave became 10.9 GiB/salt at 4
      // salts). Growing only out of spill-free batches bounds any
      // overshoot to the ONE batch that first crosses the threshold, at
      // ≤ 2× the last safe size, and the perUnit max() immediately
      // re-prices everything after it from the overshoot's own
      // measurement.
      batch = budget match {
        case Some(b) if perUnit > 0 =>
          val fit  = (b / math.max(1.0, perUnit)).toInt
          val grow = if (noGrow) take else 2 * take
          math.max(baseBatch, math.min(math.min(n - i, grow), fit))
        case _ => baseBatch
      }
      // nudge the ContextCleaner to drop the finished wave's shuffle files
      // (cleanup is GC-driven)
      System.gc()
    }
    System.err.println(s"[$tag] campaign complete: waves_planned=$wavesPlanned waves_run=$wave")
    (wavesPlanned, wave)
  }
}
