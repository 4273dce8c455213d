package graft.core

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
import org.apache.spark.sql.types.DecimalType

/** The one loop for iterative queries: a state frame, a step, a probe
  * column and a round budget. Each round is exactly one materialization.
  *
  * Why every round materializes: a step that reads its predecessor twice
  * (self-union plus neighbor push, a jump's two join sides, a normalizer
  * over its own frame) grows the ANALYZED plan 2^K-4^K, and no cache
  * helps the analyzer (label propagation took 109 s at sf0.1 for K=10
  * untruncated, sub-second truncated). So each round's frame is an eager
  * `localCheckpoint` of |state| rows. It trades fault tolerance for speed
  * (blocks are not replicated); a production run at K≫10 swaps in a
  * reliable `checkpoint()` at this one call site.
  *
  * The probe is folded into that checkpoint job: `observe` sits at the top
  * of the round's plan, above its last exchange, so `(rows, Σprobe)` comes
  * back from the action's result stage with no extra job. Σ is exact
  * `decimal(38,0)` and null on zero rows.
  *
  * Fixpoint exit: with `toFixpoint`, the loop stops when a round's
  * `(rows, Σ)` equals the previous round's. That is exact for a
  * deterministic step that moves every value one way over a node set that
  * moves one way:
  *   - k-core: the alive set and every degree never grow. Equal rows means
  *     the same nodes (round i's are a subset of round i-1's), and
  *     pointwise ≤ with equal Σ means equal degrees.
  *   - label propagation: the node set is fixed and no label grows (each
  *     is ≤ its node id, so a min round and a jump only lower it).
  *   - BFS relaxation: rows never shrink (the self term keeps every reached
  *     node) and hops never grow.
  *   - near-dup clusters: the label-sum rule, as for label propagation.
  * A repeated `(rows, Σ)` therefore means round i's state IS round i-1's,
  * and every later round up to the budget would reproduce it: fixed-K
  * output is unchanged, and the oracles that replay fixed K stay exact.
  * HITS' normalized power iteration has no such order; it runs with
  * `toFixpoint = false` and uses Σ only as its normalizer.
  *
  * Broadcast the measured state: [[Round.side]] broadcasts the state into
  * the next round's join at or under [[BroadcastRows]] rows and keeps a
  * merge join above it. Catalyst cannot choose: a checkpoint carries the
  * size estimate of the plan it truncated, and join estimates multiply per
  * round (150 MB → 2.8 TB → 54 PB over three label-propagation rounds at
  * sf0.01). With the state broadcast, a round over a cached edge grain
  * `Width.grain`-partitioned on the key it aggregates on has no exchange.
  */
object Iterate {

  /** The broadcast gate: at or below this many rows the measured state
    * broadcasts (~16 MB framed for two longs); above it the join stays a
    * merge join, since a corpus-scale node set cannot broadcast.
    */
  val BroadcastRows = 1000000L

  /** One materialized round: its frame, exact row count and Σprobe (null
    * on zero rows). `index` 0 is the seed. `measured` is false for a seed
    * whose Σ was not taken by [[measure]]; the fixpoint rule never
    * compares against it.
    */
  final case class Round(frame: DataFrame, rows: Long, sum: java.math.BigDecimal, index: Int, measured: Boolean) {

    /** `df`, at most this round's [[rows]] rows, as the next round's join
      * side: broadcast at or under the gate, a merge join above it.
      */
    def side(df: DataFrame): DataFrame =
      if (rows <= BroadcastRows) broadcast(df) else df.hint("merge")

    private[core] def sameAs(o: Round): Boolean =
      measured && o.measured && rows == o.rows && java.util.Objects.equals(sum, o.sum)
  }

  /** Every round run, seed first; `fixpoint` if the loop stopped there. */
  final case class Run(rounds: Vector[Round], fixpoint: Boolean) {
    def last: Round = rounds.last
  }

  /** A seed: `frame` session-cached, with its memoized row count, so a warm
    * query pays no job for it. Its Σ is unmeasured (a caller that knows it
    * exactly sets it, as HITS does), and the fixpoint rule never compares
    * against it.
    */
  def seed(frame: DataFrame): Round = {
    val cached = Cached.frame(frame)
    Round(cached, Cached.count(cached), null, 0, measured = false)
  }

  /** `df` checkpointed eagerly, `(rows, Σprobe)` collected by the same job. */
  def measure(df: DataFrame, probe: String): Round = {
    val obs = Observation()
    val frame = df
      .observe(obs, count(lit(1)).as("rows"), sum(col(probe).cast(DecimalType(38, 0))).as("sum"))
      .localCheckpoint()
    val m = obs.get
    Round(frame, m("rows").asInstanceOf[Long], m("sum").asInstanceOf[java.math.BigDecimal], 0, measured = true)
  }

  /** Up to `rounds` [[measure]]d rounds of `step` from `seed`; with
    * `toFixpoint`, stop once a round repeats its predecessor's measure.
    */
  def apply(seed: Round, probe: String, rounds: Int, toFixpoint: Boolean)(step: Round => DataFrame): Run = {
    var done  = Vector(seed)
    var fixed = false
    while (done.size <= rounds && !fixed) {
      val next = measure(step(done.last), probe).copy(index = done.size)
      fixed = toFixpoint && next.sameAs(done.last)
      done :+= next
    }
    Run(done, fixed)
  }

  /** Eager lineage truncation of a deep input that every round re-analyzes. */
  def truncate(df: DataFrame): DataFrame = df.localCheckpoint()
}
