package graft.ops

import graft.HarnessConf
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one driver-unrolled round loop of `graft.ops` (the graph
  * iterations, d6's pointer jumping, q44's doubling, the Lloyd trainers,
  * s17's greedy picks), and the only code that touches
  * `spark.sql.adaptive.enabled`. Every loop runs the same way:
  *
  *  - the init frame and every round's output are `localCheckpoint`ed:
  *    that truncates the logical plan too, so round r+1 neither replays
  *    round r's jobs nor makes Catalyst re-optimize the whole history
  *    (d6 measured 2.3 s → 26.6 s at sf0.1 without the per-round cut);
  *  - with `aqe = false` the loop runs with AQE off and the session's own
  *    setting comes back however it ends. The loops over tiny known-size
  *    frames schedule ~3 micro-stages per round that AQE cannot improve
  *    (sizes are known, a broadcast probe cannot skew), and per-stage
  *    re-planning measured 3× the loop itself on g1 (12.5 s → 4.2 s at
  *    the gate scale). With `aqe = true` the key is not touched.
  *
  * `step(prev, r)` builds round r (1..n) from the previous round's
  * checkpointed frame, or from the checkpointed init for r = 1.
  */
private[ops] object Rounds {

  /** Runs `n` rounds from `init`; returns the last round's frame. */
  def apply(spark: SparkSession, init: DataFrame, n: Int, aqe: Boolean)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    until(spark, init, n, aqe)(step)((_, _) => false)._1

  /** Runs at most `n` rounds and stops after the first round r where
    * `done(prev, next)` holds; `done` is asked after every round, the
    * n-th included. Returns the last frame and Some(r), or None when
    * `done` never held.
    */
  def until(spark: SparkSession, init: DataFrame, n: Int, aqe: Boolean)(
      step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, DataFrame) => Boolean): (DataFrame, Option[Int]) =
    scope(spark, aqe) {
      @scala.annotation.tailrec
      def go(prev: DataFrame, r: Int): (DataFrame, Option[Int]) =
        if (r > n) (prev, None)
        else {
          val next = cut(step(prev, r))
          if (done(prev, next)) (next, Some(r)) else go(next, r + 1)
        }
      go(cut(init), 1)
    }

  /** Runs `n` rounds from `init`; returns every frame, the checkpointed
    * init first, for a loop that reports each round (g8's walk steps).
    */
  def frames(spark: SparkSession, init: DataFrame, n: Int, aqe: Boolean)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    scope(spark, aqe) {
      (1 to n).scanLeft(cut(init))((prev, r) => cut(step(prev, r)))
    }

  /** Runs `body` with AQE off, restoring the session's setting after. */
  def withoutAqe[A](spark: SparkSession)(body: => A): A =
    HarnessConf.withConf(spark, "spark.sql.adaptive.enabled" -> "false")(body)

  /** `body` with AQE off when `aqe` is false, else as the session has it:
    * a checkpoint a loop takes after its rounds (g1, g5) runs with the
    * loop's setting.
    */
  def scope[A](spark: SparkSession, aqe: Boolean)(body: => A): A =
    if (aqe) body else withoutAqe(spark)(body)

  private def cut(df: DataFrame): DataFrame = df.localCheckpoint()
}
