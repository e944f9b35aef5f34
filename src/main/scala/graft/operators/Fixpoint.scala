package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}

/** The engine's one loop over DataFrame state, and the only place that
  * cuts or releases it. `step(state, round)` builds the next state
  * lazily from the 1-based round number and cuts nothing itself.
  *
  * Rounds go in strides of two: a cut every round pays the cut's fixed
  * cost every round, no cut lets the plan double every round, and a cut
  * every second round keeps the plan at most two rounds deep.
  */
object Fixpoint {

  private val Stride = 2

  /** `rounds` rounds from `init`, cutting the state after every second
    * round but the last. Runs no action and releases nothing.
    */
  def iterate(init: DataFrame, rounds: Int, site: String, reliable: Boolean = false)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (s, r) =>
      val next = step(s, r)
      if (r % Stride == 0 && r < rounds) cut(next, site, reliable) else next
    }

  /** Up to `maxRounds` rounds from `init`, stopping once two consecutive
    * states have equal signatures (`signature` maps a state to a one-row
    * aggregate). Every state, `init` included, is a lazy cut. ONE action
    * per stride evaluates the signatures of the stride's states (and of
    * `init`, in the first) as a union of the aggregates; it computes each
    * cut once (the BlockManager's per-block lock serializes concurrent
    * computes of a partition), so afterwards the older cuts, `init`
    * among them, are released and the blocks held stay constant.
    *
    * Returns the last state and the rounds run. The test runs per
    * stride, so the count can be one above the round that converged.
    */
  def converge(init: DataFrame, maxRounds: Int, site: String, reliable: Boolean = false)(
      signature: DataFrame => DataFrame)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    def signatures(states: Seq[DataFrame]): Seq[Seq[Any]] =
      states.zipWithIndex
        .map { case (s, i) => signature(s).select(lit(i).as("_i"), col("*")) }
        .reduce(_.unionAll(_))
        .collect().sortBy(_.getInt(0)).map(_.toSeq.tail).toSeq

    @tailrec def loop(state: DataFrame, last: Option[Seq[Any]], rounds: Int): (DataFrame, Int) =
      if (rounds >= maxRounds) (state, rounds)
      else {
        val n = math.min(Stride, maxRounds - rounds)
        val stride = (rounds + 1 to rounds + n)
          .scanLeft(state)((s, r) => cut(step(s, r), site, reliable)).tail
        val sigs = last.fold(signatures(state +: stride))(_ +: signatures(stride))
        (state +: stride.init).foreach(Lineage.release)
        if (sigs.sliding(2).exists(w => w(0) == w(1))) (stride.last, rounds + n)
        else loop(stride.last, Some(sigs.last), rounds + n)
      }

    loop(cut(init, site, reliable), None, 0)
  }

  /** A cut of `df`, unless `df` already is one (a cut's plan is its
    * `LogicalRDD`): re-cutting would only copy the blocks.
    */
  private def cut(df: DataFrame, site: String, reliable: Boolean): DataFrame =
    df.queryExecution.logical match {
      case _: LogicalRDD => df
      case _ => Lineage.cut(df, site, reliable)
    }
}
