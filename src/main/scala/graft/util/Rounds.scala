package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The one owner of per-round state in the driver-paced fixpoints (BPE
  * merge steps, star contraction, hierarchy doubling). A round's state
  * is its rows as a local checkpoint, so the next round plans against
  * that round alone, never against the lineage of every round before
  * it. The round's probe (the value the driver decides on) runs as ONE
  * RDD job over the checkpoint's rows, and that job is the one that
  * writes the checkpoint: a round costs the stage jobs of its own plan
  * plus one, and writing its state costs no job of its own.
  * A round is released as soon as the next one exists and the loop has
  * decided over the two, so a loop holds at most two rounds at once and
  * leaves only its last, the one its result reads. */
object Rounds {

  /** One round: `rows` reads the round's checkpoint, and `probe` is
    * what the round's job returned. */
  final class Round[P] private[Rounds] (val rows: DataFrame, val probe: P,
                                        blocks: RDD[InternalRow]) {
    private[Rounds] def release(): Unit = GraftSqlBridge.dropCheckpoint(blocks)
  }

  /** How a loop ended: its last round, the number of rounds run after
    * the first, and what `next` proposed after the last round — None
    * when `next` ended the loop, the rows of a round never run when
    * `maxRounds` ran out first. */
  final case class Outcome[P](last: Round[P], rounds: Int, pending: Option[DataFrame])

  /** Runs `first` as the first round; then, while `next` proposes rows
    * and fewer than `maxRounds` rounds have followed the first, runs
    * them as the next round. `next` sees the round before the latest
    * (None for the first) and the latest, both still readable. `probe` gets the
    * round's rows in `rows`' column order and must run exactly one job
    * that reads every partition. */
  def iterate[P](first: DataFrame, maxRounds: Int)(probe: RDD[InternalRow] => P)(
      next: (Option[Round[P]], Round[P]) => Option[DataFrame]): Outcome[P] = {
    var cur = materialize(first, probe)
    var pending = next(None, cur)
    var rounds = 0
    while (pending.isDefined && rounds < maxRounds) {
      val prev = cur
      cur = materialize(pending.get, probe)
      rounds += 1
      pending = next(Some(prev), cur)
      prev.release()
    }
    Outcome(cur, rounds, pending)
  }

  /** A lazy checkpoint of `rows`: its shuffle stages run here, and its
    * last stage runs inside `probe`'s job, which stores every partition
    * as it reads it. */
  private def materialize[P](rows: DataFrame, probe: RDD[InternalRow] => P): Round[P] = {
    val state = rows.localCheckpoint(eager = false)
    val blocks = state.queryExecution.logical match { case r: LogicalRDD => r.rdd }
    new Round(state, probe(blocks), blocks)
  }
}
