package graft.core

import org.apache.spark.sql.{DataFrame, PinStats}

/** The one way a query materialises an intermediate frame. A pin is a
  * local checkpoint: an executor loss invalidates its blocks, so it holds
  * only a frame whose rebuild costs one query retry, and `bound` states
  * how large that frame can get. A corpus-sized frame must be a persisted
  * artifact instead.
  */
object Pin {

  sealed trait Bound

  /** At most `ceiling` rows; `formula` says where the number comes from. */
  final case class Rows(ceiling: Long, formula: String = "") extends Bound {
    require(ceiling > 0, s"a row ceiling must be positive, got $ceiling")
  }

  /** Sized by a named domain: K, vocab, slice, batch, |days|×|types|, … */
  final case class SizedBy(domain: String) extends Bound {
    require(!domain.toLowerCase.contains("corpus"),
      s"'$domain': a corpus-sized frame must be a persisted artifact, not a pin")
  }

  implicit final class PinOps(private val df: DataFrame) extends AnyVal {

    /** Checkpoints `df` now and plans its readers with the bytes stored, so
      * a join against a small pin broadcasts it without a hint. The size is
      * read after `localCheckpoint` returns, so the job's call site stays
      * `localCheckpoint at Pin.scala`.
      */
    def pin(bound: Bound): DataFrame = PinStats.withStoredSize(df.localCheckpoint())

    /** Checkpoints `df` when its first reader runs; the plan keeps Spark's
      * size estimate, as nothing is stored yet.
      */
    def pinLazily(bound: Bound): DataFrame = df.localCheckpoint(false)
  }
}
