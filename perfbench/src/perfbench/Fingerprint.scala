package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit, xxhash64}

/** Row count plus an order-independent 64-bit content hash of a result.
  *
  * Computing it is the one timed action per query execution. The hash
  * reads every output column, so Catalyst cannot prune any projection the
  * way it can under `count()`, and it runs through `mapPartitions`, so a
  * final sort stays in the plan (an aggregate over the result would let
  * the optimizer drop it). Per-row `xxhash64` values are summed with
  * wrapping `Long` arithmetic in the tasks, which cannot overflow under
  * ANSI mode the way a SQL `sum` of longs does. `xxhash64` rejects map
  * columns; no benchmarked query returns one. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h =
      if (named.columns.isEmpty) lit(0L)
      else xxhash64(named.columns.map(col).toIndexedSeq: _*)
    val parts = named.select(h).mapPartitions { (it: Iterator[Row]) =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += r.getLong(0) }
      Iterator((n, s))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
