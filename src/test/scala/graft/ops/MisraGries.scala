package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries heavy hitters as a typed Aggregator — the test-side
  * reference for the engine's imperative [[graft.functions.MgSketchAgg]]
  * (batch and streaming), pinned against it in MgAggSpec. Same sketch
  * semantics and the same bounds (see MgSketchAgg).
  */
class MisraGries(capacity: Int)
    extends Aggregator[String, Map[String, Long], Seq[MgHit]] {
  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(buf: Map[String, Long], item: String): Map[String, Long] =
    buf.get(item) match {
      case Some(c) => buf.updated(item, c + 1)
      case None if buf.size < capacity => buf.updated(item, 1L)
      case None =>
        // classic MG step: a full sketch meeting a new item decrements
        // EVERY counter (the new item's implicit counter hits 0 and is
        // not inserted); zeroed counters free their slots
        buf.flatMap { case (k, c) => if (c > 1) Some(k -> (c - 1)) else None }
    }

  override def merge(a: Map[String, Long], b: Map[String, Long])
      : Map[String, Long] = {
    val sum = b.foldLeft(a) { case (m, (k, c)) =>
      m.updated(k, m.getOrElse(k, 0L) + c)
    }
    if (sum.size <= capacity) sum
    else {
      // mergeable-summaries reduction: subtract the (capacity+1)-th
      // largest count from every counter, keep the positive ones — the
      // combined sketch keeps the MG error bound
      val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
      sum.flatMap { case (k, c) =>
        if (c - cut > 0) Some(k -> (c - cut)) else None
      }
    }
  }

  override def finish(buf: Map[String, Long]): Seq[MgHit] =
    buf.toSeq.sortBy { case (k, c) => (-c, k) }
      .map { case (k, c) => MgHit(k, c) }

  override def bufferEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Seq[MgHit]] =
    ExpressionEncoder[Seq[MgHit]]()
}

/** One surviving counter: `cnt` is exact when the group's distinct item
  * count is ≤ the sketch capacity, otherwise a ≤ N/(capacity+1)
  * undercount.
  */
case class MgHit(item: String, cnt: Long)
