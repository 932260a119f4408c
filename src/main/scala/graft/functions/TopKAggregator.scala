package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** A scored candidate flowing into the top-k aggregation. */
case class Scored(cid: Long, sim: Double)

/** Bounded top-k aggregator: keeps the k best (sim DESC, cid ASC) rows per
  * group with map-side partial aggregation.
  *
  * Why (SURVEY.md §2.8): per-query top-k via
  * `row_number().over(Window.partitionBy(qid))` shuffles EVERY candidate
  * row to the handful of query partitions — with few queries and a huge
  * corpus that is maximal skew. As an Aggregator the buffer is a k-element
  * list, partials combine associatively on the map side, and only
  * n_partitions × k rows cross the exchange. Deterministic: the ordering
  * (sim desc, cid asc) is total, so the result is input-order-independent.
  */
class TopKAggregator(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

  private def best(xs: Seq[Scored]): Seq[Scored] =
    xs.sortBy(s => (-s.sim, s.cid)).take(k)

  /** `a` ranks strictly before `b` in `best`'s order (the same Double
    * comparison, so NaN and ±0.0 rank as they do under the sort).
    */
  private def before(a: Scored, b: Scored): Boolean = {
    val c = java.lang.Double.compare(-a.sim, -b.sim)
    c < 0 || (c == 0 && a.cid < b.cid)
  }

  override def zero: Seq[Scored] = Seq.empty
  // the buffer is sorted: a row that cannot enter a full buffer leaves it
  // untouched, with no sort (most rows, once k good ones are held)
  override def reduce(buf: Seq[Scored], a: Scored): Seq[Scored] =
    if (buf.length >= k && !before(a, buf.last)) buf else best(buf :+ a)
  override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] = best(b1 ++ b2)
  override def finish(reduction: Seq[Scored]): Seq[Scored] = reduction
  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  override def outputEncoder: Encoder[Seq[Scored]] = bufferEncoder
}

/** A PQ-scored candidate: corpus id, its m subspace codes, ADC score. */
case class ScoredCode(cid: Long, codes: Seq[Int], sim: Double)

/** TopKAggregator's sibling for PQ ADC rows (Embeddings.pqTopK): keeps the
  * k best (sim DESC, cid ASC) coded candidates per query with map-side
  * partials. cid is unique, so the ordering is total and the result
  * input-order-independent — ADC scores tie heavily by construction (every
  * cell-mate pair shares a score), which is exactly why the cid tiebreak
  * must ride inside the aggregator.
  */
class TopKCodesAggregator(k: Int) extends Aggregator[ScoredCode, Seq[ScoredCode], Seq[ScoredCode]] {

  private def best(xs: Seq[ScoredCode]): Seq[ScoredCode] =
    xs.sortBy(s => (-s.sim, s.cid)).take(k)

  override def zero: Seq[ScoredCode] = Seq.empty
  override def reduce(buf: Seq[ScoredCode], a: ScoredCode): Seq[ScoredCode] = best(buf :+ a)
  override def merge(b1: Seq[ScoredCode], b2: Seq[ScoredCode]): Seq[ScoredCode] = best(b1 ++ b2)
  override def finish(reduction: Seq[ScoredCode]): Seq[ScoredCode] = reduction
  override def bufferEncoder: Encoder[Seq[ScoredCode]] = ExpressionEncoder[Seq[ScoredCode]]()
  override def outputEncoder: Encoder[Seq[ScoredCode]] = bufferEncoder
}

/** Bounded bottom-k DISTINCT int64 aggregator — the KMV sketch buffer
  * (ApproxAggs.a20Kmv): keeps the k smallest distinct hash values per
  * group with map-side partial aggregation, so each partition reduces to
  * ≤ k longs before the exchange and sketches merge associatively
  * (union-the-values, keep-k-smallest) — the same merge that combines
  * daily sketches into monthly rollups. Deterministic: the buffer is a
  * sorted distinct set, input-order-independent by construction.
  */
class BottomKLongsAggregator(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {

  private def best(xs: Seq[Long]): Seq[Long] = xs.distinct.sorted.take(k)

  override def zero: Seq[Long] = Seq.empty
  override def reduce(buf: Seq[Long], a: Long): Seq[Long] =
    if (buf.length == k && a >= buf.last) buf else best(buf :+ a)
  override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] = best(b1 ++ b2)
  override def finish(reduction: Seq[Long]): Seq[Long] = reduction
  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = bufferEncoder
}

/** A scored term row flowing into the per-document top-k (TF-IDF shape). */
case class ScoredTerm(term: String, tf_count: Long, df: Long, score: Double)

/** TopKAggregator's sibling for payload-carrying rows: keeps the k best
  * (score DESC, term ASC) terms per document with map-side partials — the
  * same replacement of `row_number().over(Window.partitionBy(doc))` by a
  * bounded aggregation, for the case where the ranked row carries columns
  * beyond (id, score). Ordering is total (term is unique within a doc), so
  * the result is input-order-independent.
  */
class TopKTermsAggregator(k: Int) extends Aggregator[ScoredTerm, Seq[ScoredTerm], Seq[ScoredTerm]] {

  private def best(xs: Seq[ScoredTerm]): Seq[ScoredTerm] =
    xs.sortBy(s => (-s.score, s.term)).take(k)

  override def zero: Seq[ScoredTerm] = Seq.empty
  override def reduce(buf: Seq[ScoredTerm], a: ScoredTerm): Seq[ScoredTerm] = best(buf :+ a)
  override def merge(b1: Seq[ScoredTerm], b2: Seq[ScoredTerm]): Seq[ScoredTerm] = best(b1 ++ b2)
  override def finish(reduction: Seq[ScoredTerm]): Seq[ScoredTerm] = reduction
  override def bufferEncoder: Encoder[Seq[ScoredTerm]] = ExpressionEncoder[Seq[ScoredTerm]]()
  override def outputEncoder: Encoder[Seq[ScoredTerm]] = bufferEncoder
}
