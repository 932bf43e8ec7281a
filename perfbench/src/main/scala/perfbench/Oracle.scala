package perfbench

import java.math.RoundingMode

/** The benchmark's own brute-force answers, written independently of the
  * engine: the same cosine-distance fold as the engine's kernel (dot over
  * the shorter zip, magnitudes over each full vector, similarity clamped
  * at 0), the engine's rounding to 6 decimals (half-up on the double's
  * decimal form) and its `vec_id` tie-break.
  */
object Oracle {
  type Vec = (Long, Array[Double])

  def distance(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { sa += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { sb += b(i) * b(i); i += 1 }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    1.0 - (if (denom == 0.0) 0.0 else math.max(dot / denom, 0.0))
  }

  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue

  private val order: Ordering[(Long, Double)] = Ordering.by(r => (r._2, r._1))

  /** The `k` nearest (vec_id, rounded distance) of `base` to `q`, best first. */
  def topK(base: Seq[Vec], q: Array[Double], k: Int): Seq[(Long, Double)] =
    base.map { case (id, v) => (id, round6(distance(v, q))) }.sorted(order).take(k)

  /** Recall of `answers` against `truth` (both by query): the share of
    * true neighbours that were answered, over all queries in `truth`.
    */
  def recall(answers: Map[Long, Seq[(Long, Double)]], truth: Map[Long, Set[Long]]): Double =
    truth.map { case (q, t) => answers.getOrElse(q, Nil).count(r => t(r._1)) }.sum.toDouble /
      truth.values.map(_.size).sum

  /** An engine answer for one query is well formed: exactly `k` rows,
    * ascending by (distance, vec_id), every id in `ids`.
    */
  def wellFormed(rows: Seq[(Long, Double)], k: Int, ids: Long => Boolean): Boolean =
    rows.size == k && rows.forall(r => ids(r._1)) &&
      rows.zip(rows.drop(1)).forall { case (a, b) => order.lteq(a, b) }
}
