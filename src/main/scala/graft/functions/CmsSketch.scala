package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Count-Min sketch as a typed `Aggregator` — the frequency twin of the
  * [[KmvSketch]] distinct-count sketch: a fixed d×w counter matrix where
  * item x increments one counter per row (hash_j(x)), and the estimate
  * for x is the MINIMUM of its d counters — an overestimate by at most
  * εN with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉ (Cormode &
  * Muthukrishnan 2005). The 100 TB use-case: heavy-hitter detection
  * (hot SKUs, boilerplate shingles, hot join keys to salt)
  * without a groupBy over the full key universe.
  *
  * The buffer is a flat Array[Long] of length d·w; `reduce` touches d
  * cells, `merge` is element-wise addition — associative and
  * commutative, so the sketch flows through partial aggregation and is
  * partitioning/order invariant (spec-proven), and sketches built on
  * different days/partitions merge exactly like any algebraic aggregate.
  *
  * Hash family: h_j(x) = ((a_j·x + b_j) mod P) mod w over the same
  * pairwise-independent multipliers as the MinHash family — deterministic
  * across engines and runs.
  */
class CmsSketch(d: Int, w: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  require(d >= 1 && d <= 8 && w >= 8, "CMS wants 1<=d<=8 rows, w>=8 columns")

  // literally the MinHash family (single source of truth — retuning the
  // Dedup family keeps the documented "same multipliers" contract true)
  private val P = graft.operators.Dedup.P
  private val A = graft.operators.Dedup.A.take(8).toArray
  private val B = graft.operators.Dedup.B.take(8).toArray

  private def cell(j: Int, x: Long): Int = {
    // keep the multiply in the positive range: x mod P first
    val xm = ((x % P) + P) % P
    (((A(j) * xm + B(j)) % P) % w).toInt
  }

  override def zero: Array[Long] = new Array[Long](d * w)

  override def reduce(b: Array[Long], x: Long): Array[Long] = {
    var j = 0
    while (j < d) { b(j * w + cell(j, x)) += 1L; j += 1 }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  /** The finished sketch IS the matrix — query it with [[CmsSketch.estimate]]. */
  override def finish(b: Array[Long]): Array[Long] = b

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  /** Point-estimate of x's frequency from a finished sketch. */
  def estimate(sketch: Array[Long], x: Long): Long = {
    require(sketch.length == d * w,
      s"sketch geometry mismatch: ${sketch.length} cells, this instance wants ${d * w}")
    var best = Long.MaxValue
    var j = 0
    while (j < d) {
      val c = sketch(j * w + cell(j, x))
      if (c < best) best = c
      j += 1
    }
    best
  }
}

object CmsSketch {
  /** Typed-column form over a `Dataset[Long]` of keys:
    * `keys.as[Long].select(CmsSketch.sketch(4, 256))`.
    */
  def sketch(d: Int, w: Int): org.apache.spark.sql.TypedColumn[Long, Array[Long]] =
    new CmsSketch(d, w).toColumn
}
