package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group top-`k` by `(score, id)` — the batch ANN probes'
  * candidate cut ([[graft.ext.Ivf]]'s `topKPerQid`).
  *
  * Why not `row_number().over(qid window)`: the window plans as a FULL
  * SORT of the scored stream (corpus×n_q rows — the widest dataflow of
  * a batch probe). Why not Spark's `CollectTopK`: its
  * BoundedPriorityQueue compares through `InterpretedOrdering` over a
  * struct — ~10 virtual calls and boxed field reads per comparison —
  * which dominated the 100×-rehearsal's batch phase in BOTH the partial
  * and the merge stages. This aggregator keeps parallel PRIMITIVE
  * arrays (score, id, payload) as a binary heap whose root is the
  * WORST kept element; a comparison is two primitive branches.
  *
  * Semantics: keeps the k best by strictly-descending (`desc=true`,
  * ADC cosine) or strictly-ascending (`desc=false`, Hamming) score,
  * ties always to the LOWER id — identical to
  * `row_number().over(orderBy(score, id)) <= k`, and deterministic
  * regardless of insertion order because (score, id) is a strict total
  * order (ids unique). `payload` carries one long alongside each kept
  * element (the composed probes' cell label); pass anything when
  * unused. NaN scores are the caller's bug (the probes' dimension
  * guards exclude them) — a NaN never wins a `>`/`<` comparison, so it
  * simply never enters the heap.
  */
class TopKScoreAgg(k: Int, desc: Boolean) extends Aggregator[
    (Double, Long, Long),
    (Array[Double], Array[Long], Array[Long], Int),
    Seq[(Long, Long)]] {
  require(k > 0)

  /** Is (sa, ia) strictly better than (sb, ib)? */
  @inline private def better(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    if (desc) sa > sb || (sa == sb && ia < ib)
    else sa < sb || (sa == sb && ia < ib)

  override def zero: (Array[Double], Array[Long], Array[Long], Int) =
    (new Array[Double](k), new Array[Long](k), new Array[Long](k), 0)

  private def swap(b: (Array[Double], Array[Long], Array[Long], Int),
      i: Int, j: Int): Unit = {
    val (s, id, p, _) = b
    val ts = s(i); s(i) = s(j); s(j) = ts
    val ti = id(i); id(i) = id(j); id(j) = ti
    val tp = p(i); p(i) = p(j); p(j) = tp
  }

  // min-heap by GOODNESS: root holds the worst kept element
  private def siftUp(b: (Array[Double], Array[Long], Array[Long], Int), i0: Int): Unit = {
    val (s, id, _, _) = b
    var i = i0
    while (i > 0) {
      val parent = (i - 1) / 2
      // child worse than parent → child belongs closer to the root
      if (better(s(parent), id(parent), s(i), id(i))) {
        swap(b, i, parent); i = parent
      } else i = 0
    }
  }

  private def siftDown(b: (Array[Double], Array[Long], Array[Long], Int), n: Int): Unit = {
    val (s, id, _, _) = b
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var worst = i
      if (l < n && better(s(worst), id(worst), s(l), id(l))) worst = l
      if (r < n && better(s(worst), id(worst), s(r), id(r))) worst = r
      if (worst == i) done = true
      else { swap(b, i, worst); i = worst }
    }
  }

  private def insert(b: (Array[Double], Array[Long], Array[Long], Int),
      score: Double, id: Long, payload: Long): (Array[Double], Array[Long], Array[Long], Int) = {
    val (s, ids, ps, n) = b
    if (n < k) {
      s(n) = score; ids(n) = id; ps(n) = payload
      val nb = (s, ids, ps, n + 1)
      siftUp(nb, n)
      nb
    } else if (better(score, id, s(0), ids(0))) {
      s(0) = score; ids(0) = id; ps(0) = payload
      siftDown(b, n)
      b
    } else b
  }

  override def reduce(b: (Array[Double], Array[Long], Array[Long], Int),
      in: (Double, Long, Long)): (Array[Double], Array[Long], Array[Long], Int) =
    insert(b, in._1, in._2, in._3)

  override def merge(a: (Array[Double], Array[Long], Array[Long], Int),
      b: (Array[Double], Array[Long], Array[Long], Int)): (Array[Double], Array[Long], Array[Long], Int) = {
    var acc = a
    var i = 0
    while (i < b._4) { acc = insert(acc, b._1(i), b._2(i), b._3(i)); i += 1 }
    acc
  }

  override def finish(b: (Array[Double], Array[Long], Array[Long], Int)): Seq[(Long, Long)] =
    (0 until b._4).map(i => (b._2(i), b._3(i)))

  override def bufferEncoder: Encoder[(Array[Double], Array[Long], Array[Long], Int)] =
    ExpressionEncoder[(Array[Double], Array[Long], Array[Long], Int)]()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    ExpressionEncoder[Seq[(Long, Long)]]()
}
