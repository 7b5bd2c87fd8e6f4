package graftbench

/** The benchmark's own brute-force answers, computed from the generated
  * arrays with no call into the program.
  *
  * Ranking contract (the one the program documents for every exact path):
  * float products accumulated in double, the score rounded half-up to 6
  * decimals, ties broken by ascending id.
  */
object Truth {

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def dot(vecs: Array[Float], row: Int, dim: Int, q: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val base = row * dim
    while (i < dim) { acc += vecs(base + i).toDouble * q(i).toDouble; i += 1 }
    acc
  }

  /** One ranked entry: id, rounded score, whether it passes the filter. */
  final case class Hit(id: Long, score: Double, pass: Boolean)

  private val byRank: Ordering[Hit] =
    Ordering.fromLessThan((a, b) => a.score > b.score || (a.score == b.score && a.id < b.id))

  /** Unrounded inner product of `q` with every row. */
  def scores(rs: Gen.Rows, q: Array[Float]): Array[Double] =
    Array.tabulate(rs.n)(r => dot(rs.vecs, r, rs.dim, q))

  /** The top `k` rows by the ranking contract, among rows where `keep` holds.
    * Raw scores pick a superset (rounding is monotone, so nothing whose raw
    * score is more than 1e-6 below the k-th raw score can tie it after
    * rounding); only that superset is rounded and sorted. */
  def top(rs: Gen.Rows, raw: Array[Double], k: Int, keep: Int => Boolean,
          pass: Int => Boolean): IndexedSeq[Hit] = {
    val heap = collection.mutable.PriorityQueue.empty[Double](Ordering[Double].reverse)
    var r = 0
    while (r < rs.n) {
      if (keep(r)) {
        val s = raw(r)
        if (heap.size < k) heap.enqueue(s)
        else if (s > heap.head) { heap.dequeue(); heap.enqueue(s) }
      }
      r += 1
    }
    if (heap.isEmpty) return IndexedSeq.empty
    val cut = heap.head - 1e-6
    val cand = Array.newBuilder[Hit]
    r = 0
    while (r < rs.n) {
      if (keep(r) && raw(r) >= cut) cand += Hit(rs.ids(r), round6(raw(r)), pass(r))
      r += 1
    }
    cand.result().sorted(byRank).take(k).toIndexedSeq
  }

  /** Exact filtered top-K: the answer `exact` / `pre_filter` must return. */
  def filtered(rs: Gen.Rows, raw: Array[Double], k: Int, allowed: Int => Boolean): Seq[Long] =
    top(rs, raw, k, allowed, allowed).map(_.id)

  /** The reference's post-filter ladder (post_filter.py): rank the whole
    * corpus, walk rungs in ascending order, stop at the first rung whose
    * prefix holds ≥ k passing rows or when the rungs run out; answer the
    * passing rows of that prefix, first k. Returns (ids, rung, retries). */
  def ladder(ranked: IndexedSeq[Hit], rungs: Seq[Int], k: Int): (Seq[Long], Int, Int) = {
    var retries = 0
    var rung = 0
    var done = false
    val it = rungs.sorted.iterator
    while (it.hasNext && !done) {
      rung = it.next()
      if (ranked.take(rung).count(_.pass) >= k) done = true else retries += 1
    }
    (ranked.take(rung).filter(_.pass).take(k).map(_.id), rung, retries)
  }

  def recall(got: Seq[Long], truth: Seq[Long], k: Int): Double =
    got.toSet.intersect(truth.toSet).size.toDouble / k

  /** Filter semantics for the generated columns, written independently of
    * FilterDsl: one op per field, label ops over ints, `like` a
    * case-insensitive substring test. */
  def allowed(rs: Gen.Rows, req: Gen.Req): Int => Boolean = {
    val Label = """\{"label": \{"(\w+)": (-?\d+)\}\}""".r
    val City = """\{"city": \{"like": "(\w+)"\}\}""".r
    req.filter match {
      case "{}" => _ => true
      case Label(op, v) =>
        val x = v.toInt
        op match {
          case "eq" => r => rs.labels(r) == x
          case "ne" => r => rs.labels(r) != x
          case "ge" => r => rs.labels(r) >= x
          case "lt" => r => rs.labels(r) < x
          case other => throw new IllegalArgumentException(s"unexpected op $other")
        }
      case City(s) => r => rs.cities(r).toLowerCase.contains(s.toLowerCase)
      case other => throw new IllegalArgumentException(s"unexpected filter $other")
    }
  }
}
