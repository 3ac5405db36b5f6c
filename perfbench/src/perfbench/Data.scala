package perfbench

import java.util.SplittableRandom

/** Seeded vector data: a mixture of Gaussian clusters. The seed fixes the
  * cluster centres; `stream` picks an independent sequence of draws from
  * them, so the corpus and the queries of a run are separate streams of one
  * mixture and a seed fixes both. */
final class Mixture(seed: Long, dims: Int, clusters: Int, stream: Long) {
  private var rnd = new SplittableRandom(seed)
  private val centers = Array.fill(clusters, dims)((gauss() * 4.0).toFloat)
  rnd = new SplittableRandom(seed * 1000003L + stream)

  private def gauss(): Double = {
    // Marsaglia polar method; SplittableRandom has no nextGaussian on JDK 17
    var u, v, s = 0.0
    while ({ u = rnd.nextDouble() * 2 - 1; v = rnd.nextDouble() * 2 - 1
             s = u * u + v * v; s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  def draw(): Array[Float] = {
    val c = centers(rnd.nextInt(clusters))
    Array.tabulate(dims)(i => (c(i) + gauss()).toFloat)
  }

  def draws(n: Int): Array[Array[Float]] = Array.fill(n)(draw())

  def nextInt(bound: Int): Int = rnd.nextInt(bound)
}

/** The benchmark's own exact answers: brute-force squared-L2 top-k over the
  * live corpus, ties broken by id, computed in double precision. */
object Truth {
  def sos(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Top-k (id, squared distance) for each query, queries in parallel. */
  def topk(ids: Array[Long], vecs: Array[Array[Float]], queries: Array[Array[Float]],
      k: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val best = new java.util.PriorityQueue[(Long, Double)](k + 1,
        (x: (Long, Double), y: (Long, Double)) =>
          if (x._2 != y._2) java.lang.Double.compare(y._2, x._2)
          else java.lang.Long.compare(y._1, x._1))
      var i = 0
      while (i < ids.length) {
        val d = sos(q, vecs(i))
        if (best.size < k) best.add((ids(i), d))
        else {
          val w = best.peek()
          if (d < w._2 || (d == w._2 && ids(i) < w._1)) { best.poll(); best.add((ids(i), d)) }
        }
        i += 1
      }
      out(qi) = best.toArray(new Array[(Long, Double)](0))
        .sortBy(p => (p._2, p._1))
    }
    out
  }

  /** Share of the true top-k ids the answer holds. */
  def recall(answer: Seq[Long], truth: Array[(Long, Double)]): Double =
    if (truth.isEmpty) 1.0
    else answer.toSet.intersect(truth.map(_._1).toSet).size.toDouble / truth.length

  /** An exact answer up to float rounding: rank by rank, the distance of the
    * returned id equals the true distance at that rank (relative 1e-5), so
    * only numerically tied ids may trade places. */
  def exact(answer: Seq[Long], truth: Array[(Long, Double)],
      vecOf: Long => Array[Float], q: Array[Float]): Boolean =
    answer.length == truth.length && answer.distinct.length == answer.length &&
      answer.zip(truth).forall { case (id, (_, td)) =>
        val d = sos(q, vecOf(id))
        math.abs(d - td) <= 1e-5 * math.max(1.0, td)
      }
}
