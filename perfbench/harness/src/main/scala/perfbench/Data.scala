package perfbench

import java.util.SplittableRandom

/** The benchmark's own seeded inputs and exact answers. Nothing here
  * calls engine code, so a change to the engine cannot change the
  * inputs or the reference answers they are checked against.
  *
  * Rows are clustered: each is one of [[Centres]] unit centres plus
  * small Gaussian noise. A query blends a stored row 95/5 with noise, so
  * every query has true neighbours (its row and that row's cluster
  * mates) and recall against the exact top-k means something. On
  * uniform random vectors every point is about equally far from every
  * query and recall is noise. */
object Data {
  val Dims = 384
  val Centres = 1000
  /** Per-dimension noise around a unit centre: about 0.4 of the
    * centre's norm over 384 dimensions. */
  val RowNoise = 0.02
  val QueryBlend = 0.95f

  def rowId(i: Long): String = f"r$i%08d"

  /** Unit-norm cluster centres for `seed`. */
  def centres(seed: Long): Array[Array[Float]] = {
    val rnd = new SplittableRandom(seed ^ 0x5eedc3L)
    Array.fill(Centres)(unit(Array.fill(Dims)(rnd.nextGaussian().toFloat)))
  }

  /** `n` rows starting at row number `first`: row i belongs to a seeded
    * centre and carries its own seeded noise, so any row can be
    * regenerated from (seed, i) alone. */
  def rows(seed: Long, cents: Array[Array[Float]], first: Long,
      n: Int): Array[Array[Float]] =
    Array.tabulate(n) { k =>
      val i = first + k
      val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
      val c = cents(rnd.nextInt(cents.length))
      Array.tabulate(Dims)(d => (c(d) + RowNoise * rnd.nextGaussian()).toFloat)
    }

  /** A query near `row`: 95% the row, 5% a random vector of the same
    * norm. */
  def queryNear(row: Array[Float], rnd: SplittableRandom): Array[Float] = {
    val g = unit(Array.fill(Dims)(rnd.nextGaussian().toFloat))
    val norm = math.sqrt(row.map(x => x.toDouble * x).sum).toFloat
    Array.tabulate(Dims)(d => QueryBlend * row(d) + (1 - QueryBlend) * norm * g(d))
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** L2 normalisation as the engine ingests cosine vectors: f64 norm,
    * each element divided in f64 and cast to f32. */
  def normalized(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var d = 0
    while (d < v.length) { s += v(d).toDouble * v(d); d += 1 }
    val n = math.sqrt(s)
    v.map(x => (x.toDouble / n).toFloat)
  }
}

/** Exact cosine top-k over fixed rows: the reference every search
  * result is checked against. Rank is 1 - dot(normalised row,
  * normalised query), accumulated in f64; ties break by id ascending,
  * the engine's documented order. */
final class Exact(ids: IndexedSeq[String], rows: IndexedSeq[Array[Float]]) {
  private val vecs = rows.map(Data.normalized)

  /** Ids of the exact top `k` for `query`, best first. */
  def topK(query: Array[Float], k: Int): Seq[String] = {
    val q = Data.normalized(query)
    // bounded max-heap on (rank, id): the root is the worst kept row
    val worse = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, String)](worse)
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      var dot = 0.0
      var d = 0
      while (d < q.length) { dot += v(d).toDouble * q(d); d += 1 }
      val r = (1.0 - dot, ids(i))
      if (heap.size < k) heap.enqueue(r)
      else if (worse.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
      i += 1
    }
    heap.dequeueAll[(Double, String)].reverse.map(_._2)
  }
}
