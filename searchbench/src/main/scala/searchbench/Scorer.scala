package searchbench

import scala.collection.mutable

/** Independent client-side scorer: the reference's two-level brute-force
  * search written out in plain loops over the generated documents, sharing
  * no code with the library except the stub embedding model itself (the
  * model is an input to the system, like a real provider would be).
  *
  * Level 0 scores each (datapoint, model) vector against the query vector
  * by the datapoint's similarity method; level 1 folds a datapoint's models
  * by the datapoint's probmethod (weight key: model); level 2 folds an
  * entity's datapoints by the entity's probmethod (weight key: datapoint
  * name); the top N by score desc, name asc is the answer.
  */
final class Scorer(seed: Long, dim: Int) {
  import Gen._
  private val embedder = new graft.core.StubEmbedder(dim)
  private val vecs = mutable.HashMap.empty[(String, String), Array[Float]]

  private def vec(model: String, text: String): Array[Float] =
    vecs.getOrElseUpdate((model, text), embedder.embed(model, text))

  def topN(docs: Iterable[Doc], query: String, n: Int): Seq[(String, Double)] = {
    val q = Models.map(m => m -> vec(m, query)).toMap
    val scored = docs.iterator.map { d =>
      val dps = datapoints(seed, d).map { dp =>
        val sims = Models.map(m => m -> Scorer.similarity(dp.similaritymethod, vec(m, dp.text), q(m)))
        dp.name -> Scorer.fold(dp.probmethod, sims)
      }
      (d.name, Scorer.fold(entityMethod(seed, d.id), dps))
    }.toVector
    scored.sortWith { case ((na, sa), (nb, sb)) =>
      if (sa != sb) Scorer.desc(sa, sb) else na < nb
    }.take(n)
  }
}

object Scorer {
  /** Descending order with NaN first, as Spark sorts it. */
  def desc(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else if (b.isNaN) false else a > b

  def similarity(method: String, a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb, l2, l1 = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      l2 += (x - y) * (x - y); l1 += math.abs(x - y)
      i += 1
    }
    method match {
      case "Cosine" => (dot / (math.sqrt(na) * math.sqrt(nb)) + 1.0) / 2.0
      case "Euclidian" => 1.0 / (1.0 + math.sqrt(l2))
      case "Manhattan" => 1.0 / (1.0 + l1)
      case other => throw new IllegalArgumentException(s"unexpected similarity $other")
    }
  }

  /** Fold (key, value) pairs by a probmethod spec. */
  def fold(spec: String, kv: Seq[(String, Double)]): Double = {
    val name = spec.takeWhile(_ != ':')
    val xs = kv.map(_._2)
    val n = xs.size.toDouble
    name match {
      case "Mean" => xs.sum / n
      case "HarmonicMean" =>
        val nz = xs.filter(_ != 0.0)
        if (nz.isEmpty) 0.0 else nz.size / nz.map(1.0 / _).sum * (nz.size / n)
      case "QuadraticMean" => math.sqrt(xs.map(x => x * x).sum / n)
      case "GeometricMean" =>
        if (xs.size == 1) xs.head
        else if (xs.exists(_ == 0.0)) 0.0
        else if (xs.count(_ < 0) % 2 == 1) Double.NaN
        else math.exp(xs.map(x => math.log(math.abs(x))).sum / n)
      case "EVEWAvg" =>
        if (xs.max == 1.0) 1.0
        else if (xs.min == 0.0) 0.0
        else xs.map(x => x / (x * (1 - x))).sum / xs.map(x => 1 / (x * (1 - x))).sum
      case "HVEWAvg" =>
        if (xs.max == 1.0) 1.0 else xs.map(x => x / (1 - x)).sum / xs.map(x => 1 / (1 - x)).sum
      case "LVEWAvg" => if (xs.min == 0.0) 0.0 else n / xs.map(1 / _).sum
      case "DictionaryWeightedAverage" =>
        val w = kv.map { case (k, _) => Gen.DwaWeights.getOrElse(k, 1.0) }
        w.zip(xs).map { case (a, b) => a * b }.sum / w.sum
      case other => throw new IllegalArgumentException(s"unexpected probmethod $other")
    }
  }

  /** Top-N names equal in order and every score within `tol`. */
  def agrees(got: Seq[(String, Double)], want: Seq[(String, Double)], tol: Double): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gn, gs), (wn, ws)) =>
      gn == wn && (gs == ws || math.abs(gs - ws) <= tol || (gs.isNaN && ws.isNaN))
    }
}
