package graft

import graft.operators.Similarity

/** Plain-Scala references for the native similarity expressions of
  * [[graft.functions]]: the scalar loops the codegen'd forms replaced,
  * kept here so the specs can assert bit-equality against an
  * implementation that shares no code with the generated one. Each
  * widens float→double and folds in ascending element order, exactly as
  * the expressions and the DuckDB oracle replays do. */
object SimilarityReference {

  /** Cosine of two float vectors: d/(√na·√nb). */
  def cosineF(a: Seq[Float], b: Seq[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = a.length
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One sign-bit bucket id per LSH table over the s2 hyperplanes. */
  def lshBuckets(dim: Int, nPlanes: Int = Similarity.lshPlanes): Seq[Float] => Array[Int] = {
    val planes = Similarity.planesTensor(dim, nPlanes)
    (emb: Seq[Float]) =>
      Array.tabulate(Similarity.lshTables) { t =>
        var bucket = 0
        var p = 0
        while (p < nPlanes) {
          val plane = planes(t)(p)
          var s = 0.0; var d = 0
          while (d < dim) { s += emb(d) * plane(d); d += 1 }
          if (s >= 0) bucket |= (1 << p)
          p += 1
        }
        bucket
      }
  }

  /** Squared-L2 nearest centroid, strict < so the lowest index wins ties. */
  def nearestCentroid(cents: Array[Array[Double]]): Seq[Float] => Int =
    (emb: Seq[Float]) => {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val ct = cents(c); var d = 0.0; var i = 0
        while (i < ct.length) {
          val diff = emb(i) - ct(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** PQ codes: normalize, then the nearest codeword per subspace. */
  def pqEncode(books: Array[Array[Array[Double]]]): Seq[Float] => Array[Int] =
    (emb: Seq[Float]) => {
      val v = Similarity.normalized(emb.map(_.toDouble).toArray)
      val sub = v.length / books.length
      Array.tabulate(books.length) { m =>
        val book = books(m); val off = m * sub
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < book.length) {
          val ct = book(c); var d = 0.0; var i = 0
          while (i < sub) { val t = v(off + i) - ct(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }

  /** ADC distance: the query's table entries selected by the codes,
    * summed in ascending subspace order. */
  def pqAdc(tables: Map[Long, Array[Array[Double]]]): (Long, Seq[Int]) => Double =
    (qid: Long, codes: Seq[Int]) => {
      val t = tables(qid)
      var s = 0.0; var m = 0
      while (m < t.length) { s += t(m)(codes(m)); m += 1 }
      s
    }
}
