package perfbench

import scala.collection.mutable

/** Driver-side reference implementations. They share no code with the
  * library: plain arrays, brute force where the library is clever, and
  * textbook algorithms where it is distributed. */
object Oracle {

  final case class DbscanResult(nClusters: Long, nNoise: Long,
                                clusterError: Double, noiseError: Double) {
    def totalError: Double = clusterError + noiseError
  }

  private def l1(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
    s
  }

  /** Union-find over dense indices, roots kept at the smallest index. */
  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Boolean = {
      val ra = find(a)
      val rb = find(b)
      if (ra == rb) false
      else {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        true
      }
    }
  }

  /** DBSCAN by an all-pairs scan: a point is core when at least `minPts`
    * points (itself included) lie at L1 distance below `eps`; clusters are
    * the connected components of core-to-neighbour links with at least
    * `k` members; everything else is noise, charged the L1 distance to the
    * nearest cluster centroid. */
  def dbscan(pts: Array[Array[Double]], eps: Double, minPts: Int, k: Int): DbscanResult = {
    val n = pts.length
    // neighbours j > i of every i, found in parallel over i
    val later: Array[Array[Int]] = new Array(n)
    val counts = new Array[Int](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val a = pts(i)
      val nb = mutable.ArrayBuilder.make[Int]
      var c = 0
      var j = 0
      while (j < n) {
        val b = pts(j)
        var s = 0.0
        var d = 0
        while (d < a.length && s < eps) { s += math.abs(a(d) - b(d)); d += 1 }
        if (s < eps) {
          c += 1
          if (j > i) nb += j
        }
        j += 1
      }
      counts(i) = c
      later(i) = nb.result()
    }
    val core = counts.map(_ >= minPts)
    val uf = new UnionFind(n)
    val linked = new Array[Boolean](n)
    for (i <- 0 until n; j <- later(i) if core(i) || core(j)) {
      uf.union(i, j)
      linked(i) = true
      linked(j) = true
    }
    val members = (0 until n).filter(linked).groupBy(uf.find).values
      .filter(_.size >= k).toSeq
    val dim = pts(0).length
    val centroids = members.map { m =>
      val c = new Array[Double](dim)
      for (i <- m; d <- 0 until dim) c(d) += pts(i)(d)
      c.map(_ / m.size)
    }
    val inCluster = new Array[Boolean](n)
    members.foreach(_.foreach(inCluster(_) = true))
    val clusterError = members.zip(centroids).map { case (m, c) =>
      m.map(i => l1(pts(i), c)).sum
    }.sum
    val noise = (0 until n).filterNot(inCluster)
    val noiseError =
      if (centroids.isEmpty) Double.PositiveInfinity
      else noise.map(i => centroids.map(l1(pts(i), _)).min).sum
    DbscanResult(members.size.toLong, noise.size.toLong, clusterError, noiseError)
  }
}
