package perfbench

import scala.jdk.CollectionConverters._

/** Seeded input generators. The program only ever sees their output. */
object Gen {

  /** splitmix64: a stateless hash, so any point of a series can be
    * recomputed by the output checks without replaying the generator.
    */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def unit(x: Long): Double = (mix(x) >>> 11) * (1.0 / (1L << 53))

  /** Independent stream `tag` of `seed`: element i is `unit(key + i)`. */
  def key(seed: Long, tag: Int): Long = mix(mix(seed) + tag)

  /** BASELINE.md's reference workload (smalltsdb prototypes/views.py):
    * `n` points, path `one` or `two` at random, timestamps spread
    * uniformly over one hour from `t0`, integer values 0-99. Point i is
    * a pure function of (seed, i), so Spark tasks generate their slice
    * and the output checks recompute any point.
    */
  final class A6(seed: Long, val n: Int, val t0: Double) extends Serializable {
    private val kp = key(seed, 1)
    private val kt = key(seed, 2)
    private val kv = key(seed, 3)
    val paths: Array[String] = Array("one", "two")
    def path(i: Long): Int = (mix(kp + i) & 1L).toInt
    def ts(i: Long): Double = t0 + unit(kt + i) * 3600.0
    def value(i: Long): Double = math.floor(unit(kv + i) * 100.0)
    def point(i: Long): (String, Double, Double) = (paths(path(i)), ts(i), value(i))

    /** Sorted distinct bucket starts of one path's points. */
    def buckets(p: Int, seconds: Long): Array[Double] =
      (0L until n).iterator.filter(path(_) == p)
        .map(i => math.floor(ts(i).toLong.toDouble / seconds) * seconds)
        .toArray.distinct.sorted
  }

  /** Graphite wire lines for `nPaths` series, one point per path every
    * `cadence` seconds at a fixed per-path phase, values 0.00-99.99.
    * Point k of path i is at `start + k*cadence + phase(i)`.
    */
  final class Wire(seed: Long, val nPaths: Int, val cadence: Int, val start: Double)
      extends Serializable {
    val names: Array[String] =
      Array.tabulate(nPaths)(i => f"host${i / 8}%03d.metric${i % 8}%d")
    private val kv = key(seed, 5)
    private val phase: Array[Double] = {
      val kph = key(seed, 4)
      Array.tabulate(nPaths)(i => math.floor(unit(kph + i) * cadence * 1000) / 1000)
    }

    def ts(i: Int, k: Long): Double = start + k * cadence + phase(i)
    def value(i: Int, k: Long): Double =
      math.floor(unit(kv + (i.toLong << 32) + k) * 10000) / 100

    /** Every point with a timestamp in [lo, hi), as (path, ts, value). */
    def points(lo: Double, hi: Double): Iterator[(String, Double, Double)] =
      (0 until nPaths).iterator.flatMap { i =>
        val k0 = math.max(0L, math.ceil((lo - start - phase(i)) / cadence).toLong)
        Iterator.iterate(k0)(_ + 1).takeWhile(k => ts(i, k) < hi)
          .filter(k => ts(i, k) >= lo)
          .map(k => (names(i), ts(i, k), value(i, k)))
      }

    /** The wire form, `path value timestamp` (value before time). */
    def lines(lo: Double, hi: Double): Seq[String] =
      points(lo, hi).map { case (p, t, v) => s"$p $v $t" }.toSeq

    /** Bucket starts of path `i` at `seconds` holding at least one point
      * of [lo, hi).
      */
    def buckets(i: Int, seconds: Long, lo: Double, hi: Double): Seq[Double] = {
      val k0 = math.max(0L, math.ceil((lo - start - phase(i)) / cadence).toLong)
      Iterator.iterate(k0)(_ + 1).map(ts(i, _)).takeWhile(_ < hi)
        .filter(_ >= lo)
        .map(t => math.floor(t.toLong.toDouble / seconds) * seconds)
        .toSeq.distinct
    }
  }

  /** A 64-dim corpus of near-duplicate families: `families` family
    * centres drawn around `clusters` cluster centres, each family
    * `size` members around its centre. A held-out query is a fresh
    * draw around one family centre, so its true top-10 is that
    * family, with a real margin over the other families of its
    * cluster: the probe has something to find.
    */
  final class Vectors(seed: Long, val dim: Int, clusters: Int, val size: Int) {
    private def gauss(s: Long): Array[Float] = {
      val r = new java.util.Random(mix(s))
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    private val (kc, kf, kv, kq) = (key(seed, 6), key(seed, 7), key(seed, 8), key(seed, 9))
    private def centre(f: Long): Array[Float] = {
      val c = gauss(kc + f % clusters)
      val d = gauss(kf + f)
      Array.tabulate(dim)(e => c(e) + d(e))
    }
    private def around(c: Array[Float], s: Long): Array[Float] = {
      val d = gauss(s)
      Array.tabulate(dim)(e => c(e) + 0.15f * d(e))
    }
    /** Vector `id`: member `id % size` of family `id / size`. */
    def vector(id: Long): Array[Float] = around(centre(id / size), kv + id)
    /** Held-out query `q`, near one of the first `families` families. */
    def query(q: Int, families: Long): Array[Float] = near(q, (q.toLong * 7919) % families)
    /** Held-out query `q` near family `f`. */
    def near(q: Int, f: Long): Array[Float] = around(centre(f), kq + q)
  }

  /** Exact cosine top-k by (score desc, id asc), scores rounded to six
    * decimals like the program's own scorers.
    */
  def exactTopK(q: Array[Float], ids: Iterator[Long], vec: Long => Array[Float],
      k: Int): Seq[Long] = {
    val nq = math.sqrt(q.map(x => x.toDouble * x).sum)
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else java.lang.Long.compare(b._2, a._2))
    ids.foreach { id =>
      val v = vec(id)
      var dot = 0.0; var nv = 0.0; var e = 0
      while (e < v.length) {
        dot += q(e).toDouble * v(e); nv += v(e).toDouble * v(e); e += 1
      }
      val s = math.rint(dot / (nq * math.sqrt(nv)) * 1e6) / 1e6
      heap.add((s, id))
      if (heap.size > k) heap.poll()
    }
    heap.iterator().asScala.toSeq.sortBy(x => (-x._1, x._2)).map(_._2)
  }

  /** numpy's default ('linear') percentile of unsorted values, with
    * numpy's own two-sided lerp.
    */
  def percentile(values: Array[Double], q: Double): Double = {
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    val t = pos - lo
    val diff = s(hi) - s(lo)
    if (t >= 0.5) s(hi) - diff * (1 - t) else s(lo) + diff * t
  }
}
