package perfbench

/** Counter-based randomness: every draw is a pure function of
  * (seed, stream, index), so a table row can be regenerated on any thread,
  * in any order, and the plain-Scala reference answers can recompute the
  * exact value a Spark task wrote. */
object Rng {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def long(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) ^ i)

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) / 9007199254740992.0

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(long(seed, stream, i), n.toLong).toInt

  /** A sequential generator for small tables and question lists. */
  def stream(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(long(seed, stream, 0x5EEDL))

  /** Deterministic Fisher–Yates shuffle. */
  def shuffle[A](xs: Seq[A], r: java.util.SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}
