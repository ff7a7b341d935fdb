package perfbench

/** Counter-based pseudo-randomness: every value is a pure function of
  * (seed, stream, index), so executors generate rows in parallel and the
  * driver recomputes any row's values for the ground truth without
  * shipping data back. */
object Rng {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def long(seed: Long, stream: Long, i: Long): Long =
    mix(mix(mix(seed) ^ stream) ^ i)

  /** Uniform in [0, 1). */
  def u01(seed: Long, stream: Long, i: Long): Double =
    (long(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Uniform integer in [0, n). */
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    (u01(seed, stream, i) * n).toInt

  /** A seeded bijection of [0, n): i ↦ (a·i + b) mod n with gcd(a, n) = 1.
    * Columns built from a fixed multiset placed by such a permutation keep
    * their value set across seeds while the seed decides which row holds
    * which value. */
  final case class Perm(n: Int, a: Long, b: Long) {
    def apply(i: Long): Int = java.lang.Math.floorMod(a * i + b, n.toLong).toInt
  }

  def perm(seed: Long, stream: Long, n: Int): Perm = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = n / 3 + (long(seed, stream, 1) >>> 1) % math.max(1, n / 3)
    while (gcd(a, n) != 1) a += 1
    Perm(n, a, (long(seed, stream, 2) >>> 1) % n)
  }

  /** Logistic quantile: a smooth, symmetric, moderately tailed value for p in (0, 1). */
  def logistic(p: Double): Double = math.log(p / (1 - p))

  /** Cauchy quantile: heavy-tailed value for p in (0, 1). */
  def cauchy(p: Double): Double = math.tan(math.Pi * (p - 0.5))
}
