package graft.functions

/** Deterministic 64-bit hashing primitives shared by the dedup /
  * fingerprint expressions. Pure functions of their inputs — no RNG
  * state — so signatures are reproducible across executors, retries,
  * and cluster sizes.
  */
object HashUtil {

  /** splitmix64 finalizer (public-domain PRNG mixing step). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over UTF-8 bytes, then splitmix-finalized. */
  def hashBytes(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  def hashString(s: String): Long = {
    val b = s.getBytes("UTF-8")
    hashBytes(b, 0, b.length)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1). */
  def unitComponent(seed: Long, plane: Int, dim: Int): Double = {
    val h = mix64(seed ^ mix64(plane.toLong << 32 | (dim.toLong & 0xffffffffL)))
    // top 53 bits → [0,1) → [-1,1)
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }
}
