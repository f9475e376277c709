package graft.core

/**
 * Deterministic hash primitives used across the engine: content-derived ids
 * (replacing the reference's `UUID.randomUUID`, `GraphRef.java:8-10`, which
 * would break idempotent resume), fingerprints, MinHash/SimHash seeds, and
 * join-salt derivation. All pure functions of their inputs — required for the
 * exactly-once resume semantics (same input partition → same checksum).
 */
object Hashing {

  val FnvOffset: Long = 0xcbf29ce484222325L
  val FnvPrime: Long = 0x100000001b3L

  def fnv1a(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  def fnv1a(s: String): Long = fnv1a(s.getBytes("UTF-8"))

  def fnv1aInts(ints: Array[Int]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < ints.length) {
      var v = ints(i)
      var b = 0
      while (b < 4) {
        h ^= (v & 0xffL)
        h *= FnvPrime
        v >>>= 8
        b += 1
      }
      i += 1
    }
    h
  }

  /** splitmix64 — the engine's deterministic PRNG step (public-domain algorithm). */
  def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0,1) from a seed+stream pair. */
  def uniform(seed: Long, stream: Long): Double =
    ((mix64(seed * 0x9e3779b97f4a7c15L + stream) >>> 11).toDouble) / (1L << 53).toDouble
}
