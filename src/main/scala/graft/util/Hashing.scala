package graft.util

/** Self-contained 64-bit string hashing (FNV-1a core + murmur-style
  * avalanche finalizer, both public-domain constructions). Used by the
  * minhash/simhash operators; semantics are engine-defined, no external
  * compatibility required. */
object Hashing {
  final val FnvOffset = -3750763034362895579L // 0xcbf29ce484222325
  final val FnvPrime = 1099511628211L

  def fnv64(s: String): Long = {
    var h = FnvOffset
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** murmur3 fmix64 avalanche. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * -49064778989728563L  // 0xff51afd7ed558ccd
    z = (z ^ (z >>> 33)) * -4265267296055464877L // 0xc4ceb9fe1a85ec53
    z ^ (z >>> 33)
  }
}
