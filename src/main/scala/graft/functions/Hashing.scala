package graft.functions

/** Deterministic 64-bit hashing + MinHash signatures (public-knowledge
  * constructions: splitmix64 finalizer, FNV-style seeding; MinHash per
  * Broder 1997). Used by LSH alias blocking (SURVEY J7), MinHash/SimHash
  * document dedup, and lineage digests. Pure functions — safe inside
  * executors and invariant under partitioning.
  */
object Hashing {

  /** splitmix64 finalizer — strong 64-bit mixer. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over UTF-8 bytes (`Fingerprint64.fnv`), then mixed. */
  def hashString(s: String): Long =
    mix64(Fingerprint64.fnv(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Character k-shingles of a string (SPEC: 3-grams for alias LSH). */
  def shingles(s: String, k: Int): Seq[String] =
    if (s.length <= k) Seq(s)
    else (0 to s.length - k).map(i => s.substring(i, i + k))

  /** MinHash signature: k independent permutations approximated by
    * seeded hashes; sig(j) = min over tokens of h_j(token).
    */
  def minhash(tokens: Iterable[String], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    for (t <- tokens) {
      val base = hashString(t)
      var j = 0
      while (j < k) {
        val h = mix64(base ^ (0x5851f42d4c957f2dL * (j + 1)))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }
    sig
  }

  /** LSH band hashes: split a k-length signature into b bands of r rows,
    * hash each band. Two sets collide in a band iff that band's rows all
    * match.
    */
  def bands(sig: Array[Long], b: Int): Array[Long] = {
    val r = sig.length / b
    Array.tabulate(b) { i =>
      var h = 0x9e3779b97f4a7c15L * (i + 1)
      var j = i * r
      while (j < (i + 1) * r) { h = mix64(h ^ sig(j)); j += 1 }
      h
    }
  }

  /** 64-bit SimHash over token hashes (Charikar 2002). */
  def simhash(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    for (t <- tokens) {
      val h = hashString(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}
