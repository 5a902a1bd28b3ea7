package graft.operators

import graft.util.Hashing

/** Blocked Bloom filter (FNV-1a + murmur3 double hashing). No engine path
  * uses it: the crawl engine's seen semi-filter runs on Spark's own bloom
  * filter (`bloom_filter_agg` / `might_contain`). It serves only perfbench's
  * `operators.bloom_probe_ns` probe micro-benchmark and its own specs.
  *
  * Layout: `blocks` 512-bit cache-line blocks (8 longs each). A key selects
  * one block with h1 (FNV-1a) and sets/tests k bits inside that block
  * derived by double hashing h(i) = h1 + i*h2 (Kirsch–Mitzenmacher), h2 from
  * murmur3. One cache line per probe — the standard blocked-Bloom design
  * (Putze, Sanders, Singler, "Cache-, Hash- and Space-Efficient Bloom
  * Filters", WEA 2007).
  */
final class BlockedBloom(val bits: Array[Long], val numBlocks: Int, val k: Int)
    extends Serializable {

  @inline private def blockOf(h1: Long): Int =
    ((h1 >>> 32) % numBlocks).toInt.abs

  def add(key: String): Unit = {
    val bytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = Hashing.fnv1a64(bytes)
    val h2 = Hashing.murmur3_64(bytes, 0xb100dL)
    val base = blockOf(h1) << 3 // 8 longs per block
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & 0x1ffL).toInt // 0..511 within block
      bits(base + (bit >> 6)) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(key: String): Boolean = {
    val bytes = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = Hashing.fnv1a64(bytes)
    val h2 = Hashing.murmur3_64(bytes, 0xb100dL)
    val base = blockOf(h1) << 3
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & 0x1ffL).toInt
      if ((bits(base + (bit >> 6)) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

object BlockedBloom {
  /** Size for expected n keys at ~bitsPerKey (10 → ~1% FP with k=7). */
  def sized(expectedKeys: Long, bitsPerKey: Int = 10, k: Int = 7): BlockedBloom = {
    val totalBits = math.max(512L, expectedKeys * bitsPerKey)
    val numBlocks = math.max(1L, (totalBits + 511) / 512).toInt
    new BlockedBloom(new Array[Long](numBlocks * 8), numBlocks, k)
  }
}
