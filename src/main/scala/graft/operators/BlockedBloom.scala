package graft.operators

import graft.util.Hashing

/** Blocked Bloom filter for the crawl engine's runtime semi-filter (north
  * rule: FNV-1a + murmur3 double hashing, built per-partition by a Catalyst
  * `TypedImperativeAggregate` — [[graft.functions.expressions.BloomBuildAgg]]
  * — and OR-merged by the aggregate's merge phase; no RDD anywhere).
  *
  * Layout: `blocks` 512-bit cache-line blocks (8 longs each). A key selects
  * one block with h1 (FNV-1a) and sets/tests k bits inside that block
  * derived by double hashing h(i) = h1 + i*h2 (Kirsch–Mitzenmacher), h2 from
  * murmur3. One cache line per probe — the standard blocked-Bloom design
  * (Putze, Sanders, Singler, "Cache-, Hash- and Space-Efficient Bloom
  * Filters", WEA 2007).
  *
  * Role in dedup (SURVEY §2.4 D1): the filter only SHRINKS a scan — a
  * bloom over the probe side of a not-in-seen anti-join, broadcast to the
  * seen scan, drops seen rows that cannot match before they shuffle. False
  * positives therefore cost a shuffled row, never a dropped URL; the exact
  * anti-join is the membership authority and the final seen set is
  * bit-for-bit the reference's. The probe is the codegen'd
  * [[graft.functions.expressions.BloomMightContainExpr]] over the
  * serialized bytes — no monolithic driver-resident filter exists.
  *
  * Serialized form (the BINARY blob `bloom_agg` returns): [k: 1 byte][longs,
  * little-endian] — the static byte-blob probes below read it without
  * deserialization, so a probe is one cache-line touch inside whole-stage
  * codegen.
  */
final class BlockedBloom(val bits: Array[Long], val numBlocks: Int, val k: Int)
    extends Serializable {

  @inline private def blockOf(h1: Long): Int =
    ((h1 >>> 32) % numBlocks).toInt.abs

  def add(key: String): Unit = addBytes(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def addBytes(key: Array[Byte]): Unit = {
    val h1 = Hashing.fnv1a64(key)
    val h2 = Hashing.murmur3_64(key, 0xb100dL)
    val base = blockOf(h1) << 3 // 8 longs per block
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & 0x1ffL).toInt // 0..511 within block
      bits(base + (bit >> 6)) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(key: String): Boolean =
    mightContainBytes(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def mightContainBytes(key: Array[Byte]): Boolean = {
    val h1 = Hashing.fnv1a64(key)
    val h2 = Hashing.murmur3_64(key, 0xb100dL)
    val base = blockOf(h1) << 3
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & 0x1ffL).toInt
      if ((bits(base + (bit >> 6)) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Bitwise-OR merge (combOp of the distributed aggregate build). */
  def merge(other: BlockedBloom): BlockedBloom = {
    require(other.numBlocks == numBlocks && other.k == k)
    var i = 0
    while (i < bits.length) { bits(i) |= other.bits(i); i += 1 }
    this
  }

  def bitCount: Long = bits.map(java.lang.Long.bitCount(_).toLong).sum

  /** Serialize to the BINARY column form: [k][longs LE]. */
  def toBytes: Array[Byte] = {
    val out = new Array[Byte](1 + bits.length * 8)
    out(0) = k.toByte
    val bb = java.nio.ByteBuffer.wrap(out, 1, bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(bits)
    out
  }
}

object BlockedBloom {
  /** Size for expected n keys at ~bitsPerKey (10 → ~1% FP with k=7). */
  def sized(expectedKeys: Long, bitsPerKey: Int = 10, k: Int = 7): BlockedBloom = {
    val totalBits = math.max(512L, expectedKeys * bitsPerKey)
    val numBlocks = math.max(1L, (totalBits + 511) / 512).toInt
    new BlockedBloom(new Array[Long](numBlocks * 8), numBlocks, k)
  }

  /** Number of 512-bit blocks needed for `expectedKeys` at `bitsPerKey`. */
  def blocksFor(expectedKeys: Long, bitsPerKey: Int): Int =
    math.max(1L, (expectedKeys * bitsPerKey + 511) / 512).toInt

  def fromBytes(blob: Array[Byte]): BlockedBloom = {
    val k = blob(0).toInt
    val n = (blob.length - 1) / 8
    val bits = new Array[Long](n)
    java.nio.ByteBuffer.wrap(blob, 1, n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(bits)
    new BlockedBloom(bits, n / 8, k)
  }

  /** Probe the serialized form directly (called from generated code — the
    * blob layout is a flat little-endian bit array, so bit j of block b is
    * byte 1 + b*64 + (j>>3), mask 1<<(j&7); no deserialization per row).
    * NOTE: named differently from the instance `mightContainBytes` — a
    * same-named instance method suppresses the static forwarder janino
    * needs to call this from generated code.
    */
  def probeBytes(blob: Array[Byte], key: Array[Byte]): Boolean = {
    val k = blob(0).toInt
    val numBlocks = (blob.length - 1) >> 6
    val h1 = Hashing.fnv1a64(key)
    val h2 = Hashing.murmur3_64(key, 0xb100dL)
    val base = 1 + (((h1 >>> 32) % numBlocks).toInt.abs << 6)
    var i = 0
    while (i < k) {
      val bit = ((h1 + i.toLong * h2) & 0x1ffL).toInt
      if ((blob(base + (bit >> 3)) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Byte-wise OR of two serialized filters (same shape). */
  def orBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && a(0) == b(0),
      s"bloom shape mismatch: ${a.length}/${a(0)} vs ${b.length}/${b(0)}")
    val out = new Array[Byte](a.length)
    out(0) = a(0)
    var i = 1
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }
}
