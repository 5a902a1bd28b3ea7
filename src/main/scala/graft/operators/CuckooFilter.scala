package graft.operators

import graft.util.Hashing

/** Cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT 2014): 4-slot buckets, 16-bit
  * fingerprints, partial-key cuckoo hashing with murmur3. Supports delete —
  * the property Bloom lacks. A standalone operator: the crawl engine's seen
  * membership is the exact anti-join alone and no engine path consults it.
  *
  * A "no" is authoritative (no false negatives while occupancy is below
  * capacity; an insert that fails after MaxKicks marks the filter
  * saturated, and [[negativesAreExact]] turns false).
  */
final class CuckooFilter(val numBuckets: Int) extends Serializable {
  import CuckooFilter._

  private val table = new Array[Short](numBuckets * SlotsPerBucket)
  private var saturated = false
  private var count = 0L

  @inline private def fingerprint(h: Long): Short = {
    val f = ((h >>> 48) & 0xffff).toInt
    (if (f == 0) 1 else f).toShort // 0 = empty slot sentinel
  }

  @inline private def bucketOf(h: Long): Int =
    ((h & 0x7fffffffffffffffL) % numBuckets).toInt

  @inline private def altBucket(b: Int, f: Short): Int = {
    val fh = Hashing.fmix64((f & 0xffffL) * 0xc4ceb9fe1a85ec53L)
    (b ^ ((fh & 0x7fffffffffffffffL) % numBuckets).toInt) % numBuckets
  }

  private def tryInsertAt(b: Int, f: Short): Boolean = {
    val base = b * SlotsPerBucket
    var i = 0
    while (i < SlotsPerBucket) {
      if (table(base + i) == 0) { table(base + i) = f; return true }
      i += 1
    }
    false
  }

  def insert(key: String): Boolean = {
    val h = Hashing.murmur3_64(key, CuckooSeed)
    val f = fingerprint(h)
    val b1 = bucketOf(h)
    if (tryInsertAt(b1, f) || tryInsertAt(altBucket(b1, f), f)) { count += 1; return true }
    // cuckoo kicking
    var b = if (Hashing.bounded(h, 2) == 0) b1 else altBucket(b1, f)
    var cur = f
    var kicks = 0
    while (kicks < MaxKicks) {
      val base = b * SlotsPerBucket
      val victim = Hashing.bounded(Hashing.det(CuckooSeed, kicks, b), SlotsPerBucket)
      val tmp = table(base + victim)
      table(base + victim) = cur
      cur = tmp
      b = altBucket(b, cur)
      if (tryInsertAt(b, cur)) { count += 1; return true }
      kicks += 1
    }
    saturated = true // overflow: exact tier remains the authority
    false
  }

  def contains(key: String): Boolean = {
    val h = Hashing.murmur3_64(key, CuckooSeed)
    val f = fingerprint(h)
    val b1 = bucketOf(h)
    bucketHas(b1, f) || bucketHas(altBucket(b1, f), f)
  }

  /** True only while no insert has overflowed; callers must treat a
    * saturated filter's negative answers as "maybe".
    */
  def negativesAreExact: Boolean = !saturated

  def delete(key: String): Boolean = {
    val h = Hashing.murmur3_64(key, CuckooSeed)
    val f = fingerprint(h)
    val b1 = bucketOf(h)
    removeFrom(b1, f) || removeFrom(altBucket(b1, f), f)
  }

  private def bucketHas(b: Int, f: Short): Boolean = {
    val base = b * SlotsPerBucket
    table(base) == f || table(base + 1) == f || table(base + 2) == f || table(base + 3) == f
  }

  private def removeFrom(b: Int, f: Short): Boolean = {
    val base = b * SlotsPerBucket
    var i = 0
    while (i < SlotsPerBucket) {
      if (table(base + i) == f) { table(base + i) = 0; count -= 1; return true }
      i += 1
    }
    false
  }

  def size: Long = count

  /** Serialize to the BINARY column form used by the `cuckoo_tier` table:
    * [saturated: 1 byte][numBuckets: 4 bytes LE][count: 8 bytes LE][shorts LE].
    */
  def toBytes: Array[Byte] = {
    val out = new Array[Byte](CuckooFilter.HeaderBytes + table.length * 2)
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(if (saturated) 1.toByte else 0.toByte)
    bb.putInt(numBuckets)
    bb.putLong(count)
    bb.asShortBuffer().put(table)
    out
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  val CuckooSeed = 0xc0c00L
  val HeaderBytes = 13

  def fromBytes(blob: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(blob).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val sat = bb.get() == 1.toByte
    val nb = bb.getInt()
    val cnt = bb.getLong()
    val cf = new CuckooFilter(nb)
    bb.asShortBuffer().get(cf.table)
    cf.saturated = sat
    cf.count = cnt
    cf
  }

  /** Probe the serialized form directly (called from generated code; no
    * per-row deserialization). Mirrors [[CuckooFilter.contains]].
    */
  def containsBytes(blob: Array[Byte], key: Array[Byte]): Boolean = {
    val numBuckets = (blob(1) & 0xff) | ((blob(2) & 0xff) << 8) |
      ((blob(3) & 0xff) << 16) | ((blob(4) & 0xff) << 24)
    val h = Hashing.murmur3_64(key, CuckooSeed)
    val f0 = ((h >>> 48) & 0xffff).toInt
    val f = (if (f0 == 0) 1 else f0).toShort
    val b1 = ((h & 0x7fffffffffffffffL) % numBuckets).toInt
    val fh = Hashing.fmix64((f & 0xffffL) * 0xc4ceb9fe1a85ec53L)
    val b2 = (b1 ^ ((fh & 0x7fffffffffffffffL) % numBuckets).toInt) % numBuckets
    bucketHasBytes(blob, b1, f) || bucketHasBytes(blob, b2, f)
  }

  @inline private def bucketHasBytes(blob: Array[Byte], b: Int, f: Short): Boolean = {
    val base = HeaderBytes + b * SlotsPerBucket * 2
    var i = 0
    while (i < SlotsPerBucket) {
      val s = ((blob(base + i * 2) & 0xff) | ((blob(base + i * 2 + 1) & 0xff) << 8)).toShort
      if (s == f) return true
      i += 1
    }
    false
  }

  /** True iff the serialized filter's negatives are exact (not saturated). */
  def negativesExactBytes(blob: Array[Byte]): Boolean = blob(0) == 0.toByte

  /** Bucket count for `expectedKeys` (power-of-two for cheap alt-bucket
    * xor) — the single sizing rule [[sized]] and [[bytesFor]] both use.
    */
  def bucketsFor(expectedKeys: Long, loadFactor: Double = 0.84): Int = {
    val buckets = math.max(8L, (expectedKeys / (SlotsPerBucket * loadFactor)).toLong + 1)
    var p = 8
    while (p < buckets && p < (1 << 29)) p <<= 1
    p
  }

  def sized(expectedKeys: Long, loadFactor: Double = 0.84): CuckooFilter =
    new CuckooFilter(bucketsFor(expectedKeys, loadFactor))

  /** Serialized byte size of a filter [[sized]] for `expectedKeys` — used to
    * plan the tier's byte budget BEFORE building (a 10⁸-URL host would be an
    * ~800 MB blob; the planner must know that without streaming the host).
    */
  def bytesFor(expectedKeys: Long, loadFactor: Double = 0.84): Long =
    HeaderBytes + bucketsFor(expectedKeys, loadFactor).toLong * SlotsPerBucket * 2
}
