package graft.operators

import graft.util.Hashing
import org.scalatest.funsuite.AnyFunSuite

class FiltersSpec extends AnyFunSuite {

  test("murmur3/fnv1a are stable and spread") {
    assert(Hashing.fnv1a64("") == 0xcbf29ce484222325L) // FNV offset basis
    assert(Hashing.murmur3_64("abc", 0) == Hashing.murmur3_64("abc", 0))
    assert(Hashing.murmur3_64("abc", 0) != Hashing.murmur3_64("abd", 0))
    val hs = (0 until 1000).map(i => Hashing.murmur3_64(s"key$i", 42)).toSet
    assert(hs.size == 1000)
  }

  test("blocked bloom: no false negatives, bounded false positives") {
    val n = 50000
    val bloom = BlockedBloom.sized(n, bitsPerKey = 10)
    val keys = (0 until n).map(i => s"https://host$i.example/p$i")
    keys.foreach(bloom.add)
    assert(keys.forall(bloom.mightContain), "bloom must never forget a key")
    val fps = (0 until 20000).count(i => bloom.mightContain(s"https://absent$i.example/x"))
    assert(fps < 20000 * 0.03, s"fp rate too high: $fps/20000")
  }

  test("cuckoo filter: insert/lookup/delete, exact negatives below capacity") {
    val cf = CuckooFilter.sized(10000)
    val keys = (0 until 8000).map(i => s"https://hot.example/page$i")
    keys.foreach(k => assert(cf.insert(k)))
    assert(cf.negativesAreExact)
    assert(keys.forall(cf.contains))
    assert(cf.delete(keys.head))
    assert(!cf.contains(keys.head) || !cf.negativesAreExact)
    val fps = (0 until 20000).count(i => cf.contains(s"absent$i"))
    assert(fps < 20000 * 0.01, s"cuckoo fp rate too high: $fps")
  }

  test("cuckoo byte serialization round-trips; byte probe == instance probe") {
    val cf = CuckooFilter.sized(5000)
    val keys = (0 until 4000).map(i => s"https://hot.example/p$i")
    keys.foreach(cf.insert)
    val blob = cf.toBytes
    assert(CuckooFilter.negativesExactBytes(blob) == cf.negativesAreExact)
    val utf = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(keys.forall(k => CuckooFilter.containsBytes(blob, utf(k))))
    (0 until 2000).foreach { i =>
      assert(CuckooFilter.containsBytes(blob, utf(s"absent$i")) == cf.contains(s"absent$i"))
    }
    val rt = CuckooFilter.fromBytes(blob)
    assert(rt.size == cf.size && rt.negativesAreExact == cf.negativesAreExact)
    assert(keys.forall(rt.contains))
  }
}
