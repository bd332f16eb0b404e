package graft

import java.nio.file.Files

import graft.gold.KeyFilter
import org.scalatest.funsuite.AnyFunSuite

/** The per-file key Bloom filter holds the false-positive rate of its
  * sizing, (1 − e^(−kn/m))^k, measured over random 64-bit key hashes.
  */
class KeyFilterSpec extends AnyFunSuite {

  /** Absent-key probes per filter size: 10⁶ where the expected count
    * of false positives is far below one, enough at 1,000 keys for
    * the expected count (about 15) to be measured, not only bounded.
    */
  private val Probes = Map(100 -> 1000000L, 300 -> 1000000L, 1000 -> 100000000L)

  Seq(100, 300, 1000).foreach { n =>
    test(s"false-positive rate at $n keys is within 2x of (1 - e^(-kn/m))^k") {
      val rnd = new java.util.SplittableRandom(1000L + n)
      val keys = Array.fill(n)(rnd.nextLong())
      val present = keys.toSet
      val f = KeyFilter.build("k", keys.toSeq)
      assert(keys.forall(f.mightContain), "a filter has no false negatives")
      val m = f.words.length * 64.0
      val k = KeyFilter.NumHashes
      val rate = math.pow(1 - math.exp(-k * n / m), k)
      val probes = Probes(n)
      var hits = 0L
      var i = 0L
      while (i < probes) {
        val h = rnd.nextLong()
        if (f.mightContain(h) && !present(h)) hits += 1
        i += 1
      }
      // a count is an integer: the bound rounds up
      val allowed = math.ceil(2 * rate * probes).toLong
      assert(hits <= allowed,
        s"$hits false positives in $probes probes; (1 - e^(-kn/m))^k = $rate, m = $m")
    }
  }

  test("a sidecar of the double-hashing layout (GKF1) reads as no filter") {
    val dir = Files.createTempDirectory("keyfilter")
    val p = dir.resolve(".part-0.parquet.bloom")
    KeyFilter.write(p, KeyFilter.build("k", Seq(1L, 2L)))
    assert(KeyFilter.read(p).map(_.column) === Some("k"))
    val bytes = Files.readAllBytes(p)
    bytes(3) = '1'.toByte // "GKF2" -> "GKF1"
    Files.write(p, bytes)
    assert(KeyFilter.read(p) === None)
  }
}
