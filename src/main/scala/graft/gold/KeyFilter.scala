package graft.gold

import java.io.{DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** Bloom filter over one data file's key values, kept as a sidecar
  * beside the file (`.<file>.bloom`), never inline in the manifest
  * that every commit rewrites. Every keyed write of [[AtomicTable]]
  * reads the live files' filters to pick, per file, the files it must
  * rewrite: a file whose filter rules out every deleted key holds
  * none of them and carries over by path, and when every filter rules
  * them all out, the commit is a plain append. A rowless file's
  * filter rules out every key.
  *
  * Built and probed on the driver only, from the 64-bit `xxhash64`
  * values of the keys (the tasks that write the file hash them,
  * [[FileStats]]), so the filter adds no Spark job. Bit i of a key
  * with hash h is fmix64(h + i·φ) mod m (φ the 64-bit golden ratio,
  * fmix64 murmur3's finalizer, m a power of two): each probe remixes
  * the hash, so the k bits of a key are independent draws. Double hashing, h + i·h2,
  * allows only about m²/2 bit patterns, a false-positive floor near
  * 2n/m².
  *
  * Sizing is fixed, not a setting: 32-64 bits per distinct key (32·n
  * rounded up to a power of two) and k = 22 give a false-positive
  * rate of (1 − e^(−kn/m))^k, at most about 2·10⁻⁷ per probe
  * (`KeyFilterSpec` measures it), so a batch of 10³ keys probed
  * against 35 live files rewrites a file by chance about once in 140
  * batches. A false positive only costs that file's rewrite; there
  * are no false negatives.
  */
private[graft] final case class KeyFilter(column: String, words: Array[Long]) {
  private val mask = words.length.toLong * 64 - 1

  def mightContain(hash: Long): Boolean = {
    var i = 0
    var hit = true
    while (hit && i < KeyFilter.NumHashes) {
      val idx = KeyFilter.bit(hash, i, mask)
      hit = (words((idx >>> 6).toInt) & (1L << (idx & 63))) != 0
      i += 1
    }
    hit
  }
}

private[graft] object KeyFilter {
  val NumHashes = 22
  private val BitsPerKey = 32
  /** A file with more keys gets no filter (its sidecar would cost
    * every later batch a read of up to 512 KB); every keyed write it
    * stays live for scans it for the deleted keys. Rewrites and
    * compactions cap their files at this many rows, so each gets one.
    */
  val MaxKeys: Int = 1 << 17
  /** "GKF2"; a sidecar of the double-hashing layout ("GKF1") reads as
    * no filter, so its file is scanned for the deleted keys, and
    * rewritten with a new one when it holds one.
    */
  private val Magic = 0x474b4632

  /** Bit i of a key: the ONE formula [[build]] sets and
    * [[KeyFilter.mightContain]] tests, so the two cannot disagree (a
    * disagreement would be a false negative).
    */
  private def bit(h: Long, i: Int, mask: Long): Long = {
    var x = h + i * 0x9e3779b97f4a7c15L
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    (x ^ (x >>> 33)) & mask
  }

  def build(column: String, hashes: Seq[Long]): KeyFilter = {
    val distinct = hashes.distinct
    val want = math.max(64, distinct.size * BitsPerKey)
    val bits = if (Integer.bitCount(want) == 1) want else Integer.highestOneBit(want) << 1
    val words = new Array[Long](bits / 64)
    val mask = bits.toLong - 1
    distinct.foreach { h =>
      var i = 0
      while (i < NumHashes) {
        val idx = bit(h, i, mask)
        words((idx >>> 6).toInt) |= 1L << (idx & 63)
        i += 1
      }
    }
    KeyFilter(column, words)
  }

  /** The sidecar path of a data file. */
  def sidecar(data: Path): Path = data.resolveSibling(s".${data.getFileName}.bloom")

  def write(path: Path, f: KeyFilter): Unit = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(path)))
    try {
      out.writeInt(Magic)
      out.writeUTF(f.column)
      out.writeInt(f.words.length)
      f.words.foreach(out.writeLong)
    } finally out.close()
  }

  /** The filter at `path`; None when it is missing or unreadable, which
    * the caller treats as "might contain anything".
    */
  def read(path: Path): Option[KeyFilter] =
    if (!Files.isRegularFile(path)) None
    else try {
      val in = new DataInputStream(new java.io.BufferedInputStream(Files.newInputStream(path)))
      try {
        if (in.readInt() != Magic) None
        else {
          val column = in.readUTF()
          val n = in.readInt()
          if (n < 1 || Integer.bitCount(n) != 1) None
          else Some(KeyFilter(column, Array.fill(n)(in.readLong())))
        }
      } finally in.close()
    } catch { case NonFatal(_) => None }
}
