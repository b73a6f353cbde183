package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded generators shared by the workloads. Every value is a pure
  * function of (seed, key), so a row can be rebuilt on demand instead
  * of being held in memory. */
final class Data(seed: Long) {
  private val words = Array("order", "blob", "invoice", "scan", "receipt",
    "photo", "contract", "label", "manifest", "return", "priority",
    "bulk", "fragile", "express", "archive", "draft")

  private def rng(key: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key * 31 ^ salt)

  /** long-tailed blob size: lognormal with median `median` bytes and
    * log-sd `sigma`, clamped to [64, cap] */
  def blobSize(key: Long, version: Int, median: Double, sigma: Double,
      cap: Int): Int = {
    val r = rng(key, 1000L + version)
    // Box-Muller on two uniforms from the key's own stream
    val z = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
      math.cos(2 * math.Pi * r.nextDouble())
    math.min(cap, math.max(64, (median * math.exp(sigma * z)).toInt))
  }

  def blob(key: Long, version: Int, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    val r = rng(key, 2000L + version)
    var i = 0
    while (i < size) {
      val v = r.nextLong()
      var j = 0
      while (j < 8 && i < size) { b(i) = (v >>> (8 * j)).toByte; i += 1; j += 1 }
    }
    b
  }

  def description(key: Long, version: Int): String = {
    val r = rng(key, 3000L + version)
    (0 until 2 + r.nextInt(5)).map(_ => words(r.nextInt(words.length)))
      .mkString(s"#$key v$version ", " ", "")
  }

  /** true for the `share` of keys whose blob is NULL */
  def isNull(key: Long, share: Double): Boolean =
    rng(key, 4000L).nextDouble() < share
}

object Data {
  def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString

  /** Migration.validate's checksum term for one md5: its first hex
    * digit's value */
  def checksumTerm(md5: String): Long =
    "0123456789abcdef".indexOf(md5.charAt(0)).toLong

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }
}
