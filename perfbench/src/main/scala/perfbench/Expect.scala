package perfbench

import java.security.MessageDigest

/** What the pipeline's output must be, computed without Spark: the split
  * each file lands in, the crop windows each clip yields, and an
  * order-independent digest of the records.
  */
object Expect {

  /** The train/val/test rule of the pipeline's hash split (70/15/15): the
    * first two hex digits of md5(filename) against the last bucket of
    * each cumulative ratio.
    */
  def split(filename: String): String = {
    val md5 = MessageDigest.getInstance("MD5")
      .digest(filename.getBytes("UTF-8"))
    val b = f"${md5(0) & 0xff}%02x"
    if (b <= lastBucket(0.70)) "train"
    else if (b <= lastBucket(0.85)) "val"
    else "test"
  }

  private def lastBucket(p: Double): String = {
    val last = math.min(255L, math.round(p * 256) - 1)
    if (last < 0) "" else f"$last%02x"
  }

  /** Crop windows of a clip with `n` sampled frames at `rateMs`: every
    * window [s, s + len) with s a multiple of `period` that holds at least
    * one frame, kept iff it starts at 0 or lies inside the video
    * (video length = n * rate). Returns (start, end, frame indices).
    */
  def cropWindows(n: Int, rateMs: Long, lenMs: Long,
      periodMs: Long): Seq[(Long, Long, Seq[Int])] = {
    val videoLen = n * rateMs
    val starts = (0 until n).flatMap { i =>
      val ts = i * rateMs
      val last = Math.floorDiv(ts, periodMs) * periodMs
      Iterator.iterate(last)(_ - periodMs).takeWhile(_ > ts - lenMs)
    }.distinct.sorted
    starts.filter(s => s + lenMs == lenMs || (s >= 0 && s + lenMs <= videoLen))
      .map { s =>
        (s, s + lenMs,
          (0 until n).filter(i => i * rateMs >= s && i * rateMs < s + lenMs))
      }
  }

  /** One output record in a canonical form. `windowStart`/`windowEnd` are
    * -1 outside crop mode; fps and frame_total are compared as the 32-bit
    * floats the TFRecord context stores.
    */
  final case class Rec(dataset: String, filename: String, label: String,
      fps: Float, total: Float, windowStart: Long, windowEnd: Long,
      timestamps: Array[Long], logits: Array[Array[Float]])

  /** 64-bit content hash of one record (the first 8 bytes of SHA-256). */
  def recordHash(r: Rec): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8"); long(b.length.toLong); md.update(b)
    }
    str(r.dataset); str(r.filename); str(r.label)
    long(java.lang.Float.floatToIntBits(r.fps).toLong)
    long(java.lang.Float.floatToIntBits(r.total).toLong)
    long(r.windowStart); long(r.windowEnd)
    long(r.timestamps.length.toLong)
    r.timestamps.foreach(long)
    long(r.logits.length.toLong)
    val fb = java.nio.ByteBuffer.allocate(4 * 4096)
    r.logits.foreach { l =>
      long(l.length.toLong)
      var i = 0
      while (i < l.length) {
        fb.clear()
        val end = math.min(l.length, i + 4096)
        while (i < end) { fb.putFloat(l(i)); i += 1 }
        md.update(fb.array(), 0, fb.position())
      }
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  /** Order-independent digest of a record multiset: count, wrapping sum
    * and xor of the record hashes.
    */
  def digest(hashes: Iterable[Long]): String = {
    var sum = 0L
    var xor = 0L
    var n = 0L
    hashes.foreach { h => sum += h; xor ^= h; n += 1 }
    f"$n:$sum%016x:$xor%016x"
  }

  /** Percentile by linear interpolation between closest ranks (the
    * `numpy.percentile` default); `p` in [0, 100].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
