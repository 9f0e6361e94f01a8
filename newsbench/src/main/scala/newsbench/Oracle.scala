package newsbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Expected outputs computed on the driver from what the generator
  * knows, without the engine's operators: the checks that hold a
  * pipeline's outputs against ground truth, not against its own earlier
  * runs. Each function follows the documented contract of the operator
  * it checks.
  */
object Oracle {

  /** `Text.md5Uuid`: the md5 of the link as 8-4-4-4-12 hex groups. */
  def uuid(link: String): String = {
    val hex = MessageDigest.getInstance("MD5").digest(link.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    Seq(hex.slice(0, 8), hex.slice(8, 12), hex.slice(12, 16),
      hex.slice(16, 20), hex.slice(20, 32)).mkString("-")
  }

  private def words(text: String): IndexedSeq[String] =
    text.split("\\s+").filter(_.nonEmpty).toIndexedSeq

  /** The summarize stand-in after `Text.cleanSummary`: the text's first
    * four two-word groups, one per line.
    */
  def summary(text: String): String =
    words(text).grouped(2).take(4).map(_.mkString(" ")).mkString("\n")

  /** The validation score: six-word statements; "confirmed" when one
    * contains "window" or "stream", else "refuted" when it contains
    * "dup"; fewer than five statements score 1, otherwise
    * (confirmed − refuted/2) / total × 10 clamped to [3, 10], at four
    * decimals.
    */
  def score(text: String): Double = {
    val stmts = words(text).grouped(6).map(_.mkString(" ")).toSeq
    val confirmed = stmts.count(s => s.contains("window") || s.contains("stream"))
    val refuted = stmts.count(s => !(s.contains("window") || s.contains("stream")) &&
      s.contains("dup"))
    if (stmts.isEmpty) 0.0
    else if (stmts.size < 5) 1.0
    else BigDecimal(math.max(3.0, math.min(10.0,
      (confirmed.toDouble / stmts.size - refuted * 0.5 / stmts.size) * 10.0)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Why `chunks` (in order) are not a 400/50-style chunking of `text`,
    * if they are not: every chunk is longer than `minLen` and at most
    * `size` characters, appears in the text, starts where the previous
    * chunk ends or up to `overlap` characters before, and together they
    * run from the text's start to its end (a dropped tail of at most
    * `minLen` characters aside).
    */
  def chunkError(text: String, chunks: Seq[String], size: Int, overlap: Int,
                 minLen: Int = 10): Option[String] = {
    if (chunks.isEmpty) return Some("no chunks")
    var end = 0
    chunks.zipWithIndex.foreach { case (c, i) =>
      if (c.length > size || c.length <= minLen)
        return Some(s"chunk $i has ${c.length} characters")
      val at = text.indexOf(c, math.max(0, end - overlap))
      if (at < 0 || at > end || (i == 0 && at != 0))
        return Some(s"chunk $i does not continue the text at $end")
      end = at + c.length
    }
    if (text.length - end > minLen) Some(s"chunks end at $end of ${text.length}")
    else None
  }

  /** `Similarity.hashEmbedMeanByKey` with xxhash64 buckets: each chunk's
    * lower-cased whitespace tokens are signed-hashed into `dim` buckets
    * (bucket = xxhash64(token) mod dim, sign from xxhash64(token, 1)),
    * the chunk vector is L2-normalized, and the article's embedding is
    * the mean of its non-zero chunk vectors.
    */
  def embedding(chunks: Seq[String], dim: Int): Array[Double] = {
    val sum = new Array[Double](dim)
    var n = 0
    chunks.foreach { c =>
      val v = new Array[Double](dim)
      c.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
        val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
        v(idx) += (if (java.lang.Math.floorMod(XXH64.hashInt(1, h), 2L) == 0) 1.0 else -1.0)
      }
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm > 0) {
        n += 1
        v.indices.foreach(i => sum(i) += v(i) / norm)
      }
    }
    sum.map(_ / math.max(1, n))
  }

  /** Whether two vectors agree to `tol` in every component. */
  def close(a: Seq[Double], b: Seq[Double], tol: Double = 1e-9): Boolean =
    a.length == b.length && a.indices.forall(i => math.abs(a(i) - b(i)) <= tol)
}
