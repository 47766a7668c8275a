package perfbench

import java.util.SplittableRandom

/** A seeded vocabulary of distinct lowercase words drawn with Zipf
  * frequencies — the shape of natural-language token streams. */
final class Vocab(rnd: SplittableRandom, size: Int, exponent: Double) {
  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 2 + rnd.nextInt(8)
      seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = (1 to size).map(r => 1.0 / math.pow(r, exponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def draw(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = size - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    words(lo)
  }

  def sentence(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(draw(r))
}
