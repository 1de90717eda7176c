package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every workload input comes from here; the
  * engine sees only the generated rows and files. The same seed gives
  * the same inputs.
  */
object Gen {

  /** A stream of random numbers for one purpose of one episode: distinct
    * (seed, episode, stream) triples never share draws.
    */
  def rng(seed: Long, episode: Int, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + episode * 7919L + stream)

  /** Fixed vocabulary of pronounceable lowercase words (independent of
    * the seed, so every seed draws from the same language).
    */
  lazy val vocab: Array[String] = {
    val r = new SplittableRandom(20240617L)
    val on = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
      "s", "t", "v", "w", "z", "br", "ch", "st", "tr", "pl", "gr", "sh")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
    val words = scala.collection.mutable.LinkedHashSet[String]()
    while (words.size < 4000) {
      val n = 1 + r.nextInt(3)
      words += (0 until n).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
    }
    words.toArray
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private lazy val wordZipf = new Zipf(vocab.length, 1.05)

  def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(vocab(wordZipf.sample(r)))

  def sentence(r: SplittableRandom, n: Int): String = words(r, n).mkString(" ")

  def date(r: SplittableRandom, fromDay: Int, span: Int): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays((fromDay + r.nextInt(span)).toLong).toString

  def money(x: Double): Double = math.round(x * 100) / 100.0
}
