package e2ebench

/** Seeded input generation. Every input the benchmark hands the engine comes
  * from here, so a seed fixes the inputs completely (SplitMix64: no state
  * shared with any library RNG, identical on every JVM). */
final class Rng(seed: Long) {
  // the seed is scrambled first: a raw seed would start seed + 1 one step
  // further along the same sequence
  private var s = Rng.mix(seed)

  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    Rng.mix(s)
  }

  /** Uniform in [0, n). */
  def below(n: Int): Int = ((nextLong() >>> 33) % n).toInt

  /** Uniform in [0, 1). */
  def unit(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble

  def chance(p: Double): Boolean = unit() < p

  def shuffle[A](xs: Seq[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = below(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}

object Rng {
  /** SplitMix64's finalizer: a bijective 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def sample(r: Rng): Int = {
    val u = r.unit()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {
  /** Mixes the workload seed with a stream name, so independent streams of
    * one run never share a sequence. */
  def rng(seed: Long, stream: String): Rng =
    new Rng(Rng.mix(seed) ^ Rng.mix(stream.hashCode.toLong))

  /** 2,400 distinct pronounceable words. A vocabulary this wide keeps
    * unrelated documents' 64-bit simhashes and shingle sets apart, so the
    * only duplicates the store sees are the planted ones. */
  val words: Vector[String] = {
    val onsets = Vector("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z", "br", "st", "tr", "pl", "gr", "sk")
    val vowels = Vector("a", "e", "i", "o", "u", "ai")
    val codas = Vector("", "n", "r", "s", "k", "m", "l", "t", "x", "nd", "st", "rk",
      "mp", "sh", "th", "ng", "ck", "ft", "lt", "rn")
    for (o <- onsets; v <- vowels; c <- codas) yield o + v + c
  }

  def text(r: Rng, minTokens: Int, maxTokens: Int): String = {
    val n = minTokens + r.below(maxTokens - minTokens + 1)
    Iterator.fill(n)(words(r.below(words.size))).mkString(" ")
  }

  /** Same tokens, different order: a different exact fingerprint with the
    * same bag of tokens, hence the same simhash. */
  def reorder(r: Rng, text: String): String = {
    val toks = text.split(" ")
    var k = 0
    var out = toks
    while (k < 20 && out.sameElements(toks)) { out = r.shuffle(toks.toSeq).toArray; k += 1 }
    out.mkString(" ")
  }
}
