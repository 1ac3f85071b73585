package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Every input the benchmark feeds the program is a
  * pure function of (seed, stream name, index), so one seed always yields
  * byte-identical inputs and each tick's inputs can be made on demand.
  *
  * The shapes follow the `sf0.1` test data set (see perfbench/METRICS.md,
  * "Input shapes"): users drawn uniformly, documents of 10 to 100 words
  * drawn uniformly from a 30-word vocabulary, and 64-dimensional unit
  * embeddings with no cluster structure.
  */
final class Gen(val seed: Long) {
  import Gen._

  def rng(stream: String, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x6a09e667f3bcc909L, stream.hashCode.toLong), index))

  // ---- lambda: events over a uniform user key space ---------------------

  private lazy val requestZipf = new Zipf(UserKeys, RequestSkew)
  private lazy val keyOffset = Math.floorMod(rng("key-offset", 0).nextLong(), UserKeys.toLong)

  /** The user id of request-popularity rank r: a seed-shifted bijection of
    * [0, UserKeys), so the most requested keys differ between seeds.
    */
  def userOfRank(r: Int): Long = Math.floorMod(r.toLong * UserStride + keyOffset, UserKeys.toLong)

  /** One day-batch of events: (event time in ms, user id), time inside day d. */
  def dayEvents(day: Long, n: Int): Array[(Long, Long)] = {
    val r = rng("events", day)
    Array.fill(n)((day * DayMs + r.nextLong(DayMs), r.nextLong(UserKeys.toLong)))
  }

  private def requestedKey(r: SplittableRandom): Long =
    if (r.nextInt(10) == 0) UserKeys + r.nextLong(UserKeys.toLong) // never emitted: absent
    else userOfRank(requestZipf.sample(r))

  /** Serve request `i`: a key set whose size cycles through 1, 8 and 64
    * (so every run holds the same mix), Zipf-drawn; about one key in ten
    * comes from a range the generator never emits, so it is absent.
    */
  def request(i: Long): Array[Long] = {
    val r = rng("request", i)
    val size = RequestSizes(Math.floorMod(i, RequestSizes.length.toLong).toInt)
    Array.fill(size)(requestedKey(r)).distinct
  }

  /** Point lookup `i`: one Zipf-drawn key, absent about one time in ten. */
  def pointKey(i: Long): Long = requestedKey(rng("point", i))

  // ---- retrieval: documents with text and an embedding -----------------

  /** Document `id`: MinWords to MaxWords words drawn uniformly from
    * [[Vocab]], and a unit embedding drawn uniformly from the sphere.
    */
  def doc(id: Long): (Long, String, Array[Float]) = {
    val r = rng("doc", id)
    val text = Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(Vocab(r.nextInt(Vocab.length)))
      .mkString(" ")
    (id, text, unitVector(r).map(_.toFloat))
  }

  /** BM25 query set `i`: `n` queries of two or three vocabulary words. */
  def bm25Queries(i: Long, n: Int): Array[(Long, String)] = {
    val r = rng("bm25-query", i)
    Array.tabulate(n) { q =>
      (q.toLong, Array.fill(2 + r.nextInt(2))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    }
  }

  /** ANN query `i`: a unit vector drawn uniformly from the sphere. */
  def annQuery(i: Long): Array[Double] = unitVector(rng("ann-query", i))

  private def unitVector(r: SplittableRandom): Array[Double] = unit(Array.fill(Dim)(gaussian(r)))
}

object Gen {
  val DayMs: Long = 86400000L
  val UserKeys = 50000
  val UserStride = 2654435761L // odd and not a multiple of 5: coprime to UserKeys
  val RequestSkew = 1.0
  val RequestSizes: Array[Int] = Array(1, 8, 64)
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash join key line " +
    "merge order part query row scan slow small sort spark stream table the value vector window").split(' ')
  val MinWords = 10
  val MaxWords = 100
  val Dim = 64

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** A standard normal draw (Box-Muller; one of the pair is used). */
  def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2.0 * math.Pi * r.nextDouble())

  /** Zipf(n, s) over ranks 0..n-1 by inverse-CDF binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
