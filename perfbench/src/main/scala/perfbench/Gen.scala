package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Every input of every workload derives from the
  * `--seed` argument through [[Gen.rng]] streams with fixed salts, so one
  * seed always yields the same corpus, queries, write sequence, arrival
  * files and fold events, and no input is read from outside the run.
  *
  * Corpus: a Gaussian mixture of `clusters` centres in `dim` dimensions.
  * Metadata carries three filter fields of known selectivity:
  * `label` (100 values, 1%), `bucket` (10 values, 10%) and the nested
  * `attrs.group` ("a"/"b", 50%); the search mix filters on the first
  * and the last. Half the rows get a timestamp past the
  * store's recent threshold, so `migrate` moves them to the historical
  * tier. */
object Gen {
  val Dim = 64
  val Clusters = 48
  val DaySec = 86400L

  final case class Row(id: String, vec: Array[Float], label: Int, bucket: Int,
      group: String, old: Boolean) {
    def metadata: String =
      s"""{"label":"l$label","bucket":$bucket,"attrs":{"group":"$group"}}"""
  }

  /** A search filter with its row predicate (the brute-force twin). */
  final case class Filter(name: String, json: String, matches: Row => Boolean)

  val Filter1 = Filter("f1", """{"label":"l7"}""", _.label == 7)
  val Filter50 = Filter("f50", """{"attrs.group":"a"}""", _.group == "a")
  val Filters = Seq(Filter1, Filter50)

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  final class Mixture(seed: Long) {
    private val r = rng(seed, 1)
    val centres: Array[Array[Float]] =
      Array.fill(Clusters)(Array.fill(Dim)((r.nextGaussian() * 1.0).toFloat))

    def sample(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(Clusters))
      Array.tabulate(Dim)(i => (c(i) + r.nextGaussian() * 0.35).toFloat)
    }
  }

  def row(id: String, mix: Mixture, r: SplittableRandom, old: Boolean): Row =
    Row(id, mix.sample(r), r.nextInt(100), r.nextInt(10),
      if (r.nextBoolean()) "a" else "b", old)

  /** `n` corpus rows; every other row (in a seeded order) is old. */
  def corpus(seed: Long, mix: Mixture, n: Int): Vector[Row] = {
    val r = rng(seed, 2)
    Vector.tabulate(n)(i => row(f"c$i%06d", mix, r, old = r.nextBoolean()))
  }

  /** `n` query vectors from the same mixture (never corpus points). */
  def queries(seed: Long, salt: Long, mix: Mixture, n: Int): Vector[Array[Float]] = {
    val r = rng(seed, 100 + salt)
    Vector.fill(n)(mix.sample(r))
  }

  /** ISO timestamp for a row: old rows sit 30-40 days back, recent rows
    * within the last 3 days, measured from `nowMs` (far from the 7-day
    * threshold on both sides, so the tier split does not depend on when
    * the run happens). */
  def tsFor(rowIdx: Int, old: Boolean, nowMs: Long): java.sql.Timestamp = {
    val back =
      if (old) 30 * DaySec + (rowIdx * 7919L) % (10 * DaySec)
      else (rowIdx * 7919L) % (3 * DaySec)
    new java.sql.Timestamp(nowMs - back * 1000L)
  }
}
