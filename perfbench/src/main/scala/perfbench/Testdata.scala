package perfbench

import scala.collection.mutable

/** Generators shaped like the engine's shared testdata: the TPC-H-like
  * `lineitem` table, `documents` and `embeddings`. Every parameter below
  * is a measurement of that data at scale factors 0.01 and 0.1, recorded
  * in the README ("Input shape"); row counts scale with the factor. */
object Testdata {

  /** Rows per unit of scale factor (sf0.01: 60,000 lines, 15,000 orders,
    * 2,000 parts, 100 suppliers, 500 docs). */
  val LinesPerSf = 6000000
  val OrdersPerSf = 1500000
  val PartsPerSf = 200000
  val SuppliersPerSf = 10000
  val DocsPerSf = 50000

  /** The text vocabulary, drawn uniformly. */
  val Words: Array[String] = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window").split(" ")
  val MinWords = 10
  val MaxWords = 100
  /** Share of docs that copy another doc and append the word "dup". */
  val NearCopyPercent = 5
  val Sources = 20
  private val Langs = Seq("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /** Embedding width; vectors are isotropic unit vectors with no
    * cluster structure and no near-duplicates. */
  val Dim = 64

  /** Document texts in id order, each a fresh text or a near-copy. */
  final class Texts(rng: java.util.SplittableRandom) {
    val texts: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
    private val originals = mutable.ArrayBuffer.empty[Int]

    /** Append the next text; its id is its index. */
    def next(): Int = {
      if (originals.nonEmpty && rng.nextInt(100) < NearCopyPercent) {
        texts += texts(originals(rng.nextInt(originals.size))) + " dup"
      } else {
        originals += texts.size
        texts += Seq.fill(MinWords + rng.nextInt(MaxWords - MinWords + 1))(
          Words(rng.nextInt(Words.length))).mkString(" ")
      }
      texts.size - 1
    }
  }

  def lang(rng: java.util.SplittableRandom): String = {
    var x = rng.nextInt(100)
    Langs.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  def source(docId: Long): String = s"src${docId % Sources}"

  def unitVector(rng: java.util.SplittableRandom): Array[Float] = {
    val v = Array.fill(Dim)(gauss(rng))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def gauss(rng: java.util.SplittableRandom): Double = {
    val u = math.max(1e-12, rng.nextDouble()); val v = rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }
}
