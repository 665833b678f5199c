package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded curation feed: (doc_id, text, embedding, key, image, source)
  * rows with planted duplicate classes, each planted against an earlier
  * `Fresh` record so that some armed gate must drop it:
  *   - `Exact`: the same text as an earlier non-seed record (content gate);
  *   - `Near`: that text with ~6 % of its tokens replaced (content gate);
  *   - `Retyped`: an earlier record's key with one or two characters
  *     substituted (fuzzy key gate; seed keys count, they are in the store);
  *   - `Twin`: an earlier non-seed record's image pattern at another
  *     brightness (image gate; dHash cancels a uniform shift).
  * Slots 1-4 of every batch hold one record of each class (where an
  * earlier record to point at exists); the other slots draw at random.
  * Seed records (doc_id < `seedDocs`) are exempt from the content and
  * image gates, so those two classes only point past the seed slice.
  * The same seed gives the same records, image bytes included. */
final class FeedGen(seed: Long, val seedDocs: Int, val batchDocs: Int, val batches: Int) {
  import FeedGen._

  val total: Int = seedDocs + batchDocs * batches

  lazy val records: IndexedSeq[Rec] = {
    val r = new SplittableRandom(seed)
    val vocab = IndexedSeq.tabulate(VocabSize) { i =>
      val w = new StringBuilder
      var x = i + 7
      do { w.append(Syllables(x % Syllables.length)); x /= Syllables.length } while (x > 0)
      w.toString
    }
    val centers = IndexedSeq.fill(Clusters)(Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat))
    def freshText(): String =
      Seq.fill(30 + r.nextInt(40))(vocab(r.nextInt(VocabSize))).mkString(" ")
    def freshKey(): String =
      Seq.fill(14)(KeyChars(r.nextInt(KeyChars.length))).mkString
    def embedding(): Array[Float] = {
      val c = centers(r.nextInt(Clusters))
      c.map(v => (v + 0.3 * (r.nextDouble() * 2 - 1)).toFloat)
    }
    val out = mutable.ArrayBuffer.empty[Rec]
    val fresh = mutable.ArrayBuffer.empty[Rec]
    (0 until total).foreach { i =>
      val id = i.toLong
      val batchStart = if (i < seedDocs) 0 else seedDocs + (i - seedDocs) / batchDocs * batchDocs
      // plants point at fresh records of EARLIER batches: past the seed
      // slice for the content and image classes, anywhere for keys
      val earlier = fresh.filter(_.docId < batchStart)
      val unseeded = earlier.filter(_.docId >= seedDocs)
      val roll = r.nextInt(100)
      val base = Rec(id, freshText(), embedding(), freshKey(), id, (i % 5) * 3,
        s"src${r.nextInt(5)}", Fresh, -1L)
      // slots 1-4 of every batch carry one plant of each class, so every
      // batch with an earlier non-seed batch before it holds all four;
      // later slots draw a class at random
      val kind: Planted =
        if (i < seedDocs) Fresh
        else (i - batchStart) match {
          case 0 => Fresh
          case 1 => Exact
          case 2 => Near
          case 3 => Twin
          case 4 => Retyped
          case _ => if (roll < 4) Exact else if (roll < 8) Near
                    else if (roll < 12) Retyped else if (roll < 16) Twin else Fresh
        }
      val rec = kind match {
        case Exact if unseeded.nonEmpty =>
          val ref = unseeded(r.nextInt(unseeded.length))
          base.copy(text = ref.text, planted = Exact, ref = ref.docId)
        case Near if unseeded.nonEmpty =>
          val ref = unseeded(r.nextInt(unseeded.length))
          val toks = ref.text.split(" ")
          val mutated = toks.map(t => if (r.nextInt(100) < 6) vocab(r.nextInt(VocabSize)) else t)
          base.copy(text = mutated.mkString(" "), planted = Near, ref = ref.docId)
        case Retyped if earlier.nonEmpty =>
          val ref = earlier(r.nextInt(earlier.length))
          val k = ref.key.toCharArray
          (0 until 1 + r.nextInt(2)).foreach { _ =>
            val p = r.nextInt(k.length)
            k(p) = KeyChars.filterNot(_ == k(p))(r.nextInt(KeyChars.length - 1))
          }
          base.copy(key = new String(k), planted = Retyped, ref = ref.docId)
        case Twin if unseeded.nonEmpty =>
          val ref = unseeded(r.nextInt(unseeded.length))
          base.copy(pattern = ref.pattern, bright = (ref.bright + 9 + r.nextInt(20)) % 57,
            planted = Twin, ref = ref.docId)
        case _ => base
      }
      out += rec
      if (rec.planted == Fresh) fresh += rec
    }
    out.toIndexedSeq
  }

  def image(rec: Rec): Array[Byte] =
    graft.operators.Multimodal.pngPatternBytes(rec.pattern, rec.bright, 32, 24)

  /** Doc ids of batch `b` (0-based, after the seed slice). */
  def batchRange(b: Int): (Long, Long) = {
    val lo = seedDocs.toLong + b.toLong * batchDocs
    (lo, lo + batchDocs)
  }
}

object FeedGen {
  final case class Rec(docId: Long, text: String, embedding: Array[Float],
                       key: String, pattern: Long, bright: Int, source: String,
                       planted: Planted, ref: Long)

  sealed trait Planted
  case object Fresh extends Planted
  case object Exact extends Planted
  case object Near extends Planted
  case object Retyped extends Planted
  case object Twin extends Planted

  val Dim = 64
  val Clusters = 16
  val VocabSize = 3000
  val Syllables: IndexedSeq[String] = IndexedSeq("ka", "ro", "mi", "su", "te", "la",
    "po", "ne", "di", "va", "gu", "ze", "bo", "ri", "fa", "lu")
  val KeyChars: IndexedSeq[Char] = ('a' to 'z') ++ ('0' to '9')
}
