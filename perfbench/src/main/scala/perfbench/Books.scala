package perfbench

import java.util.SplittableRandom

import graft.lake.{DocumentFetcher, MarkerSplit}

/** Gutenberg-shaped books generated from (seed, id), standing in for
  * gutenberg.org so the lake workload needs no network and no fixture.
  *
  * A book is `pre + startMarker + mid + endMarker + post`: a metadata header,
  * one of the two start-marker spellings, a 32-96 KiB body of words, one of
  * the two end-marker spellings and a licence trailer. Ids whose
  * [[Books.unsplittable]] flag is set (1 in 50) carry no end marker, so the
  * engine must report them `marker_split_failed`.
  */
final case class Books(seed: Long) extends DocumentFetcher {

  private def rng(id: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)

  /** The pieces of book `id`; the marker split of the whole text is
    * `(pre + startMarker).trim` and `mid.trim` (MarkerSplit's contract). */
  def parts(id: Long): (String, String, String, String, String) = {
    val r = rng(id)
    val start = MarkerSplit.StartMarkers(r.nextInt(2))
    val end = MarkerSplit.EndMarkers(r.nextInt(2))
    val pre = s"The Project Gutenberg eBook of Book $id\n\nTitle: Book $id\n" +
      s"Author: ${Books.word(r)} ${Books.word(r)}\nRelease date: ${1990 + r.nextInt(30)}\n\n"
    val bodyBytes = 32768 + r.nextInt(65536)
    val sb = new java.lang.StringBuilder(bodyBytes + 64)
    sb.append(s" BOOK $id ***\n\n")
    var line = 0
    while (sb.length < bodyBytes) {
      sb.append(Books.word(r))
      line += 1
      if (line % 12 == 0) sb.append(if (r.nextInt(6) == 0) "\n\n" else "\n")
      else sb.append(' ')
    }
    sb.append("\n\n")
    val post = s" BOOK $id ***\n\nEnd of licence for book $id.\n"
    (pre, start, sb.toString, if (Books.unsplittable(seed, id)) "" else end, post)
  }

  def text(id: Long): String = {
    val (pre, start, mid, end, post) = parts(id)
    pre + start + mid + end + post
  }

  /** Expected (header, body) of a splittable book. */
  def expectedSplit(id: Long): (String, String) = {
    val (pre, start, mid, _, _) = parts(id)
    ((pre + start).trim, mid.trim)
  }

  override def fetch(id: Long): Option[String] =
    if (id <= 0) None else Some(text(id))
}

object Books {
  // Syllable words: a few thousand distinct tokens with a skewed draw, so
  // the lake's parquet pages compress roughly like prose.
  private val Syllables = Array("ka", "lo", "mi", "nu", "re", "sa", "ti",
    "vo", "an", "el", "is", "or", "th", "st", "en", "qu")

  private def word(r: SplittableRandom): String = {
    val n = 1 + Integer.numberOfTrailingZeros(r.nextInt() | 0x8) // 1..4, skewed short
    val sb = new java.lang.StringBuilder(8)
    var i = 0
    while (i < n) { sb.append(Syllables(r.nextInt(Syllables.length))); i += 1 }
    sb.toString
  }

  /** One book in 50 has no end marker. */
  def unsplittable(seed: Long, id: Long): Boolean =
    java.lang.Long.remainderUnsigned(
      new SplittableRandom(seed ^ (id * 0xBF58476D1CE4E5B9L)).nextLong(), 50) == 0

  /** The workload's ids: `bulk` ids for the initial load, then a stream of
    * fresh ids for POSTs and a disjoint pool of ids never ingested. All are
    * distinct positive longs drawn from the seed. */
  final case class Ids(bulk: Vector[Long], fresh: Vector[Long], missing: Vector[Long])

  def ids(seed: Long, bulk: Int, fresh: Int, missing: Int): Ids = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    val total = bulk + fresh + missing
    while (seen.size < total) seen += 1L + r.nextLong(1L << 40)
    val all = seen.toVector
    Ids(all.take(bulk), all.slice(bulk, bulk + fresh), all.drop(bulk + fresh))
  }
}
