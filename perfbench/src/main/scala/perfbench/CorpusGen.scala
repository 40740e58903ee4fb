package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded generator of the `documents` table (doc_id, text, lang, source,
  * n_chars) with planted duplicates of three kinds:
  *
  *  - exact: a copy of an original whose text differs only in case and
  *    whitespace, so it shares the original's normalized fingerprint;
  *  - near: a copy of an original with one token replaced;
  *  - substring: a fresh document that embeds a verbatim run of
  *    [[SubstringRun]] tokens taken from an original.
  *
  * Originals draw their tokens from a fixed vocabulary of a few thousand
  * synthetic words, so two originals sharing a 5-token run, or a
  * fingerprint, is vanishingly rare. The vocabulary does not depend on the
  * seed, so corpora of different seeds differ in their documents but not in
  * their word statistics (and compress alike); the generator still rejects any such
  * original so that the planted sets are the only duplicates by
  * construction. Ids are shuffled so copies can come before or after
  * their originals.
  */
object CorpusGen {

  case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  /** The planted pairs, as (original id, copy id). */
  case class Planted(exact: Seq[(Long, Long)], near: Seq[(Long, Long)],
                     substring: Seq[(Long, Long)])

  case class Corpus(docs: Seq[Doc], planted: Planted)

  val SubstringRun = 30
  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(0x70cab)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Iterator.continually {
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => letters.charAt(r.nextInt(letters.length))).mkString
    }.distinct.take(4000).toIndexedSeq
  }

  def generate(seed: Long, originals: Int): Corpus = {
    require(originals >= 10, s"need at least 10 originals, got $originals")
    val r = new SplittableRandom(seed)
    // a skewed head keeps word counts uneven, as tokenizer training expects
    def word(): String =
      if (r.nextInt(5) == 0) vocab(r.nextInt(60)) else vocab(r.nextInt(vocab.size))
    def tokens(n: Int): IndexedSeq[String] = (0 until n).map(_ => word())

    def grams(t: IndexedSeq[String]): Iterator[String] = t.sliding(5).map(_.mkString(" "))
    val seenGrams = scala.collection.mutable.HashSet.empty[String]
    val origToks = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    while (origToks.size < originals) {
      val t = tokens(40 + r.nextInt(80))
      val g = grams(t).toSeq
      if (g.distinct.size == g.size && !g.exists(seenGrams)) {
        seenGrams ++= g
        origToks += t
      }
    }
    val nExact = originals / 10
    val nNear = originals / 10
    val nSub = originals / 10
    // copies point at distinct originals so the planted pairs never chain
    val targets = r.ints(0, originals).distinct().limit((nExact + nNear + nSub).toLong)
      .toArray.toSeq
    val (exactOf, rest) = targets.splitAt(nExact)
    val (nearOf, subOf) = rest.splitAt(nNear)

    val exactToks = exactOf.map { o =>
      val t = origToks(o)
      t.map(w => if (r.nextInt(4) == 0) w.toUpperCase else w).mkString("  ") + " "
    }
    val nearToks = nearOf.map { o =>
      val t = origToks(o)
      val at = r.nextInt(t.size)
      var w = word()
      while (w == t(at)) w = word()
      t.updated(at, w).mkString(" ")
    }
    val subToks = subOf.map { o =>
      val t = origToks(o)
      val from = r.nextInt(t.size - SubstringRun + 1)
      var fresh = tokens(30 + r.nextInt(30))
      // the fresh filler must not add a second shared run
      while (grams(fresh).exists(seenGrams)) fresh = tokens(30 + r.nextInt(30))
      val cut = r.nextInt(fresh.size)
      (fresh.take(cut) ++ t.slice(from, from + SubstringRun) ++ fresh.drop(cut))
        .mkString(" ")
    }
    val texts = origToks.map(_.mkString(" ")) ++ exactToks ++ nearToks ++ subToks
    // shuffled ids: position i of `texts` gets id perm(i)
    val perm = {
      val a = (0L until texts.size.toLong).toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val x = a(i); a(i) = a(j); a(j) = x
      }
      a.toIndexedSeq
    }
    val docs = texts.indices.map(i =>
      Doc(perm(i), texts(i), langs(r.nextInt(langs.size)), s"src${r.nextInt(10)}"))
      .sortBy(_.id)
    def pairs(of: Seq[Int], offset: Int) =
      of.zipWithIndex.map { case (o, i) => (perm(o), perm(offset + i)) }
    Corpus(docs, Planted(pairs(exactOf, originals), pairs(nearOf, originals + nExact),
      pairs(subOf, originals + nExact + nNear)))
  }

  /** One line per document, tab-separated, as the exact bytes the corpus
    * is defined by (the parquet file is written from these rows). */
  def bytes(c: Corpus): Array[Byte] =
    c.docs.map(d => s"${d.id}\t${d.text}\t${d.lang}\t${d.source}\t${d.nChars}")
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
}
