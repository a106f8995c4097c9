package perfbench

import java.time.LocalDate

import graft.sources.{ExportClient, Page}

/** Seeded input generation. Every generated text is injective in
  * (seed, row id): it ends in a token spelled from the row id, and its
  * words come from a stream keyed by both. The only duplicates in any
  * corpus are therefore the ones a workload plants on purpose. */
object Gen {
  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent random stream per (seed, purpose, id). */
  def rng(seed: Long, stream: Long, id: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed * 31 + stream) ^ id))

  /** 3,200 distinct words of 4 to 8 letters, fixed (not seeded). They
    * never contain `z`, so no word collides with an [[idToken]]. */
  val Vocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(20240601L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 3200)
      seen += Seq.fill(4 + r.nextInt(5))(('a' + r.nextInt(25)).toChar).mkString
    seen.toIndexedSeq
  }

  /** A token spelled from `id` in letters no vocabulary word uses. */
  def idToken(id: Long): String = {
    val sb = new StringBuilder("zq")
    var v = id
    do { sb.append(('a' + (v % 26)).toChar); v /= 26 } while (v > 0)
    sb.toString
  }

  val Topics = 32
  val TopicWords = 50

  /** `n` words, about 85% drawn from `topic`'s own slice of the
    * vocabulary, so texts of one topic are each other's neighbours. */
  def words(seed: Long, stream: Long, id: Long, n: Int,
      topic: Int): Vector[String] = {
    val r = rng(seed, stream, id)
    Vector.fill(n)(
      if (r.nextInt(20) < 17) Vocab(topic * TopicWords + r.nextInt(TopicWords))
      else Vocab(r.nextInt(Vocab.length)))
  }

  def text(seed: Long, id: Long, topic: Int, n: Int = 24): String =
    (words(seed, 1, id, n, topic) :+ idToken(id)).mkString(" ")

  /** An edited copy: `edits` words replaced at seeded positions. */
  def edit(text: String, seed: Long, stream: Long, id: Long,
      edits: Int): String = {
    val ws = text.split(" ").toBuffer
    val r = rng(seed, stream, id)
    (0 until edits).foreach { _ =>
      ws(r.nextInt(ws.length - 1)) = Vocab(r.nextInt(Vocab.length))
    }
    ws.mkString(" ")
  }
}

/** One highlight as the export API delivers it, plus the book fields the
  * parser denormalizes onto it. */
final case class Highlight(id: Long, text: String, book: Long,
    author: String, category: String, tags: Seq[String],
    highlightedAt: LocalDate)

object Highlights {
  val Authors: IndexedSeq[String] = (0 until 12).map(i => s"author-$i")
  val Categories: IndexedSeq[String] = Vector("books", "articles", "tweets",
    "podcasts")
  val Tags: IndexedSeq[String] = (0 until 10).map(i => s"tag$i")
  val Epoch: LocalDate = LocalDate.of(2022, 1, 1)
  val Days = 730
  val PerBook = 40

  def bookAuthor(seed: Long, book: Long): String =
    Authors(Gen.rng(seed, 2, book).nextInt(Authors.length))
  def bookCategory(seed: Long, book: Long): String =
    Categories(Gen.rng(seed, 3, book).nextInt(Categories.length))

  /** Highlight `id` of a seeded corpus; `rev` > 0 is a changed version of
    * the same highlight (new text, same id and book). */
  def make(seed: Long, id: Long, rev: Int = 0): Highlight = {
    val book = id / PerBook
    val r = Gen.rng(seed, 4, id)
    val tags = Seq.fill(1 + r.nextInt(2))(Tags(r.nextInt(Tags.length))).distinct
    val day = r.nextInt(Days)
    val topic = Gen.rng(seed, 5, book).nextInt(Gen.Topics)
    val text = if (rev == 0) Gen.text(seed, id, topic)
      else Gen.edit(Gen.text(seed, id, topic), seed, 100 + rev, id, 6)
    Highlight(id, text, book, bookAuthor(seed, book), bookCategory(seed, book),
      tags, Epoch.plusDays(day))
  }

  /** Export pages (the `/api/v2/export/` body shape) holding `hs`, at most
    * `perPage` highlights per page, grouped into their books. */
  def pages(hs: Seq[Highlight], perPage: Int): Vector[String] =
    hs.grouped(perPage).map { page =>
      val books = page.groupBy(_.book).toSeq.sortBy(_._1).map { case (b, bh) =>
        val h0 = bh.head
        val highlights = bh.map { h =>
          val ts = s"${h.highlightedAt}T12:00:00Z"
          s"""{"id":${h.id},"text":"${h.text}","note":null,""" +
            s""""location":${h.id % 1000},"url":null,""" +
            s""""tags":[${h.tags.map(t => s"""{"name":"$t"}""").mkString(",")}],""" +
            s""""highlighted_at":"$ts","updated_at":"$ts"}"""
        }.mkString(",")
        s"""{"user_book_id":$b,"title":"book $b","author":"${h0.author}",""" +
          s""""category":"${h0.category}","source":"perfbench",""" +
          s""""source_url":"https://example.org/b/$b","highlights":[$highlights]}"""
      }.mkString(",")
      s"""{"count":${page.size},"nextPageCursor":null,"results":[$books]}"""
    }.toVector

  /** An export client over in-memory pages: the page cursor is the page
    * index, the same chaining the real API's `nextPageCursor` does.
    * `source` is read once per walk, so callers can swap what the next
    * export returns. */
  def client(source: () => Vector[String],
      onFetch: (=> Page) => Page = p => p): ExportClient = {
    @volatile var walk: Vector[String] = Vector.empty
    new ExportClient(
      fetchPage = (_, params) => onFetch {
        val idx = params.get("pageCursor").map(_.toInt).getOrElse(0)
        if (idx == 0) walk = source()
        if (walk.isEmpty) Page("""{"results":[]}""", None)
        else Page(walk(idx),
          if (idx + 1 < walk.length) Some((idx + 1).toString) else None)
      },
      delayMillis = 0, sleep = _ => ())
  }
}
