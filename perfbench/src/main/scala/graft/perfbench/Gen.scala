package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of
  * (seed, stream tag, file index), so the same seed yields the same bytes
  * and the benchmark can rebuild any file's docs on the driver to compute
  * its own reference results. */
object Gen {

  /** One generated FX doc. `marker` is None for docs the pipeline must
    * drop (empty or missing marker, malformed JSON); `line` is the exact
    * text placed in the Kafka message value. */
  final case class FxDoc(marker: Option[String], tsMs: Long, line: String)

  /** FX tick stream shape. `hotKeys` = 0 gives a fresh marker for nearly
    * every doc (the keyed state grows with the stream); > 0 draws markers
    * from that many currency pairs (the state stays constant). */
  final case class FxParams(msgsPerFile: Int, docsPerMsg: Int, hotKeys: Int) {
    def docsPerFile: Int = msgsPerFile * docsPerMsg
  }

  val BaseTsMs = 1530305100000L
  private val Ccy = Seq("EUR", "USD", "GBP", "CHF", "JPY", "CAD", "AUD",
    "NZD", "SEK", "NOK", "DKK", "PLN", "CZK", "HUF", "SGD", "HKD")

  /** Currency-pair markers in the reference payload's `AAA/BBB` form. */
  def pairs(n: Int): IndexedSeq[String] =
    (for (a <- Ccy; b <- Ccy if a != b) yield s"$a/$b").take(n).toIndexedSeq

  def rng(seed: Long, tag: String, idx: Long): SplittableRandom =
    new SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^ idx)

  private def json(ts: Long, marker: String): String =
    s"""{"timestamp_ms": "$ts", "fx_marker": "$marker"}"""

  /** The docs of one staged file, in message order: `docsPerMsg` per
    * message. Mixes in the adversarial rows of the reference wire format:
    * empty and missing markers, malformed JSON, and duplicates of an
    * existing marker carrying an OLDER timestamp (they must lose the
    * last-writer-wins upsert). */
  def fxDocs(seed: Long, tag: String, file: Int, p: FxParams): IndexedSeq[FxDoc] = {
    val r = rng(seed, tag, file)
    val hot = pairs(p.hotKeys)
    (0 until p.docsPerFile).map { d =>
      val g = file.toLong * p.docsPerFile + d
      // strictly increasing timestamps for the regular docs (step 7 ms,
      // jitter < step), so no two regular docs of one key tie
      val ts = BaseTsMs + g * 7 + r.nextInt(5)
      def fresh = if (p.hotKeys > 0) hot(r.nextInt(hot.size)) else f"K$g%09d"
      r.nextInt(100) match {
        case 0 => FxDoc(None, ts, json(ts, ""))
        case 1 => FxDoc(None, ts, s"""{"timestamp_ms": "$ts"}""")
        case 2 => FxDoc(None, ts, s"""{"timestamp_ms": "$ts", "fx_mark""")
        case k if k < 6 =>
          // an older duplicate: a marker seen before, a timestamp from
          // before the stream started
          val m = if (p.hotKeys > 0) hot(r.nextInt(hot.size))
                  else f"K${r.nextLong(g + 1)}%09d"
          val old = BaseTsMs - 1 - r.nextInt(1000000)
          FxDoc(Some(m), old, json(old, m))
        case _ =>
          val m = fresh
          FxDoc(Some(m), ts, json(ts, m))
      }
    }
  }

  /** Kafka message values of one file: docs joined by newlines; every
    * fifth message carries a trailing empty line. */
  def fxMessages(docs: IndexedSeq[FxDoc], p: FxParams): IndexedSeq[String] =
    docs.grouped(p.docsPerMsg).zipWithIndex.map { case (ds, i) =>
      ds.map(_.line).mkString("\n") + (if (i % 5 == 4) "\n" else "")
    }.toIndexedSeq

  /** A generated corpus document and the admission verdict the lake must
    * reach on it: "admitted", "duplicate" or "low_quality". */
  final case class LakeDoc(docId: Long, text: String, planted: String)

  /** Corpus shape: `baseDocs` base docs, then `commits` arriving batches
    * of `perCommit` docs, of which `dupsPerCommit` are exact copies of an
    * earlier base doc or arrival and `lowPerCommit` repeat one word. */
  final case class LakeParams(baseDocs: Int, commits: Int, perCommit: Int,
                              dupsPerCommit: Int, lowPerCommit: Int)

  private def word(r: SplittableRandom): String =
    (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  /** A fixed 300-word vocabulary, the same for every seed. */
  private lazy val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(17L)
    Iterator.continually(word(r)).filter(_.length > 2).distinct.take(300).toIndexedSeq
  }

  /** 40–60 words drawn from the vocabulary: distinct word 3-grams, so two
    * such texts are never near-duplicates, and quality well above the
    * admission floor. */
  private def text(r: SplittableRandom): String =
    (0 until 40 + r.nextInt(21)).map(_ => Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def letters(n: Long): String =
    if (n < 26) ('a' + n.toInt).toChar.toString else letters(n / 26 - 1) + ('a' + (n % 26).toInt).toChar

  /** The base corpus: doc ids 0 until `baseDocs`. */
  def baseDocs(seed: Long, p: LakeParams): IndexedSeq[LakeDoc] = {
    val r = rng(seed, "base", 0)
    (0 until p.baseDocs).map(i => LakeDoc(i.toLong, text(r), "admitted"))
  }

  /** Arriving batch `c` (0-based). Copies take a higher doc id than their
    * original, so the intra-batch first-wins rule also rejects them. */
  def arrivals(seed: Long, p: LakeParams, c: Int): IndexedSeq[LakeDoc] = {
    val r = rng(seed, "arrive", c)
    val first = p.baseDocs.toLong + c.toLong * p.perCommit
    val fresh = p.perCommit - p.dupsPerCommit - p.lowPerCommit
    val news = (0 until fresh).map(i => LakeDoc(first + i, text(r), "admitted"))
    val base = baseDocs(seed, p)
    val dups = (0 until p.dupsPerCommit).map { i =>
      // half copy a base doc, half an admitted arrival of this or an
      // earlier batch
      val src =
        if (i % 2 == 0) base(r.nextInt(base.size))
        else {
          val b = r.nextInt(c + 1)
          if (b == c) news(r.nextInt(news.size))
          else arrivals(seed, p, b).filter(_.planted == "admitted")(r.nextInt(fresh))
        }
      LakeDoc(first + fresh + i, src.text, "duplicate")
    }
    val lows = (0 until p.lowPerCommit).map { i =>
      val id = first + fresh + p.dupsPerCommit + i
      LakeDoc(id, Seq.fill(40)("lowq" + letters(id)).mkString(" "), "low_quality")
    }
    news ++ dups ++ lows
  }

  /** Last-writer-wins reference: marker → (max timestamp) over the docs
    * the pipeline keeps, in arrival order. */
  def lww(into: scala.collection.mutable.HashMap[String, Long],
          docs: Iterable[FxDoc]): Unit =
    docs.foreach { d =>
      d.marker.foreach { m =>
        if (into.get(m).forall(_ < d.tsMs)) into.update(m, d.tsMs)
      }
    }
}
