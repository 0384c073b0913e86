package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the three workloads. Each returns the
  * inputs a user would pass plus the planted truth the checks read; the
  * same seed gives the same bytes. Nothing here calls the program. */
object Gen {

  /** A seed for the `i`-th sub-stream of `seed` (passes, shards). */
  def subSeed(seed: Long, i: Long): Long =
    new SplittableRandom(seed * 1000003L + i).nextLong()

  /** Zipf(s = 1) index into a list of `n` items. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def pick[T](xs: IndexedSeq[T], r: SplittableRandom): T =
    xs(r.nextInt(xs.length))

  private def letters(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  // ---- sentiment_score --------------------------------------------------

  /** Neutral nouns: no exact, stemmed or fuzzy (edit distance <= 3)
    * entry in the sentiment dictionary, so they score 0 but still pay a
    * fuzzy lookup, which the word-score cache then holds. */
  val Filler: IndexedSeq[String] = ("amount automobile basket boulevard " +
    "category chemistry content framework geography grandmother hotel " +
    "manufacturer neighbor orchestra payment studio technology thursday " +
    "tuesday").split(" ").toIndexedSeq

  /** Words glued into hashtags ("#tuesdaymarket2024"): the long tail. */
  val HashtagParts: IndexedSeq[String] = ("account airport animal answer " +
    "april area article avenue balloon battery bedroom bicycle birthday " +
    "breakfast building cabinet calendar camera campaign chapter chicken " +
    "cinema climate coffee college column company computer concert corner " +
    "country cousin dinner district doctor downtown editor election engine " +
    "evening festival forest friday garden guitar hallway history holiday " +
    "island journal kitchen library machine market meeting monday morning " +
    "mountain movie museum network office orange painting parking piano " +
    "planet player pocket radio railway recipe region river saturday " +
    "season station street student summer sunday system teacher tennis " +
    "ticket tourist traffic village weather website weekend window winter")
    .split(" ").toIndexedSeq

  /** Common dictionary words of each polarity (the Zipf head). */
  val Positive: IndexedSeq[String] = ("good great love happy best awesome " +
    "nice excellent amazing wonderful perfect beautiful fun enjoy glad " +
    "fantastic brilliant cool lucky pleasant superb delight thank win " +
    "smile adore fresh gorgeous kind hope").split(" ").toIndexedSeq
  val Negative: IndexedSeq[String] = ("bad sad hate awful terrible worst " +
    "poor horrible sick angry ugly annoying boring broken disappointed " +
    "fail hurt lonely miss pain sorry stupid tired upset wrong worried " +
    "crash lost cry fear").split(" ").toIndexedSeq

  final case class Tweet(id: Long, polarity: Int, text: String)

  /** One scoring pass's input. `tailTokens` is the number of distinct
    * tail tokens (hashtags and misspellings) the pass carries. */
  final case class SentimentPass(tweets: IndexedSeq[Tweet], tailTokens: Int)

  /** `n` Sentiment140-shaped tweets. 40% positive and 40% negative, each
    * with two polarity words of its sign; 20% neutral. Every tweet also
    * carries `hashtags` distinct glued hashtags; one in `misspellEvery`
    * tweets carries a distinct one-edit misspelling of a polarity word of
    * its sign. Ids start at `idBase`. */
  def sentimentPass(seed: Long, n: Int, hashtags: Int, misspellEvery: Int,
                    idBase: Long): SentimentPass = {
    val r = new SplittableRandom(seed)
    val fillerZ = new Zipf(Filler.length)
    val posZ = new Zipf(Positive.length)
    val negZ = new Zipf(Negative.length)
    val used = mutable.HashSet.empty[String]
    def fresh(make: => String): String = {
      var t = make
      while (!used.add(t)) t = make
      t
    }
    def misspell(w: String): String = {
      val i = r.nextInt(w.length)
      val c = ('a' + r.nextInt(26)).toChar
      r.nextInt(3) match {
        case 0 => w.updated(i, c)
        case 1 => w.patch(i, Seq(c), 0)
        case _ => if (w.length > 3) w.patch(i, Nil, 1) else w + c
      }
    }
    val tweets = (0 until n).map { i =>
      val polarity = r.nextInt(5) match {
        case 0 | 1 => 1
        case 2 | 3 => -1
        case _ => 0
      }
      val words = mutable.ArrayBuffer.empty[String]
      val pol = polarity match {
        case 1 => () => Positive(posZ.draw(r))
        case -1 => () => Negative(negZ.draw(r))
        case _ => () => Filler(fillerZ.draw(r))
      }
      words ++= Seq(pol(), pol())
      (0 until 4).foreach(_ => words += Filler(fillerZ.draw(r)))
      (0 until hashtags).foreach { _ =>
        words += "#" + fresh((0 until 3).map(_ => pick(HashtagParts, r))
          .mkString + r.nextInt(100000))
      }
      if (polarity != 0 && r.nextInt(misspellEvery) == 0)
        words += fresh(misspell(pol()))
      // shuffle (Fisher-Yates on the seeded stream)
      for (j <- words.indices.reverse) {
        val k = r.nextInt(j + 1)
        val t = words(j); words(j) = words(k); words(k) = t
      }
      val mention = if (r.nextInt(3) == 0) s"@user${r.nextInt(5000)} " else ""
      val url = if (r.nextInt(4) == 0) s" http://t.co/${letters(r, 8)}" else ""
      val emoticon = polarity match {
        case 1 if r.nextInt(3) == 0 => " :)"
        case -1 if r.nextInt(3) == 0 => " :("
        case _ => ""
      }
      Tweet(idBase + i, polarity, mention + words.mkString(" ") + url + emoticon)
    }
    SentimentPass(tweets, used.size)
  }

  /** Sentiment140's CSV dialect: six quoted fields, no header
    * (target, id, date, query, user, text). */
  def sentimentCsv(p: SentimentPass): String = {
    val sb = new StringBuilder
    p.tweets.foreach { t =>
      val target = t.polarity match { case 1 => 4; case -1 => 0; case _ => 2 }
      sb ++= s""""$target","${t.id}","Mon Apr 06 22:19:45 PDT 2009",""" +
        s""""NO_QUERY","user${t.id % 9973}","${t.text}"""" + "\n"
    }
    sb.toString
  }

  /** Planted truth: id and polarity, one per line. */
  def sentimentTruth(p: SentimentPass): String =
    p.tweets.map(t => s"${t.id}\t${t.polarity}\n").mkString

  // ---- curate_stream ----------------------------------------------------

  final case class Doc(id: Long, text: String, source: String,
                       emb: Array[Double])

  /** What the generator planted for one doc: `keep`, or a drop kind
    * (`exact`, `near`, `semantic`, `gate`) with the original it copies. */
  final case class Planted(id: Long, shard: Int, kind: String, original: Long) {
    def drop: Boolean = kind != "keep"
  }

  private val Stop = IndexedSeq("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "with", "as", "on", "was", "by", "at")

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def gaussian(r: SplittableRandom, dim: Int): Array[Double] = {
    // Box-Muller on the seeded stream (java.util.Random is not splittable)
    Array.fill(dim) {
      val u = math.max(r.nextDouble(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
  }

  /** `shards` shards of `perShard` docs. Per shard: 70% originals (kept),
    * then 7.5% each of exact copies, one-token edits and semantic copies
    * (embedding cosine >= 0.99, fresh text) of an original from this or
    * an earlier shard, and 7.5% gate-failing docs. A copy always has a
    * larger id than its original, so first-arrival and min-id rules
    * both drop the copy. */
  def curate(seed: Long, shards: Int, perShard: Int, dim: Int)
      : (IndexedSeq[IndexedSeq[Doc]], IndexedSeq[Planted]) = {
    val r = new SplittableRandom(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000) seen += letters(r, 4 + r.nextInt(5))
      seen.toIndexedSeq
    }
    def sentence(n: Int): IndexedSeq[String] = (0 until n).map { _ =>
      if (r.nextInt(10) < 3) pick(Stop, r) else pick(vocab, r)
    }
    def text(tokens: Seq[String]): String = tokens.mkString(" ") + "."
    val originals = mutable.ArrayBuffer.empty[(Long, IndexedSeq[String], Array[Double])]
    val planted = mutable.ArrayBuffer.empty[Planted]
    var nextId = 0L
    val nDup = math.max(1, perShard * 3 / 40)
    val nKeep = perShard - 4 * nDup
    val out = (0 until shards).map { s =>
      val docs = mutable.ArrayBuffer.empty[Doc]
      def add(kind: String, original: Long, txt: String, emb: Array[Double]): Unit = {
        docs += Doc(nextId, txt, s"src${r.nextInt(8)}", emb)
        planted += Planted(nextId, s, kind, original)
        nextId += 1
      }
      (0 until nKeep).foreach { _ =>
        val toks = sentence(36 + r.nextInt(12))
        val emb = unit(gaussian(r, dim))
        originals += ((nextId, toks, emb))
        add("keep", -1L, text(toks), emb)
      }
      (0 until nDup).foreach { _ =>
        val (oid, toks, _) = pick(originals.toIndexedSeq, r)
        add("exact", oid, text(toks), unit(gaussian(r, dim)))
      }
      (0 until nDup).foreach { _ =>
        val (oid, toks, _) = pick(originals.toIndexedSeq, r)
        val i = 1 + r.nextInt(toks.length - 2)
        var w = vocab(r.nextInt(vocab.length))
        while (w == toks(i)) w = vocab(r.nextInt(vocab.length))
        add("near", oid, text(toks.updated(i, w)), unit(gaussian(r, dim)))
      }
      (0 until nDup).foreach { _ =>
        val (oid, _, emb) = pick(originals.toIndexedSeq, r)
        val noise = gaussian(r, dim).map(_ * 0.08 / math.sqrt(dim))
        val near = unit(emb.zip(noise).map { case (a, b) => a + b })
        add("semantic", oid, text(sentence(36 + r.nextInt(12))), near)
      }
      (0 until nDup).foreach { i =>
        val txt =
          if (i % 2 == 0) Seq.fill(8)("buy cheap pills now").mkString(" ") +
            s" ${letters(r, 6)}"
          else s"$$$$$$ ### ${letters(r, 2)}!!"
        add("gate", -1L, txt, unit(gaussian(r, dim)))
      }
      // file order is not id order: the program must not rely on it
      val a = docs.toArray
      for (j <- a.indices.reverse) {
        val k = r.nextInt(j + 1)
        val t = a(j); a(j) = a(k); a(k) = t
      }
      a.toIndexedSeq
    }
    (out, planted.toIndexedSeq)
  }

  def curateTruth(planted: Seq[Planted]): String =
    planted.map(p => s"${p.id}\t${p.shard}\t${p.kind}\t${p.original}\n").mkString

  // ---- index_serve ------------------------------------------------------

  final case class Vectors(ids: IndexedSeq[Long], vecs: IndexedSeq[Array[Double]],
                           labels: IndexedSeq[Int])

  /** Cluster centres shared by every batch drawn for one seed. */
  def centres(seed: Long, clusters: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val r = new SplittableRandom(seed)
    (0 until clusters).map(_ => unit(gaussian(r, dim)))
  }

  /** `n` vectors around `centres` (noise norm about 0.6), ids from
    * `idBase`; the cluster label of each is the planted truth. */
  def vectors(seed: Long, centres: IndexedSeq[Array[Double]], n: Int,
              idBase: Long): Vectors = {
    val r = new SplittableRandom(seed)
    val dim = centres.head.length
    val rows = (0 until n).map { i =>
      val c = r.nextInt(centres.length)
      val noise = gaussian(r, dim).map(_ * 0.6 / math.sqrt(dim))
      (idBase + i, centres(c).zip(noise).map { case (a, b) => a + b }, c)
    }
    Vectors(rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }

  def vectorTruth(v: Vectors): String =
    v.ids.zip(v.labels).map { case (id, l) => s"$id\t$l\n" }.mkString

  def write(file: File, content: String): Unit = {
    file.getParentFile.mkdirs()
    Files.write(file.toPath, content.getBytes(StandardCharsets.UTF_8))
  }
}
