package graft.ops

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll


/** Property tests over the pure per-row kernels (no SparkSession —
  * these are the functions executors run millions of times per
  * partition, so their invariants get randomized coverage, not just
  * the hand-picked vectors in the suites). */
object KernelProps extends Properties("kernels") {

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)
  private val text: Gen[String] =
    Gen.listOf(word).map(_.mkString(" "))
  private val smallN: Gen[Int] = Gen.choose(1, 5)

  property("shingleSet: distinct, <= n tokens each, empty iff no tokens") =
    forAll(text, smallN) { (t, n) =>
      val sh = Dedup.shingleSet(t, n)
      val tokens = t.trim.split("\\s+").filter(_.nonEmpty)
      Prop(sh.distinct.length == sh.length) &&
        Prop(sh.forall(_.split(" ").length <= n)) &&
        Prop(sh.isEmpty == tokens.isEmpty)
    }

  property("shingleSet: identical modulo case/whitespace => identical") =
    forAll(text, smallN) { (t, n) =>
      val noisy = "  " + t.toUpperCase.replace(" ", "   ") + " "
      Dedup.shingleSet(noisy, n).toSeq == Dedup.shingleSet(t, n).toSeq
    }

  property("signatureOf: length k, superset never raises a component") =
    forAll(Gen.listOf(word), Gen.listOf(word), Gen.choose(1, 16)) { (a, b, k) =>
      val sa = KernelOracles.signatureOf(a.toArray, k)
      val sab = KernelOracles.signatureOf((a ++ b).toArray, k)
      Prop(sa.length == k) &&
        // components are UNSIGNED minima (sentinel -1L = unsigned max)
        Prop(sa.zip(sab).forall { case (x, y) =>
          java.lang.Long.compareUnsigned(y, x) <= 0 })
    }

  property("signatureOf: matches the cross-engine replay model") = {
    // pinned against the SQL/python model:
    //   base  = ('0x' || substr(md5(g), 1, 15))  (60-bit)
    //   h_s   = (A*(2s+1)*base + B*(s+1)) mod 2^64,
    //   A = 11400714819323198485, B = 2685821657736338717
    // If this pin breaks, every DuckDB oracle that re-derives MinHash
    // band collisions (q57 near-novelty) silently diverges.
    val expected = Map(
      "the quick brown" -> Seq(-7144329888579615267L, -5672067249765632902L,
        -4199804610951650537L),
      "a" -> Seq(9142521914358854863L, 6295000011630674256L,
        3447478108902493649L))
    Prop.all(expected.toSeq.map { case (g, want) =>
      Prop(KernelOracles.signatureOf(Array(g), 3).toSeq == want) :| s"gram '$g'"
    }: _*)
  }

  property("fnv1a64: deterministic and distinct-input sensitive") =
    forAll(word, word) { (a, b) =>
      Prop(SimHash.fnv1a64(a) == SimHash.fnv1a64(a)) &&
        Prop(a == b || SimHash.fnv1a64(a) != SimHash.fnv1a64(b))
    }

  property("repetitionOf: ratios bounded, token count consistent") =
    forAll(text) { t =>
      val r = TextStats.repetitionOf(t)
      Prop(r.distinct_ratio >= 0 && r.distinct_ratio <= 1) &&
        Prop(r.top_word_frac >= 0 && r.top_word_frac <= 1) &&
        Prop(r.dup_2gram_frac >= 0 && r.dup_2gram_frac <= 1) &&
        Prop(r.n_tokens == t.trim.split("\\s+").count(_.nonEmpty))
    }

  property("levenshtein: metric axioms and insertion-distance identity") =
    forAll(word, word) { (a, b) =>
      val d = graft.wordscore.Distance.levenshtein(a, b)
      Prop(d >= 0) &&
        Prop((d == 0) == (a == b)) &&
        Prop(graft.wordscore.Distance.levenshtein(b, a) == d) &&
        Prop(d <= math.max(a.length, b.length)) &&
        Prop(d >= math.abs(a.length - b.length)) &&
        // appending k chars moves distance by at most k
        Prop(graft.wordscore.Distance.levenshtein(a, a + b) == b.length)
    }

  property("levenshtein bounded: agrees with exact under the bound, exceeds over it") =
    forAll(word, word, Gen.choose(0, 6)) { (a, b, max) =>
      val exact = graft.wordscore.Distance.levenshtein(a, b)
      val got = graft.wordscore.Distance.bounded(a, b, max)
      if (exact <= max) Prop(got == exact)
      else Prop(got > max)
    }

  // chars that share a mask bit ('a'/'!' and 'b'/'"' are 64 apart),
  // plus non-ASCII: the bound must hold through class collisions
  private val maskWord: Gen[String] =
    Gen.listOf(Gen.oneOf('a', 'b', 'c', 'd', 'e', '!', '"', '#', '\u00e9', '\ud83d'))
      .map(_.mkString)

  property("maskLowerBound: the char-class bound never exceeds levenshtein") =
    forAll(maskWord, maskWord) { (a, b) =>
      import graft.wordscore.Distance.{charMask, levenshtein, maskLowerBound}
      val lb = maskLowerBound(charMask(a), charMask(b))
      Prop(lb <= levenshtein(a, b)) :| s"lb $lb > lev('$a', '$b')"
    }

  // space-free lowercase strings: normalization is the identity, so
  // these pin the pure winnowing selection, not the normalizer
  private val flatText: Gen[String] =
    Gen.listOf(Gen.alphaLowerChar).map(_.mkString)

  property("winnow: fingerprints are a subset of all k-gram hashes, never empty for len >= k") =
    forAll(Gen.choose(2, 8), flatText) { (k, t) =>
      val fp = KernelOracles.winnowScalar(t, k, 4)
      if (t.length < k) Prop(fp.isEmpty)
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val all = (0 to t.length - k)
          .map(i => KernelOracles.md5Base60(md, t.substring(i, i + k))).toSet
        Prop(fp.nonEmpty) && Prop(fp.toSet.subsetOf(all))
      }
    }

  property("winnow codegen kernel == scalar reference on random text incl. multi-byte") =
    forAll(Gen.choose(2, 8), Gen.choose(1, 6), Gen.listOf(Gen.frequency(
      8 -> Gen.alphaLowerChar, 1 -> Gen.oneOf('é', 'ü', '字', '✨'),
      1 -> Gen.numChar)).map(_.mkString)) { (k, w, t) =>
      // the kernel's contract input is the NORMALIZED string; these
      // generated strings are space-free so normalization is identity
      val viaKernel = {
        val arr = Kernels.winnowUtf8(
          org.apache.spark.unsafe.types.UTF8String.fromString(t), k, w)
        (0 until arr.numElements()).map(arr.getLong)
      }
      Prop(viaKernel == KernelOracles.winnowScalar(t, k, w)) :|
        s"k=$k w=$w t='$t'"
    }

  property("winnow guarantee: shared substring of len >= w+k-1 => shared fingerprint") =
    forAll(Gen.choose(2, 6), Gen.choose(2, 6), flatText, flatText,
      flatText) { (k, w, prefix, shared0, suffix) =>
      // pad the shared span to the guarantee length w + k - 1
      val shared = (shared0 + ("z" * (w + k - 1))).take(w + k - 1 + shared0.length)
      val a = KernelOracles.winnowScalar(prefix + shared, k, w).toSet
      val b = KernelOracles.winnowScalar(shared + suffix, k, w).toSet
      Prop(a.intersect(b).nonEmpty) :| s"k=$k w=$w shared='$shared'"
    }

  private val maskCase: Gen[(List[String], Int, Set[String])] = for {
    toks <- Gen.listOf(word)
    n <- Gen.choose(2, 4)
    grams = toks.sliding(n).filter(_.length == n)
      .map(_.mkString(" ")).toSeq.distinct
    hot <- Gen.someOf(grams)
  } yield (toks, n, hot.toSet + (1 to n).map(_.toString).mkString(" "))

  property("maskSpans: keeps exactly the uncovered positions, in order") =
    forAll(maskCase) { case (toks, n, hot) =>
      // reference semantics, independently recomputed: a position is
      // covered iff some hot n-gram occurrence in the INPUT spans it
      // (single-pass — adjacency created BY masking is not re-checked;
      // the digit noise gram never matches the alpha tokens)
      val covered = toks.indices.filter { i =>
        (math.max(0, i - n + 1) to math.min(i, toks.length - n))
          .exists(s => hot.contains(toks.slice(s, s + n).mkString(" ")))
      }.toSet
      val expected = toks.zipWithIndex
        .collect { case (w, i) if !covered(i) => w }.mkString(" ")
      SpanDedup.maskSpans(toks.mkString(" "), n, hot) == expected
    }

  property("maskSpans: empty hot set is identity on normalized text") =
    forAll(text, Gen.choose(2, 4)) { (t, n) =>
      SpanDedup.maskSpans(t, n, Set.empty) ==
        t.trim.split("\\s+").filter(_.nonEmpty).mkString(" ")
    }

  private val mixture: Gen[(Map[String, Long], Map[String, Double])] = for {
    n <- Gen.choose(1, 6)
    names = (1 to n).map(i => s"s$i")
    counts <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
    weights <- Gen.listOfN(n, Gen.choose(0.01, 10.0))
  } yield (names.zip(counts).toMap, names.zip(weights).toMap)

  property("ratesForMixture: rates in [0,1], binding source saturated, proportions exact") =
    forAll(mixture) { case (avail, weights) =>
      val rates = Sample.ratesForMixture(avail, weights)
      val totalW = weights.values.sum
      val realized = rates.map { case (g, r) => g -> avail(g) * r }
      val total = realized.values.sum
      Prop(rates.values.forall(r => r >= -1e-12 && r <= 1 + 1e-12)) &&
        Prop(rates.values.exists(r => math.abs(r - 1.0) < 1e-9)) &&
        Prop(total == 0.0 || weights.forall { case (g, w) =>
          math.abs(realized(g) / total - w / totalW) < 1e-9
        })
    }

  property("ratesForTemperature: rates in (0,1], a source binds, realized ∝ share^alpha") =
    forAll(
      Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.choose(1L, 1000000L))
          .map(cs => (1 to n).map(i => s"s$i").zip(cs).toMap)),
      Gen.choose(0.1, 3.0)) { (avail, alpha) =>
      val rates = Sample.ratesForTemperature(avail, alpha)
      val total = avail.values.sum.toDouble
      val w = avail.map { case (g, n) => g -> math.pow(n / total, alpha) }
      val minRatio = avail.map { case (g, n) => n / w(g) }.min
      // the unrounded arithmetic the operator quantizes to 12 decimals
      // (cross-engine cutoff stability); proportionality is asserted on
      // THIS, and each returned rate must sit within half a quantum of
      // it — in this generator domain (count ratio ≥ 1e-6, alpha ≤ 3)
      // the smallest raw rate is (1e-6)^(3-1) = 1e-12, so quantization
      // never rounds a live source to zero
      val raw = avail.map { case (g, n) =>
        g -> math.min(1.0, w(g) * minRatio / n) }
      val realized = raw.map { case (g, r) => g -> avail(g) * r }
      // some source saturates (no upsampling → the binder keeps 1.0)
      Prop(rates.values.forall(r => r > 0.0 && r <= 1.0)) &&
        Prop(rates.values.exists(r => math.abs(r - 1.0) < 1e-9)) &&
        Prop(avail.keys.forall(g => math.abs(rates(g) - raw(g)) <= 5e-13)) &&
        // realized counts proportional to temperature-flattened shares
        Prop {
          val ref = avail.keys.head
          avail.keys.forall { g =>
            math.abs(realized(g) / realized(ref) - w(g) / w(ref)) <
              1e-6 * (w(g) / w(ref))
          }
        }
    }

  property("cdcChunksOf: lossless partition, boundary tokens end chunks") =
    forAll(Gen.listOf(word), Gen.choose(2, 16)) { (ws, b) =>
      val tokens = ws.toArray
      val chunks = Chunk.cdcChunksOf(tokens, b)
      // concatenating the chunks reproduces the token stream exactly
      Prop(chunks.flatMap(_.split(" ")).filter(_.nonEmpty).toSeq ==
        tokens.toSeq) &&
        // chunking again yields the same partition (determinism)
        Prop(Chunk.cdcChunksOf(tokens, b).toSeq == chunks.toSeq)
    }

  property("cdcChunksOf: a shared suffix after any prefix edit re-chunks identically past the first boundary") =
    forAll(Gen.nonEmptyListOf(word), Gen.nonEmptyListOf(word),
      Gen.nonEmptyListOf(word)) { (p1, p2, suffix) =>
      // two documents that differ only in their prefixes: every chunk
      // that starts after the suffix's first internal boundary is
      // byte-identical — the content-defined guarantee (fixed-size
      // chunking shifts everything instead)
      val a = Chunk.cdcChunksOf((p1 ++ suffix).toArray, 4)
      val b = Chunk.cdcChunksOf((p2 ++ suffix).toArray, 4)
      val sharedTail = a.toSet.intersect(b.toSet)
      // every chunk of the suffix's own chunking except the first
      // (which may merge into the prefix's trailing chunk) must appear
      // verbatim in both documents' chunk sets
      val s = Chunk.cdcChunksOf(suffix.toArray, 4)
      Prop(s.drop(1).forall(sharedTail.contains)) :| "suffix tail shared"
    }

  property("proportionalQuotas: exact total, within one of ideal, never over-allocates a group") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000L)), Gen.choose(0.0, 1.0)) {
      (cs, frac) =>
        val counts = cs.zipWithIndex.map { case (c, i) => f"g$i%03d" -> c }.toMap
        val n = counts.values.sum
        val total = math.round(n * frac)
        val quotas = Sample.proportionalQuotas(counts, total)
        val ideal = counts.map { case (g, c) =>
          g -> (if (n == 0) 0.0 else total.toDouble * c / n) }
        Prop(quotas.values.sum == total) :| "sums to total" &&
          Prop(quotas.forall { case (g, q) => q <= counts(g) }) :| "within group" &&
          Prop(quotas.forall { case (g, q) =>
            math.abs(q - ideal(g)) <= 1.0 + 1e-9 }) :| "within one of ideal"
    }

  property("Bench.fmt: <= 5 chars below the 99999.5 s ceiling, value preserved within the tier's precision") =
    // log-uniform over [1 ms, ~99999 s]: a uniform generator would put
    // ~0.01% of samples below 10 s, leaving the %.3f/%.2f rungs — the
    // widths every real per-query time renders at — effectively untested
    forAll(Gen.choose(-3.0, 4.99997).map(e => math.pow(10, e))) { d =>
      val s = graft.Bench.fmt(d)
      val parsed = s.toDouble
      // precision tier: ms under 10 s, then one fewer decimal per
      // magnitude decade — relative error bounded by the tier
      val tol = if (d < 10) 0.0005 else if (d < 100) 0.005
                else if (d < 1000) 0.05 else 0.5
      Prop(s.length <= 5) :| s"'$s' too wide" &&
        Prop(!s.contains('E') && !s.contains('e')) &&
        Prop(math.abs(parsed - d) <= tol) :| s"'$s' lost $d"
    }

  property("misra-gries: candidates ⊇ every value with freq > n/(k+1), any partitioning") =
    forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 9).map(i => s"v$i")),
      Gen.choose(1, 8),
      Gen.choose(1, 5)) { (stream, k, parts) =>
      val agg = new Frequent.MisraGries(k)
      // simulate Spark's partial/final shape: split the stream into
      // `parts` runs, reduce each into its own buffer, merge buffers
      val buffers = stream.grouped(math.max(1, (stream.size + parts - 1) / parts))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = buffers.reduce(agg.merge)
      val cand = agg.finish(merged).toSet
      val n = stream.size
      val freqs = stream.groupBy(identity).view.mapValues(_.size)
      val mustSurvive = freqs.collect {
        case (v, f) if f.toDouble > n.toDouble / (k + 1) => v }.toSet
      Prop(cand.size <= k) :| s"buffer overflow: ${cand.size} > $k" &&
        Prop(mustSurvive.subsetOf(cand)) :|
          s"lost heavy values ${mustSurvive.diff(cand)} (n=$n k=$k)"
    }

  property("autoMaxDf: floor 64, monotone in block size, Θ(sqrt) envelope") =
    forAll(Gen.choose(0L, 1L << 50), Gen.choose(0L, 1L << 50)) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val (ca, cb) = (Dedup.autoMaxDf(lo), Dedup.autoMaxDf(hi))
      Prop(ca >= 64 && cb >= 64) :| "floor violated" &&
        Prop(ca <= cb) :| s"not monotone: ($lo -> $ca) vs ($hi -> $cb)" &&
        // the derivation's whole point: cap^2 (one gram's max pair
        // fanout) stays within a constant factor of block size
        Prop(hi < 256 || cb.toDouble * cb <= 32.0 * hi + 1) :|
          s"cap^2 ${cb.toDouble * cb} exceeds 32*blockDocs for $hi" &&
        Prop(cb.toDouble >= 4.0 * math.sqrt(hi.toDouble) - 1) :|
          "cap fell below its own formula"
    }

  property("autoNlist: clamp bounds, monotone, per-cell rows bounded by target") =
    forAll(Gen.choose(0L, 1L << 50), Gen.choose(0L, 1L << 50),
      Gen.choose(64L, 1L << 20)) { (a, b, target) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val (ka, kb) = (SimSearch.autoNlist(lo, target),
        SimSearch.autoNlist(hi, target))
      Prop(ka >= 16 && kb <= 131072) :| "clamp violated" &&
        Prop(ka <= kb) :| s"not monotone: ($lo -> $ka) vs ($hi -> $kb)" &&
        // inside the clamp band, expected rows per cell never exceed
        // the target (ceil rounds the cell count UP)
        Prop(kb == 16 || kb == 131072 ||
          hi.toDouble / kb <= target.toDouble + 1e-9) :|
          s"rows/cell ${hi.toDouble / kb} over target $target"
    }

  property("epochPlan: full+frac == min(cap, target/avail) to quantization; frac in [0,1)") =
    forAll(
      Gen.choose(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.choose(100L, 1000000L))
          .map(cs => (1 to n).map(i => s"s$i").zip(cs).toMap)),
      Gen.choose(1L, 10000000L),
      Gen.choose(0.5, 8.0)) { (avail, budget, cap) =>
      val weights = avail.keys.map(_ -> 1.0).toMap
      val plan = Sample.epochPlan(avail, weights, budget, cap)
      val totalW = weights.values.sum
      Prop(plan.values.forall(s =>
        s.full >= 0 && s.fracRate >= 0.0 && s.fracRate < 1.0)) &&
        Prop(avail.keys.forall { g =>
          val target = budget.toDouble * 1.0 / totalW
          val epochs = math.min(cap, target / avail(g))
          val s = plan(g)
          math.abs((s.full + s.fracRate) - epochs) <= 5e-13 + 1e-12 * epochs
        })
    }

  // randomized training samples for opqTrain: n rows of dim d = m*dsub
  private val opqSample: Gen[(Array[Array[Double]], Int, Int)] = for {
    m <- Gen.oneOf(2, 4)
    dsub <- Gen.choose(2, 4)
    k <- Gen.choose(2, 6)
    n <- Gen.choose(4, 24)
    rows <- Gen.listOfN(n * m * dsub, Gen.choose(-5.0, 5.0))
  } yield (rows.grouped(m * dsub).map(_.toArray).toArray, m, k)

  property("opqTrain: monotone objective (rotated <= identity), every iteration count") =
    Prop.forAllNoShrink(opqSample, Gen.choose(0, 4), Gen.choose(42L, 46L)) {
      case ((sample, m, k), iters, seed) =>
        val (_, _, stats) = SimSearch.opqTrain(sample, m, k, seed,
          iters = iters, lloydIters = 3)
        Prop(stats.errRotated <= stats.errIdentity + 1e-9) :|
          s"objective rose: ${stats.errRotated} > ${stats.errIdentity}" &&
          Prop(iters > 0 || math.abs(stats.errRotated - stats.errIdentity) < 1e-12) :|
          "iters=0 must return the identity baseline itself"
    }

  property("opqTrain: the learned rotation is orthonormal and preserves L2 norms") =
    Prop.forAllNoShrink(opqSample, Gen.choose(43L, 47L)) {
      case ((sample, m, k), seed) =>
        val (r, _, _) = SimSearch.opqTrain(sample, m, k, seed,
          iters = 2, lloydIters = 3)
        val d = r.length
        val ortho = (0 until d).forall { i =>
          (0 until d).forall { j =>
            val dot = (0 until d).map(p => r(i)(p) * r(j)(p)).sum
            math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
          }
        }
        val normKept = sample.take(5).forall { v =>
          val y = SimSearch.rotateVec(r, v)
          val nv = math.sqrt(v.map(x => x * x).sum)
          val ny = math.sqrt(y.map(x => x * x).sum)
          math.abs(nv - ny) <= 1e-9 * (1.0 + nv)
        }
        Prop(ortho) :| "R Rᵀ != I" && Prop(normKept) :| "||Rv|| != ||v||"
    }

  // --- graft_normalize: the hand-written chain == the regex/MLlib oracle

  private val tweetParts: Seq[String] =
    graft.text.Emoji.base.keys.toSeq.sorted ++
      graft.text.EmojiOracle.emoValues.linesIterator
        .map(l => l.substring(2, l.indexOf("', '")).replace("''", "'")).toSeq ++
      Seq("http://t.co/x1", "https://a.b/c?d=1&amp;e", "www.foo.com/x", "google.com",
        "x.co.uk/", "a.b.org.", "bit.ly", "x.com", ".com", "&amp;", "&lt;", "&gt;",
        "&quot;", "&lt;3", "<3", "</3", "->", "<-", "&lt;--", "-->", "--", "―", "♫",
        "foo@bar.com", "a.b@c.de", "x@y", "u.s.", "U.S.A.", "e.g.", "Mr.", "mrs.",
        "Dr.", "St.", "Sen.", "Rep.", "10:30", "3.14", "1,000", "1,000,000", "12,34",
        "'", "“", "”", "‘", "’", "\"", "«", "»", "(", ")", "[", "]", "{", "}", "*",
        "...", "!!", "?!", ",", ":", ";", "don't", "'quoted'", "(paren)",
        "rt", "RT", "@user", "@", "#tag", "#", "the", "a", "I", "not", "running",
        "café", "naïve", "İstanbul", "ΟΔΟΣ", "Straße", "日本", "😀", "ё", "́")
  private val gap: Gen[String] =
    Gen.frequency(8 -> Gen.const(" "), 1 -> Gen.const(""), 1 -> Gen.const("  "),
      1 -> Gen.const("\t"), 1 -> Gen.const(" \n "), 1 -> Gen.const("\u2028"))
  private val tweetLike: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.listOf(Gen.oneOf("the", "a", "is", "not", "and", "I")).map(_.mkString(" ")),
    12 -> Gen.listOf(Gen.zip(gap, Gen.frequency(3 -> Gen.oneOf(tweetParts), 2 -> word,
      1 -> Gen.asciiPrintableChar.map(_.toString)))).map(_.map { case (g, w) => g + w }.mkString))

  property("graft_normalize == the regex/UDF/MLlib oracle chain on tweet-like text") =
    forAll(tweetLike, Gen.oneOf(false, true)) { (t, stem) =>
      val want = TextCleanOracle.normalize(t, stem)
      val got = Kernels.normalizeUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), stem).toString
      (Prop(got == want) :| s"normalize('$t', stem=$stem): '$got' != '$want'") &&
        Prop(graft.text.TextClean.cleanTextAndStem(graft.text.Emoji.fromResourceTable)(t) ==
          TextCleanOracle.cleanTextAndStem(graft.text.Emoji.fromResourceTable)(t)) :|
          "cleanTextAndStem, full emoji table" &&
        Prop(graft.text.TweetTokenizer.tokenizeToString(t) ==
          TextCleanOracle.TweetTokenizer.tokenizeToString(t)) :| "tokenizer" &&
        Prop(graft.text.TextClean.cleanString(t) == TextCleanOracle.cleanString(t)) :| "cleanString"
    }

  property("graft_normalize == the oracle chain under locale-sensitive lowercasing") =
    forAll(tweetLike, Gen.oneOf("tr", "tr-TR", "az", "lt", "el", "en-US", "xx-YY"), Gen.oneOf(false, true)) {
      (t0, tag, stem) =>
        // capitals whose lowercase depends on the locale (I, İ, Ì, Σ)
        val t = t0 + " I İ Ì ΟΔΟΣ IS İS THE IT"
        val saved = java.util.Locale.getDefault
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag(tag))
        try {
          val want = TextCleanOracle.normalize(t, stem)
          val got = graft.text.TextClean.normalize(t, stem)
          Prop(got == want) :| s"[$tag] '$got' != '$want'"
        } finally java.util.Locale.setDefault(saved)
    }
}
