package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def sentiment(seed: Long) = {
    val p = Gen.sentimentPass(seed, 500, 8, 4, 1000L)
    (Gen.sentimentCsv(p), Gen.sentimentTruth(p), p.tailTokens)
  }

  private def curate(seed: Long) = {
    val (shards, planted) = Gen.curate(seed, 3, 80, 16)
    val docs = shards.flatten.map(d =>
      s"${d.id}\t${d.text}\t${d.source}\t${d.emb.mkString(",")}").mkString("\n")
    (docs, Gen.curateTruth(planted))
  }

  private def vectors(seed: Long) = {
    val v = Gen.vectors(seed, Gen.centres(seed, 8, 16), 300, 0L)
    (v.vecs.map(_.mkString(",")).mkString("\n"), Gen.vectorTruth(v))
  }

  test("the same seed gives byte-identical inputs and planted truth") {
    assert(sentiment(7) == sentiment(7))
    assert(curate(7) == curate(7))
    assert(vectors(7) == vectors(7))
  }

  test("another seed gives other inputs") {
    assert(sentiment(7)._1 != sentiment(8)._1)
    assert(curate(7)._1 != curate(8)._1)
    assert(vectors(7)._1 != vectors(8)._1)
  }

  test("written files carry exactly the generated bytes") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-gen").toFile
    try {
      val (csv, truth, _) = sentiment(3)
      Gen.write(new java.io.File(dir, "a.csv"), csv)
      Gen.write(new java.io.File(dir, "t.tsv"), truth)
      def read(n: String) = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, n).toPath), java.nio.charset.StandardCharsets.UTF_8)
      assert(read("a.csv") == csv && read("t.tsv") == truth)
    } finally Disk.deleteRecursively(dir)
  }

  test("every tail token of a pass is distinct and counted") {
    val p = Gen.sentimentPass(5, 1000, 8, 4, 0L)
    val hashtags = p.tweets.flatMap(_.text.split(" ").filter(_.startsWith("#")))
    assert(hashtags.distinct.length == hashtags.length)
    assert(p.tailTokens >= hashtags.length)
  }

  test("planted copies point at earlier originals with smaller ids") {
    val (shards, planted) = Gen.curate(9, 4, 80, 16)
    val byId = planted.map(p => p.id -> p).toMap
    planted.filter(p => p.original >= 0).foreach { p =>
      val o = byId(p.original)
      assert(o.kind == "keep" && o.id < p.id && o.shard <= p.shard)
    }
    assert(planted.map(_.kind).toSet == Set("keep", "exact", "near", "semantic", "gate"))
    assert(shards.flatten.map(_.id).sorted == planted.map(_.id).sorted)
  }

  test("semantic copies keep cosine >= 0.99 with their original") {
    val (shards, planted) = Gen.curate(4, 3, 80, 32)
    val emb = shards.flatten.map(d => d.id -> d.emb).toMap
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    planted.filter(_.kind == "semantic").foreach { p =>
      assert(cos(emb(p.id), emb(p.original)) >= 0.99)
    }
  }
}
