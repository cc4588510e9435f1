package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.TextOps

case class Doc(id: Long, text: String)

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokens / tokenCount handle empties and whitespace runs") {
    val df = Seq(Doc(1, "the quick  brown\tfox"), Doc(2, ""), Doc(3, "  "), Doc(4, null)).toDF()
    val got = df.select(col("id"), TextOps.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 4, 2L -> 0, 3L -> 0, 4L -> 0))
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq(Doc(1, "Hello  World"), Doc(2, "  hello world "), Doc(3, "other")).toDF()
    val fps = df.select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("repetitionRatio: degenerate text scores high, unique text zero") {
    val df = Seq(Doc(1, "spam spam spam spam"), Doc(2, "all tokens unique here"),
      Doc(3, ""), Doc(4, null), Doc(5, "a b a b")).toDF()
    val got = df.select(col("id"), TextOps.repetitionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.75, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.5))
  }

  test("exactDupGroups finds duplicate groups") {
    val df = Seq(Doc(1, "a b"), Doc(2, "A  b"), Doc(3, "c")).toDF()
    val d = TextOps.exactDupGroups(df, "text").collect()
    assert(d.length == 1 && d(0).getAs[Long]("cnt") == 2)
  }

  test("shingles: word 3-grams, distinct, short-text safe") {
    val df = Seq(Doc(1, "a b c d"), Doc(2, "a b")).toDF()
    val got = df.select(col("id"), TextOps.shingles(col("text"), 3).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
  }

  test("minhash LSH finds near-identical docs and skips distinct ones") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val far = (100 to 130).map(i => s"v$i").mkString(" ")
    val df = Seq(Doc(1, base), Doc(2, near), Doc(3, far)).toDF()
    val pairs = TextOps.minhashNearDups(df, "id", "text", n = 3, k = 64,
      rowsPerBand = 4, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id_a") == 1 && pairs(0).getAs[Long]("id_b") == 2)
    assert(pairs(0).getAs[Double]("jaccard") > 0.8)
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val df = Seq(Doc(1, "a b c d e"), Doc(2, "a b c d f"), Doc(3, "x y z w q")).toDF()
    val pairs = TextOps.ngramJaccardPairs(df, "id", "text", n = 3, threshold = 0.1).collect()
    assert(pairs.length == 1)
    // shingles: {abc,bcd,cde} vs {abc,bcd,cdf}: common 2, union 4 → 0.5
    assert(pairs(0).getAs[Double]("jaccard") == 0.5)
  }

  test("ngramJaccardPairs df-cap drops hot shingles, keeps discriminative pairs") {
    // "h1 h2 h3" is a hot shingle shared by ALL docs; docs 1/2 also share
    // discriminative shingles; doc 3/4 share ONLY the hot shingle
    val near = "h1 h2 h3 alpha beta gamma delta"
    val nearB = "h1 h2 h3 alpha beta gamma epsilon"
    val loner1 = "h1 h2 h3 kappa lambda mu nu"
    val loner2 = "h1 h2 h3 omega psi chi phi"
    val df = Seq(Doc(1, near), Doc(2, nearB), Doc(3, loner1), Doc(4, loner2)).toDF()
    val capped = TextOps.ngramJaccardPairs(df, "id", "text", n = 3,
      threshold = 0.05, maxDocFreq = 2).collect()
    // pair (1,2) survives via its non-hot shingles; jaccard is a lower
    // bound (hot common shingles not counted)
    val ids = capped.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.exists(p => p._1 == 3L || p._2 == 3L))
    val uncapped = TextOps.ngramJaccardPairs(df, "id", "text", n = 3,
      threshold = 0.05).collect()
    val unJ = uncapped.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L).head.getAs[Double]("jaccard")
    val capJ = capped.filter(r => r.getLong(0) == 1L && r.getLong(1) == 2L).head.getAs[Double]("jaccard")
    assert(capJ <= unJ)
  }

  test("shingle kernel handles unicode, tabs, and n=1") {
    val df = Seq(Doc(1, "Héllo\tWörld  FOO"), Doc(2, "one")).toDF()
    val got = df.select(col("id"), TextOps.shingles(col("text"), 1).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("héllo", "wörld", "foo"))
    assert(got(2L) == Seq("one"))
  }

  test("simhash: identical docs distance 0, near docs close, far docs far") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ")
    val far = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq(Doc(1, base), Doc(2, base), Doc(3, near), Doc(4, far)).toDF()
    val h = df.select(col("id"), TextOps.simhash(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) == 0)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("simhashNearDups pairs identical docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val far = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq(Doc(1, base), Doc(2, base), Doc(3, far)).toDF()
    val pairs = TextOps.simhashNearDups(df, "id", "text", maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("minhash adversarial: 10k identical docs cost O(m) via pre-collapse (star form)") {
    // the r04-verdict scale-killer: an m-copy boilerplate cluster shares
    // ALL band keys, so the uncollapsed banded self-join generates m²/2
    // candidates (5·10^7 here — this test would not finish). With exact-
    // fingerprint pre-collapse the cluster costs one banding row and the
    // star form emits exactly m-1 member→rep edges.
    val boiler = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = (1L to 10000L).map(i => Doc(i, boiler)) :+ Doc(20000L, "totally different text here " + (1 to 27).map(i => s"z$i").mkString(" "))
    val out = TextOps.minhashNearDups(docs.toDF(), "id", "text",
      n = 3, k = 64, rowsPerBand = 4, threshold = 0.5, expandDups = false).collect()
    assert(out.length == 9999)
    assert(out.forall(r => r.getLong(0) == 1L && r.getDouble(2) == 1.0))
    assert(out.map(_.getLong(1)).toSet == (2L to 10000L).toSet)
  }

  test("minhash expansion reproduces uncollapsed semantics exactly (values carry over)") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val near = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val far = (100 to 130).map(i => s"v$i").mkString(" ")
    // 5-copy clique of `base` (ids 1-5), one near doc (6), one far (7)
    val df = ((1L to 5L).map(i => Doc(i, base)) ++ Seq(Doc(6L, near), Doc(7L, far))).toDF()
    val out = TextOps.minhashNearDups(df, "id", "text", n = 3, k = 64,
      rowsPerBand = 4, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // within-clique: all 10 pairs at jaccard 1.0
    val within = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    assert(within.forall(p => out.get(p).contains(1.0)))
    // cross: every clique member pairs with the near doc at the SAME jaccard
    val crossJ = (1L to 5L).map(a => out((a, 6L))).distinct
    assert(crossJ.length == 1 && crossJ.head > 0.8)
    assert(out.size == within.size + 5) // far doc contributes nothing
    // a heavily binding bucket cap cannot break exactness here: the clique
    // occupies ONE slot per bucket post-collapse (only 3 distinct groups)
    val capped = TextOps.minhashNearDups(df, "id", "text", n = 3, k = 64,
      rowsPerBand = 4, threshold = 0.5, maxBucketSize = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped == out)
  }

  test("simhash adversarial: identical-doc clique bypasses banding; cap=1 stays exact") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val far = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = ((1L to 100L).map(i => Doc(i, base)) :+ Doc(200L, far)).toDF()
    // cap=1 strangles candidate generation completely — yet all 4950
    // within-clique pairs survive because they flow through expansion,
    // never through the banded join
    val out = TextOps.simhashNearDups(df, "id", "text", maxHamming = 3,
      nChunks = 4, maxBucketSize = 1).collect()
    assert(out.length == 4950)
    assert(out.forall(_.getInt(2) == 0))
    // star form: 99 member→rep edges
    val stars = TextOps.simhashNearDups(df, "id", "text", maxHamming = 3,
      nChunks = 4, expandDups = false).collect()
    assert(stars.length == 99 && stars.forall(r => r.getLong(0) == 1L && r.getInt(2) == 0))
  }

  test("binding bucket cap over distinct near-identical docs keeps an exact subset") {
    // no two docs share their normalized text, so the pre-collapse cannot
    // absorb the skew: the near-identical docs crowd the same buckets and
    // the cap itself has to bind
    val words = (1 to 60).map(i => s"w$i")
    val df = (1 to 30).map(i => Doc(i.toLong, words.updated(2 * i - 1, s"x$i").mkString(" "))).toDF()
    def pairs(out: org.apache.spark.sql.DataFrame): Map[(Long, Long), Any] =
      out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.get(2)).toMap
    def checkSubset(full: Map[(Long, Long), Any], capped: Map[(Long, Long), Any]): Unit = {
      assert(capped.nonEmpty && capped.size < full.size, s"${capped.size} of ${full.size}")
      assert(capped.forall { case (p, v) => full.get(p).contains(v) })
    }
    def minhash(cap: Int) = pairs(TextOps.minhashNearDups(df, "id", "text", n = 3, k = 64,
      rowsPerBand = 4, threshold = 0.5, maxBucketSize = cap))
    checkSubset(minhash(0), minhash(4))
    def simhash(cap: Int) = pairs(TextOps.simhashNearDups(df, "id", "text", maxHamming = 6,
      nChunks = 8, maxBucketSize = cap))
    checkSubset(simhash(0), simhash(4))
  }

  test("langId picks marker language; und without markers") {
    val df = Seq(
      Doc(1, "the cat and the dog was in that house"),
      Doc(2, "der hund und die katze ist nicht da"),
      Doc(3, "el perro que la casa de los gatos"),
      Doc(4, "xyz abc qqq")).toDF()
    val got = df.select(col("id"), TextOps.langId(col("text")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("quality score: clean prose beats punctuation soup") {
    val df = Seq(
      Doc(1, "the quick brown fox jumps over the lazy dog and runs to the hills for a while longer today"),
      Doc(2, "@#$% ^&*! ~~~ ??? !!!")).toDF()
    val q = df.select(col("id"), TextOps.qualityScore(col("text")).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > 0.7 && q(2L) < 0.3)
  }
}
