package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dedup scaling evidence: run the MinHash-LSH and df-capped n-gram
  * Jaccard dedup operators on synthetic corpora at two sizes and report
  * the runtime ratio — candidate generation is banded/bucketed, so the
  * cost should grow ~linearly with the corpus (a quadratic operator would
  * show a ~25x ratio for a 5x corpus). Corpus: hash-seeded docs over a
  * closed vocabulary with planted near-duplicates (every 50th doc copies
  * its predecessor minus two words). */
object DedupScale {

  def corpus(spark: SparkSession, n: Long, partitions: Int) = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).map { boxed =>
      val i: Long = boxed
      def mix(x: Long): Long = {
        var z = x + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      val base = if (i % 50 == 49) i - 1 else i // planted near-dup pairs
      val words = (0 until 80).map(j => s"w${math.abs(mix(base * 131 + j)) % 5000}")
      val text =
        if (i % 50 == 49) words.drop(2).mkString(" ") // near-copy: 2 words off
        else words.mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.create(32)

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val sizes = Seq(20000L, 100000L)
    val results = sizes.map { n =>
      val docs = corpus(spark, n, 64).persist()
      docs.count() // materialize generation outside the timed region
      val (mPairs, mT) = time(graft.text.TextOps.minhashNearDups(
        docs, "doc_id", "text", n = 3, k = 64, rowsPerBand = 4, threshold = 0.8).count())
      val (jPairs, jT) = time(graft.text.TextOps.ngramJaccardPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.8, maxDocFreq = 2000).count())
      docs.unpersist()
      val planted = n / 50
      println(f"[dedupscale] n=$n minhash=${mT}%.2fs ($mPairs pairs) jaccard=${jT}%.2fs ($jPairs pairs) planted=$planted")
      (n, mT, jT, mPairs, jPairs)
    }
    val (n1, m1, j1, _, _) = results.head
    val (n2, m2, j2, _, _) = results.last
    val sizeRatio = n2.toDouble / n1
    println(f"[dedupscale] corpus x$sizeRatio%.0f -> minhash x${m2 / m1}%.2f, jaccard x${j2 / j1}%.2f (quadratic would be x${sizeRatio * sizeRatio}%.0f)")
    spark.stop()
  }
}
