package perfbench

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import Main.{Args, Outcome}

/** Passes over nine corpus, ANN and table queries of `SparkEntry.queries`
  * on a corpus that `run.py` generates from the seed before the JVM starts
  * (`corpus.py`). Every pass must reproduce the first pass's results, which
  * are written as parquet for the DuckDB comparison `run.py` makes
  * afterwards.
  *
  * `run` is the `corpus_dedup` workload (one operation is one warm pass);
  * `probe` is the single traced pass, without warm-up, that the traced
  * `clips_suite` run adds so the corpus layers keep a recorded number. */
object CorpusDedup {

  val Tables: Seq[String] = Seq("documents", "embeddings", "events", "customer", "orders", "lineitem")

  private def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def run(a: Args, tr: Tracer, o: Outcome): Unit = {
    val data = a.work.resolve("corpus").toString
    val (spark, _) = Common.setupReps(a, o) { s =>
      Tables.foreach(t => s.read.parquet(s"$data/$t.parquet").schema)
    }
    tr.attach(spark)
    o.itemsPerOp = Main.Queries.size
    val perQuery = passes(a, spark, tr, o, a.seconds, minPasses = 3, warmUp = true)
    if (tr.enabled) {
      Common.sparkLayer(tr, tr.named("corpus.pass"), a.cores, o)
      layers(tr, perQuery, o)
    }
  }

  def probe(a: Args, spark: SparkSession, tr: Tracer, o: Outcome): Unit =
    layers(tr, passes(a, spark, tr, new Outcome, seconds = 0, minPasses = 1, warmUp = false), o)

  /** An untimed warm-up pass (unless `warmUp` is false, when the first
    * timed pass is the reference), then timed passes until the window
    * closes. Returns each query's seconds per timed pass. */
  private def passes(a: Args, spark: SparkSession, tr: Tracer, o: Outcome, seconds: Double,
                     minPasses: Int, warmUp: Boolean): Map[String, Seq[Double]] = {
    val data = a.work.resolve("corpus").toString
    val queries = Main.Queries.map(q => q -> SparkEntry.queries(q))
    val first = mutable.Map[String, (StructType, Array[Row])]()
    def result(q: String, rows: Array[Row], schema: => StructType): Unit =
      first.get(q) match {
        case None => first(q) = (schema, rows)
        case Some((_, want)) =>
          o.check(canonical(rows) == canonical(want), s"$q: result differs from the first pass")
      }
    if (warmUp) {
      queries.foreach { case (q, fn) =>
        val df = fn(spark, data)
        result(q, df.collect(), df.schema)
      }
      Main.phase("corpus warm-up pass done")
    }

    val perQuery = Main.Queries.map(q => q -> mutable.ArrayBuffer[Double]()).toMap
    Common.rounds(seconds, minPasses) { _ =>
      val (_, dt) = Main.seconds(tr.span("corpus.pass") {
        queries.foreach { case (q, fn) =>
          val ((rows, schema), s) = Main.seconds(tr.span(s"q.$q") {
            val df = fn(spark, data)
            (df.collect(), df.schema)
          })
          perQuery(q) += s
          result(q, rows, schema)
        }
      })
      o.opSeconds += dt
      o.attempted += 1
      Main.phase(f"corpus pass $dt%.2fs")
    }

    val verify = a.work.resolve("verify")
    first.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(verify.resolve(q).toString)
    }
    Files.writeString(verify.resolve("oracle_sql.json"),
      Json.obj(Main.Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    perQuery.map { case (q, xs) => q -> xs.toSeq }
  }

  private def layers(tr: Tracer, perQuery: Map[String, Seq[Double]], o: Outcome): Unit = {
    tr.drain()
    Main.Queries.foreach { q =>
      val totals = tr.named(s"q.$q").map(tr.sparkTotals)
      o.layer(s"q.$q.s") = Main.median(perQuery(q))
      o.layer(s"q.$q.jobs") = totals.map(_.jobs).sum.toDouble / totals.size
      o.layer(s"q.$q.shuffle_mb") = totals.map(_.shuffleWrite).sum / 1048576.0 / totals.size
    }
  }
}
