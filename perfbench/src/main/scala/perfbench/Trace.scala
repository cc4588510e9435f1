package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark task counters summed over the jobs of one job group. */
final class SparkTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var schedMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L

  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; schedMs += o.schedMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
  }
}

/** Sums Spark's own task metrics by the job group active when each job was
  * submitted. Registered by the benchmark; nothing in the engine knows it. */
final class GroupCollector extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, SparkTotals]()
  private def of(g: String) = totals.getOrElseUpdate(g, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup(s) = g)
    of(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => of(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
      t.output += m.outputMetrics.bytesWritten
    }
  }

  def group(g: String): SparkTotals = synchronized(totals.getOrElse(g, new SparkTotals))
}

/** One traced call: name, start, end (ns) and parent span id (-1 at the top). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end = 0L
  def seconds: Double = (end - start) / 1e9
  def group: String = s"span-$id"
}

/** Span recorder for the traced run. Each span has a name, start, end and
  * parent; Spark jobs attach to the innermost open span through a job
  * group. With tracing off, `span` only evaluates its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var sc: Option[SparkContext] = None
  private val collector = new GroupCollector

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(collector)
    sc = Some(spark.sparkContext)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), System.nanoTime())
      spans += s
      open = s :: open
      sc.foreach(_.setJobGroup(s.group, name))
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.foreach(c => open.headOption match {
          case Some(p) => c.setJobGroup(p.group, p.name)
          case None => c.clearJobGroup()
        })
      }
    }

  def drain(): Unit = sc.foreach(org.apache.spark.perfbench.ListenerDrain(_))

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Span time not covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Spark totals of a span and all spans below it. */
  def sparkTotals(s: Span): SparkTotals = {
    val t = new SparkTotals
    def walk(x: Span): Unit = { t.add(collector.group(x.group)); children.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    t
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** All spans as a JSON array: id, name, parent, start and end (seconds
    * from the first span), self time and the span's own Spark counters. */
  def toJson: String = {
    val t0 = spans.headOption.fold(0L)(_.start)
    spans.map { s =>
      val g = collector.group(s.group)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "start_s" -> Json.num((s.start - t0) / 1e9), "end_s" -> Json.num((s.end - t0) / 1e9),
        "self_s" -> Json.num(selfSeconds(s)), "jobs" -> Json.num(g.jobs),
        "tasks" -> Json.num(g.tasks), "task_run_s" -> Json.num(g.runMs / 1e3),
        "shuffle_write_bytes" -> Json.num(g.shuffleWrite)))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Minimal JSON writer; numbers keep all their digits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
