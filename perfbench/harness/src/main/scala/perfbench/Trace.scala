package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval around a call into a layer. `parent` is the id
  * of the enclosing span (-1 for a root); `key` names the case or step
  * (a regrid method, a query, "exec"). */
final case class Span(id: Int, name: String, key: String, parent: Int,
                      start: Long, var end: Long)

/** Spans plus Spark counters attributed by job group.
  *
  * While a span is open it is the driver thread's job group, so every
  * job Spark starts inside it carries the span id; the listener maps
  * job → stages → tasks back to that span. Everything stays in memory
  * until the end of the run. Without `enabled` no listener is
  * registered; while not `active`, [[span]] is a plain call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  var active: Boolean = enabled
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[(Int, String), Double]()

  private def add(span: Int, k: String, v: Double): Unit = {
    counters.merge((span, k), v, (a: Double, b: Double) => a + b); ()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("span-")).foreach { s =>
        val id = s.stripPrefix("span-").toInt
        add(id, "jobs", 1)
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => add(id, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        add(id, "tasks", 1)
        if (!e.taskInfo.successful) add(id, "failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(id, "task_run_s", m.executorRunTime / 1e3)
          add(id, "task_cpu_s", m.executorCpuTime / 1e9)
          add(id, "gc_s", m.jvmGCTime / 1e3)
          // the Spark UI's definition: task duration not spent running,
          // deserializing, serializing its result or fetching it
          val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (e.taskInfo.gettingResult)
              e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)
          add(id, "scheduler_delay_s", math.max(0L, delay) / 1e3)
          add(id, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add(id, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          add(id, "spill_mb", m.diskBytesSpilled / 1048576.0)
          add(id, "result_mb", m.resultSize / 1048576.0)
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  private def setGroup(): Unit = stack.headOption match {
    case Some(id) => sc.setJobGroup(s"span-$id", spans(id).name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Run `f` inside a span named after the layer it calls into. */
  def span[T](name: String, key: String = "")(f: => T): T =
    if (!active) f
    else {
      val sp = Span(spans.size, name, key, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += sp
      stack = sp.id :: stack
      setGroup()
      try f
      finally {
        sp.end = System.nanoTime()
        stack = stack.tail
        setGroup()
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spans named `name` (and `key`, when given) below any of `roots`. */
  def under(roots: Seq[Span], name: String, key: String = null): Seq[Span] = {
    val ids = roots.map(_.id).toSet
    def below(s: Span): Boolean =
      s.parent >= 0 && (ids.contains(s.parent) || below(spans(s.parent)))
    spans.toSeq.filter(s => s.name == name && (key == null || s.key == key) && below(s))
  }

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Span time not covered by its direct children (children of one span
    * run one after another on the driver thread, so they never overlap). */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.iterator.filter(_.parent == s.id).map(seconds).sum

  /** Counter `k` summed over `s` and all spans below it. */
  def counter(s: Span, k: String): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(counter(_, k)).sum
    Option(counters.get((s.id, k))).getOrElse(0.0) + kids
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(sc)

  /** Spans as JSON lines: name, key, start/end (ns since the first
    * span), parent, self time and counters. */
  def dump(path: java.nio.file.Path): Unit = if (enabled && spans.nonEmpty) {
    val t0 = spans.head.start
    val lines = spans.map { s =>
      val cs = counters.asScala.collect { case ((id, k), v) if id == s.id => k -> Json.num(v) }
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "key" -> Json.str(s.key),
        "parent" -> s.parent.toString, "start_ns" -> (s.start - t0).toString,
        "end_ns" -> (s.end - t0).toString, "self_s" -> Json.num(selfSeconds(s))) ++ cs.toSeq)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}
