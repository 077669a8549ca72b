package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span: jobs and the summed metrics of
  * their tasks. */
final class Work {
  var jobs, taskMs, gcMs, shuffleBytes, spillBytes, recordsRead = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; recordsRead += o.recordsRead
  }
}

/** Observes the Spark substrate from outside the program: attributes
  * every job, and the metrics of its tasks, to the job group the benchmark
  * set around the call that ran it, keeps the largest
  * `peakExecutionMemory` of any task, and sums query planning time
  * (analysis + optimization + physical planning). */
final class Meter extends SparkListener with QueryExecutionListener {
  val peakExecMem = new AtomicLong
  // the listener bus delivers events on one thread; readers drain it first
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Work]
  @volatile var planMs = 0L

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      work(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      peakExecMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      stageGroup.get(e.stageId).foreach { g =>
        val w = work(g)
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final case class Span(id: Long, name: String, parent: Long, startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-name totals of finished spans; Spark work includes child spans.
  * A span that never ran has no mean: NaN, which no metric reports. */
final case class SpanTotals(calls: Int, wallS: Double, work: Work) {
  def mean(x: Double): Double = if (calls == 0) Double.NaN else x / calls
}

/** Spans recorded from the benchmark's own files around each call into a
  * layer: name, start, end and parent, kept in memory and written when the
  * run ends. Each span is also the Spark job group of the jobs it runs, so
  * the [[Meter]] can attribute jobs and task time to it. With tracing off,
  * [[span]] only runs its body and no listener is registered. */
final class Tracer(spark: SparkSession, val traced: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  val meter = new Meter
  if (traced) {
    sc.addSparkListener(meter)
    spark.listenerManager.register(meter)
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  val origin: Long = System.nanoTime()

  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Forget spans and attributed work, e.g. after warmup. */
  def reset(): Unit = {
    drain()
    spans.clear(); meter.byGroup.clear(); meter.planMs = 0L; meter.peakExecMem.set(0L)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  private def children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Spark work of a span and all its descendants. */
  private def inclusive(s: Span, kids: Map[Long, Seq[Span]]): Work = {
    val w = new Work
    meter.byGroup.get(s.id.toString).foreach(w += _)
    kids.getOrElse(s.id, Nil).foreach(c => w += inclusive(c, kids))
    w
  }

  private def selfSeconds(s: Span, kids: Map[Long, Seq[Span]]): Double =
    s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Totals over every finished span called `name`. */
  def totals(name: String): SpanTotals = {
    drain()
    val kids = children
    val mine = spans.filter(s => s.name == name && s.endNs >= 0)
    val w = new Work
    mine.foreach(s => w += inclusive(s, kids))
    SpanTotals(mine.size, mine.map(_.seconds).sum, w)
  }

  /** Spark work of every span and job group seen. */
  def allWork: Work = {
    drain()
    val w = new Work
    meter.byGroup.values.foreach(w += _)
    w
  }

  /** One JSON object per span: name, start and end (seconds from the
    * tracer's creation), parent, run id, self time and Spark work. */
  def write(path: java.nio.file.Path): Unit = if (traced) {
    drain()
    val kids = children
    val lines = spans.filter(_.endNs >= 0).map { s =>
      val w = inclusive(s, kids)
      Main.json(Map(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "self_s" -> selfSeconds(s, kids), "jobs" -> w.jobs, "task_s" -> w.taskMs / 1e3))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
