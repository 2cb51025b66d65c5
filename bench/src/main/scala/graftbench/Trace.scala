package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. */
final class Counters {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val shuffleBytes = new LongAdder
}

/** Spans around the benchmark's calls into the engine. Each open span
  * publishes its id as a SparkContext local property, so the jobs the call
  * submits carry it; [[SpanListener]] charges them to the innermost open
  * span. Spans are kept in memory and written out at the end of the run.
  * A disabled tracer runs the body and records nothing. The benchmark
  * drives the engine from one thread, so the open-span stack is a plain
  * field. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      sc.setLocalProperty(Tracer.Property, id.toString)
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, name, parent, start, System.nanoTime())
        sc.setLocalProperty(Tracer.Property,
          open.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {
  val Property = "graftbench.span"
}

/** Attributes jobs, executed stages, tasks, executor run time and shuffle
  * bytes (read plus written) to the span id each job was submitted
  * under. */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val events = new LongAdder

  private def counters(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt).foreach { span =>
        counters(span).jobs.increment()
        e.stageIds.foreach(stageSpan.put(_, span))
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.increment()
    Option(stageSpan.get(e.stageInfo.stageId))
      .foreach(span => counters(span).stages.increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.increment()
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = counters(span)
      c.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime)
        c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Counters of one span, after the listener bus has gone quiet: events
    * are delivered asynchronously, so poll until two reads agree. */
  def settle(maxWaitMs: Long = 5000): Unit = {
    var prev = -1L
    var waited = 0L
    while (waited < maxWaitMs && events.sum() != prev) {
      prev = events.sum()
      Thread.sleep(50)
      waited += 50
    }
  }

  def of(span: Int): Counters = bySpan.getOrDefault(span, new Counters)
}
