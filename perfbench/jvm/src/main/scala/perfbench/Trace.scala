package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer's public function. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: jobs it launched and the summed
  * task metrics of their stages. */
final class SparkWork {
  var jobs = 0L
  var taskMs = 0L
  var readBytes = 0L
  var writtenBytes = 0L
  var shuffleBytes = 0L
}

/** Maps each job to the span whose id was the driver thread's local
  * property when the job started, and each task to its stage's span. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val work = new ConcurrentHashMap[Int, SparkWork]()

  private def of(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { s =>
      val span = s.toInt
      val w = of(span)
      w.synchronized(w.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, span))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != 0 && m != null) {
      val w = of(span)
      w.synchronized {
        w.taskMs += m.executorRunTime
        w.readBytes += m.inputMetrics.bytesRead
        w.writtenBytes += m.outputMetrics.bytesWritten
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** Spans kept in memory for the whole run. With tracing off, `span` is a
  * plain call: no clock reads, no local property, no listener. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var op = 0L
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def setOp(id: Long): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.Key, if (parent == 0) null else parent.toString)
        done += Span(id, name, parent, op, t0, t1)
      }
    }

  def flush(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = done.toSeq

  def work(span: Int): SparkWork =
    listener.flatMap(l => Option(l.work.get(span))).getOrElse(new SparkWork)

  /** Mean wall time and Spark work per call of the spans named `name`,
    * keyed `<name>_ms`, `<name>.jobs`, `<name>.task_ms`, `<name>.read_mb`,
    * `<name>.written_mb` and `<name>.shuffle_mb`. */
  def layer(name: String): Map[String, Double] = {
    val ss = done.filter(_.name == name).toSeq
    if (ss.isEmpty) Map.empty
    else {
      val ws = ss.map(s => work(s.id))
      def per(f: SparkWork => Long, scale: Double = 1.0): Double =
        ws.map(f).sum / scale / ss.size
      Map(s"${name}_ms" -> Stats.mean(ss.map(_.ms)),
        s"$name.jobs" -> per(_.jobs),
        s"$name.task_ms" -> per(_.taskMs),
        s"$name.read_mb" -> per(_.readBytes, 1048576.0),
        s"$name.written_mb" -> per(_.writtenBytes, 1048576.0),
        s"$name.shuffle_mb" -> per(_.shuffleBytes, 1048576.0))
    }
  }

  /** Span duration minus its direct children's. */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupMapReduce(_.parent)(_.ms)(_ + _)
    done.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans as JSON lines (name, start, end, parent, op, self time). */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = done.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.3f}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
