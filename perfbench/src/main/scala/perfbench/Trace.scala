package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** JVM-wide counters read at span boundaries. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long = CodeGenerator.compileTime
  /** Heap in use after a full GC: the least of three GC-then-read rounds,
    * with a pause between them so Spark's ContextCleaner can release what
    * the previous collection made unreachable. */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
}

/** One closed span: a call into a layer made by the benchmark. Times are
  * epoch milliseconds (the clock Spark stamps job events with) plus a
  * nanosecond duration. Counter fields are deltas over the span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, tag: String,
    startMs: Long, endMs: Long, durNs: Long, codegenClasses: Long,
    codegenNs: Long, gcMs: Long)

/** Spark work seen by the listener, keyed by the span that was open when it
  * was submitted. */
final case class JobRec(span: Int, startMs: Long) {
  @volatile var endMs: Long = -1L
}
final class StageAgg {
  var stages = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

/** Attributes jobs, stages and tasks to spans through the local property
  * [[Tracer.SpanKey]], which Spark copies into every job and stage it
  * submits from the thread (and the threads SQL execution spawns). */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val perSpan = new ConcurrentHashMap[Int, StageAgg]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
  private def agg(span: Int): StageAgg =
    perSpan.computeIfAbsent(span, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(spanOf(e.properties), e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    val a = agg(s)
    a.synchronized(a.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Spans around every call the benchmark makes into a layer. With tracing
  * off, `op` and `span` only run their bodies. Spans stay in memory until
  * [[write]] at the end of the run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  /** Counters a layer reports about one op (cache hits, bytes written ...),
    * summed per op and name. */
  private val opCounters = mutable.Map.empty[(Int, String), Double]
  def count(name: String, v: Double): Unit =
    if (enabled) opCounters((curOp, name)) = opCounters.getOrElse((curOp, name), 0.0) + v

  def op[T](i: Int)(f: => T): T = { curOp = i; span("op")(f) }

  def span[T](name: String, tag: String = "")(f: => T): T =
    if (!enabled) f else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      stack = id :: stack
      val (c0, n0, g0) = (Jvm.codegenClasses, Jvm.codegenNs, Jvm.gcMs)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val dur = System.nanoTime() - t0
        spans += Span(id, name, parent, curOp, tag, w0, System.currentTimeMillis(),
          dur, Jvm.codegenClasses - c0, Jvm.codegenNs - n0, Jvm.gcMs - g0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Per-op flat metric maps, built once every listener event is in. */
  def perOp(): Seq[Map[String, Double]] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val jobsBySpan = listener.jobs.values.asScala.toSeq.groupBy(_.span)
    spans.filter(_.name == "op").sortBy(_.op).map { op =>
      val kids = spans.filter(s => s.op == op.op && s.id != op.id).toSeq
      val all = op +: kids
      val jobs = all.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val aggs = all.flatMap(s => Option(listener.perSpan.get(s.id)))
      val opMs = op.durNs / 1e6
      val busy = unionMs(jobs.map(j => (j.startMs.max(op.startMs),
        (if (j.endMs < 0) op.endMs else j.endMs).min(op.endMs))))
      val m = mutable.Map[String, Double](
        "op.ms" -> opMs,
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> aggs.map(_.stages).sum.toDouble,
        "spark.tasks" -> aggs.map(_.tasks).sum.toDouble,
        "spark.task_ms" -> aggs.map(_.taskMs).sum.toDouble,
        "spark.shuffle_bytes" -> aggs.map(_.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> aggs.map(_.spillBytes).sum.toDouble,
        "spark.job_busy_ms" -> busy,
        "spark.driver_gap_ms" -> (opMs - busy).max(0.0),
        "spark.codegen_classes" -> op.codegenClasses.toDouble,
        "spark.codegen_compile_ms" -> op.codegenNs / 1e6,
        "jvm.gc_ms" -> op.gcMs.toDouble)
      def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
      kids.foreach { s =>
        val key = if (s.tag.isEmpty) s.name else s"${s.name}.${s.tag}"
        Seq(s.name, key).distinct.foreach { k =>
          add(s"$k.ms", s.durNs / 1e6)
          add(s"$k.calls", 1.0)
        }
        add(s"${s.name}.jobs", jobsBySpan.getOrElse(s.id, Nil).size.toDouble)
        add(s"${s.name}.codegen_classes", s.codegenClasses.toDouble)
      }
      opCounters.foreach { case ((o, k), v) => if (o == op.op) add(k, v) }
      m.toMap
    }.toSeq
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** All spans, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "tag" -> s.tag, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6,
        "codegen_classes" -> s.codegenClasses, "gc_ms" -> s.gcMs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Minimal JSON writer for the harness's flat outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
