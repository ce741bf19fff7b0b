package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The library's public calls the benchmark times, one layer each. */
object Layers {
  val SourcesRead = "sources.read"
  val EtlPipeline = "etl.pipeline"
  val EtlStar = "etl.star"
  val SourcesWrite = "sources.write"
  val ReleaseInit = "release.init"
  val ReleaseAppend = "release.append"
  val ReleaseOpen = "release.open"
  val all: Seq[String] =
    Seq(SourcesRead, EtlPipeline, EtlStar, SourcesWrite, ReleaseInit, ReleaseAppend, ReleaseOpen)
}

/** Spans around each layer call plus the Spark work the call issued.
  *
  * A traced op tags every job it starts with two local properties (layer
  * and op id); threads the library starts inside a call inherit them, and
  * Spark carries them into broadcast and subquery jobs. A listener folds
  * the tagged jobs' task metrics per (op, layer). An untraced op sets no
  * property, so its jobs are skipped, and `layer` is then a plain call.
  */
final class Tracer(sc: SparkContext) {

  final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

  private final class Acc {
    var calls = 0
    var wallNs = 0L
    var gcMs = 0L
    var jobs = 0
    var tasks = 0
    var runTimeMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  }

  private val LayerProp = "perfbench.layer"
  private val OpProp = "perfbench.op"
  private val spans = ArrayBuffer.empty[Span]
  private val spanIds = new java.util.concurrent.atomic.AtomicInteger()
  private val accs = new ConcurrentHashMap[(Int, String), Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, (Int, String)]()
  private var current: Option[(Int, Int)] = None // (op id, op span id)

  private def acc(key: (Int, String)): Acc = accs.computeIfAbsent(key, _ => new Acc)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(OpProp))).foreach { op =>
        val layer = props.flatMap(p => Option(p.getProperty(LayerProp))).getOrElse("unattributed")
        val key = (op.toInt, layer)
        acc(key).synchronized(acc(key).jobs += 1)
        e.stageIds.foreach(s => stageOwner.put(s, key))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { key =>
        val a = acc(key)
        a.synchronized {
          a.tasks += 1
          a.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            a.runTimeMs += m.executorRunTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.diskBytesSpilled
          }
        }
      }
  })

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run one op; when `traced`, its layer calls are recorded. */
  def op[T](opId: Int, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val spanId = spanIds.getAndIncrement()
      val t0 = System.nanoTime()
      current = Some(opId -> spanId)
      sc.setLocalProperty(OpProp, opId.toString)
      try body
      finally {
        sc.setLocalProperty(OpProp, null)
        current = None
        spans.synchronized(spans += Span(spanId, "op", -1, opId, t0, System.nanoTime()))
      }
    }

  /** One call into a library layer. */
  def layer[T](name: String)(body: => T): T = current match {
    case None => body
    case Some((opId, parent)) =>
      sc.setLocalProperty(LayerProp, name)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(LayerProp, null)
        val a = acc(opId -> name)
        a.synchronized { a.calls += 1; a.wallNs += t1 - t0; a.gcMs += gcMillis() - gc0 }
        spans.synchronized(spans += Span(spanIds.getAndIncrement(), name, parent, opId, t0, t1))
      }
  }

  /** Per-layer metrics over the traced ops `ops`: medians of per-op
    * values, and `cpu_busy` as a ratio of totals. A layer that never ran
    * reports zeros.
    */
  def layerMetrics(ops: Seq[Int], cores: Int): Seq[(String, Double)] = {
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    def skew(a: Acc): Double =
      a.taskMs.values.map { d =>
        val s = d.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.maxOption.getOrElse(1.0)
    val layers = Layers.all.flatMap { l =>
      val per = ops.map(o => Option(accs.get(o -> l)).getOrElse(new Acc))
      val ran = per.exists(_.calls > 0)
      val wall = per.map(_.wallNs).sum / 1e9
      def m(f: Acc => Double) = median(per.map(f))
      Seq(
        s"$l.calls" -> m(_.calls.toDouble),
        s"$l.s" -> m(_.wallNs / 1e9),
        s"$l.jobs" -> m(_.jobs.toDouble),
        s"$l.tasks" -> m(_.tasks.toDouble),
        s"$l.cpu_busy" -> (if (wall > 0) per.map(_.runTimeMs).sum / 1e3 / (wall * cores) else 0.0),
        s"$l.shuffle_bytes" -> m(_.shuffleBytes.toDouble),
        s"$l.spill_bytes" -> m(_.spillBytes.toDouble),
        s"$l.task_skew" -> (if (ran) m(skew) else 0.0),
        s"$l.gc_s" -> m(_.gcMs / 1e3))
    }
    val unattributed = median(ops.map(o => Option(accs.get(o -> "unattributed")).map(_.jobs.toDouble).getOrElse(0.0)))
    layers :+ ("unattributed.jobs" -> unattributed)
  }

  /** Spans as JSON lines: name, start and end (ns since the first span),
    * parent span id (-1 for an op), op id.
    */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.toList).sortBy(_.id)
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Machine state around a run, so a contaminated run can be named. */
object Machine {

  def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Seconds for a fixed single-thread dependent xorshift loop (100M
    * steps): on a quiet core it reads the same every run, and foreign
    * load on this core inflates it.
    */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0L) print("") // keep the loop observable
    (System.nanoTime() - t0) / 1e9
  }
}
