package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Engine counters for one job group (or for the whole run). */
final case class Agg(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, schedDelayMs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0,
    /** post-shuffle ("stateful") stages only */
    statefulTaskMs: Long = 0, statefulRecordsIn: Long = 0, statefulRecordsOut: Long = 0,
    /** largest share of one stage's task time held by a single task,
      * over stages with more than one task */
    maxTaskShare: Double = 0, statefulMaxTaskShare: Double = 0) {

  def +(o: Agg): Agg = Agg(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, schedDelayMs + o.schedDelayMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes,
    statefulTaskMs + o.statefulTaskMs, statefulRecordsIn + o.statefulRecordsIn,
    statefulRecordsOut + o.statefulRecordsOut,
    math.max(maxTaskShare, o.maxTaskShare), math.max(statefulMaxTaskShare, o.statefulMaxTaskShare))
}

/** SparkListener that folds task and stage metrics into per-job-group
  * aggregates. Each layer call runs under its own job group (set with
  * `SparkContext.setJobGroup` on the calling thread), so concurrent
  * serve and maintenance calls are attributed separately. */
final class Counters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskDur = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val groups = new ConcurrentHashMap[String, Agg]()

  private def bump(g: String, f: Agg => Agg): Unit = groups.compute(g, (_, a) => f(if (a == null) Agg() else a))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    bump(g, a => a.copy(jobs = a.jobs + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null || info == null) return
    val g = stageGroup.getOrDefault(e.stageId, "-")
    val dur = info.duration
    taskDur.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty).synchronized {
      taskDur.get(e.stageId) += dur
    }
    val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
    bump(g, a => a.copy(tasks = a.tasks + 1, taskMs = a.taskMs + m.executorRunTime,
      schedDelayMs = a.schedDelayMs + delay, gcMs = a.gcMs + m.jvmGCTime))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrDefault(si.stageId, "-")
    val durs = Option(taskDur.remove(si.stageId)).map(_.toSeq).getOrElse(Nil)
    val share = if (durs.size > 1 && durs.sum > 0) durs.max.toDouble / durs.sum else 0.0
    val m = si.taskMetrics
    if (m == null) { bump(g, a => a.copy(stages = a.stages + 1)); return }
    val shuffleIn = m.shuffleReadMetrics.recordsRead
    val input = m.inputMetrics.bytesRead
    val out = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
    val stateful = shuffleIn > 0
    bump(g, a => a.copy(stages = a.stages + 1,
      inputBytes = a.inputBytes + input,
      shuffleWriteBytes = a.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = a.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = a.outputBytes + m.outputMetrics.bytesWritten,
      statefulTaskMs = a.statefulTaskMs + (if (stateful) m.executorRunTime else 0L),
      statefulRecordsIn = a.statefulRecordsIn + (if (stateful) shuffleIn else 0L),
      statefulRecordsOut = a.statefulRecordsOut + (if (stateful) out else 0L),
      maxTaskShare = math.max(a.maxTaskShare, share),
      statefulMaxTaskShare = math.max(a.statefulMaxTaskShare, if (stateful) share else 0.0)))
  }

  def group(g: String): Agg = Option(groups.get(g)).getOrElse(Agg())
  def groupsWithPrefix(p: String): Agg =
    groups.asScala.collect { case (k, v) if k.startsWith(p) => v }.foldLeft(Agg())(_ + _)
  def total: Agg = groups.asScala.values.foldLeft(Agg())(_ + _)
}

/** One traced interval: a layer call made by the benchmark. */
final case class Span(name: String, start: Long, end: Long, id: Long, parent: Long, run: String)

/** In-memory span recorder; spans nest per thread. Disabled tracers
  * still time the call (the untraced run needs the durations) but keep
  * nothing. */
final class Tracer(val enabled: Boolean, val run: String) {
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def span[T](name: String)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    val r = try f finally stack.set(stack.get.tail)
    val t1 = System.nanoTime()
    if (enabled) spans.synchronized { spans += Span(name, t0, t1, id, parent, run) }
    (r, (t1 - t0) / 1e9)
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"id":${s.id},"parent":${s.parent},"run":${Json.str(s.run)}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Live heap at fixed checkpoints: the least heap in use over four full
  * collections 150 ms apart, maxed over the run's checkpoints. Spark's
  * cleaner releases unpersisted blocks, broadcast pieces and shuffle
  * state only after a collection has found them unreachable, and under
  * load it can lag by more than one collection; readings taken after one
  * or two collections differed by up to 17 % between runs. Checkpoints
  * sit between timed calls, never inside one. */
object Heap {
  private var peak = 0L
  def checkpoint(): Unit = synchronized {
    val live = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    if (live > peak) peak = live
  }
  def peakMb: Double = synchronized(peak / 1048576.0)
}

/** Runs independent calls on a few threads and waits for all of them. */
object Par {
  def all[T](threads: Int)(calls: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = calls.map(c => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = c() }))
      fs.map(_.get())
    } finally pool.shutdown()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** A measured value with all its significant digits; integral counts
    * print without a fraction. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Metric sink for one run: name → (value, unit), in insertion order. */
final class Metrics {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
  /** `names` with their units; a metric this workload does not
    * produce reads 0. */
  def json(names: Seq[(String, String)]): String = names.map { case (n, unit) =>
    val v = values.get(n).map(_._1).getOrElse(0.0)
    s"${Json.str(n)}:{" + "\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(unit) + "}"
  }.mkString("{", ",", "}")
  def all: Seq[(String, String)] = values.toSeq.map { case (n, (_, u)) => (n, u) }
}
