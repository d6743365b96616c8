package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: options, Spark session, tracer, listener
  * counters, metrics and check results. */
final class Run(val workload: String, val seed: Long, val seconds: Int, val trace: Boolean,
    val work: Path, val cores: Int) {
  val tracer = new Tracer(trace, s"$workload-$seed")
  val counters = new Counters
  val metrics = new Metrics
  /** per-layer figures; the traced run reports them */
  val detail = new Metrics
  val checks: ArrayBuffer[Check] = ArrayBuffer.empty
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private var session: SparkSession = _
  var synthSeconds = 0.0

  def spark: SparkSession = session
  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%6.1fs] $msg")

  def startSpark(n: Int): SparkSession = {
    if (session != null) session.stop()
    session = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * n).toString)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session.sparkContext.addSparkListener(counters)
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** Waits until the listener has seen every finished task and stage. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def timeSynth[T](f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    synthSeconds += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Set-up: session start, then `warm` (index builds and warm-up
    * serves); `setup_s` is their sum. */
  def setup(cores: Int)(warm: => Unit): Unit = {
    val (_, start) = tracer.span("setup.session")(startSpark(cores))
    val (_, w) = tracer.span("setup.warm")(warm)
    metrics.put("setup_s", start + w, "s")
    detail.put("setup.session_s", start, "s")
    detail.put("setup.warm_s", w, "s")
    log(f"setup: session $start%.2fs, warm $w%.2fs")
  }

  /** Runs `f` until the run's seconds are spent (at least `minIters`). */
  def timedLoop[T](minIters: Int)(f: Int => T): Seq[T] = {
    val out = ArrayBuffer.empty[T]
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (out.size < minIters || System.nanoTime() < deadline) out += f(out.size)
    out.toSeq
  }

  /** One operation: counted as attempted, and as failed if it throws. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    synchronized { attempted += 1 }
    try Some(f) catch {
      case NonFatal(e) =>
        synchronized { failed += 1 }
        log(s"FAILED $what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
    }
  }

  def check(c: Check): Unit = synchronized {
    checks += c
    attempted += 1
    if (!c.ok) { failed += 1; log(s"CHECK FAILED ${c.name}: ${c.detail}") }
  }

  /** Engine-wide counters from a listener aggregate. */
  def engine(a: Agg): Unit = {
    detail.put("spark.jobs", a.jobs, "count")
    detail.put("spark.stages", a.stages, "count")
    detail.put("spark.tasks", a.tasks, "count")
    detail.put("spark.task_s", a.taskMs / 1000.0, "s")
    detail.put("spark.scheduler_delay_s", a.schedDelayMs / 1000.0, "s")
    detail.put("spark.gc_s", a.gcMs / 1000.0, "s")
  }
}

object Main {

  /** The metric catalogue of BENCHMARK.json (in the working directory,
    * the repository root): (name, unit) of each end-to-end metric, which
    * untraced runs print, and of each per-layer metric, which traced runs
    * print. */
  private lazy val spec = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("BENCHMARK.json"))
  private def catalogue(key: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }
  lazy val EndToEnd: Seq[(String, String)] = catalogue("end_to_end")
  lazy val PerLayer: Seq[(String, String)] = catalogue("per_layer")

  val Workloads = Seq("ingest_many_files", "ingest_one_capture", "index_serve_maintain")

  private def usage(): Nothing = {
    System.err.println("usage: perfbench --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage())
    if (!Workloads.contains(workload)) usage()
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = opts.get("seconds").flatMap(_.toIntOption).getOrElse(usage())
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val work = Files.createDirectories(root.resolve(s"$workload-$seed-${ProcessHandle.current().pid()}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val r = new Run(workload, seed, seconds, trace, work, cores)
    val code =
      try {
        workload match {
          case "ingest_many_files" => Ingest.run(r, pcapng = false)
          case "ingest_one_capture" => Ingest.run(r, pcapng = true)
          case "index_serve_maintain" => IndexWorkload.run(r)
        }
        r.metrics.put("peak_heap_mb", Heap.peakMb, "MB")
        r.log("done")
        r.detail.put("failed_frac", r.failed.toDouble / math.max(1L, r.attempted), "fraction")
        r.detail.put("synth_s", r.synthSeconds, "s")
        report(r)
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally {
        r.stop()
        deleteTree(work)
      }
    sys.exit(code)
  }

  def report(r: Run): Unit = {
    if (r.trace) {
      val traceDir = Files.createDirectories(Paths.get(".bench_build", "traces").toAbsolutePath)
      val base = traceDir.resolve(s"${r.workload}-${r.seed}")
      r.tracer.writeJsonl(Paths.get(base.toString + ".spans.jsonl"))
      val all = r.detail.all
      Files.write(Paths.get(base.toString + ".layers.json"), r.detail.json(all).getBytes("UTF-8"))
      println("perfbench.layers " + r.detail.json(all))
    }
    r.log(s"checks: ${r.checks.count(_.ok)}/${r.checks.size} passed")
    val metrics = if (r.trace) r.detail.json(PerLayer) else r.metrics.json(EndToEnd)
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}""")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}
