package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Closed-loop, single-client benchmark over `graft.SparkEntry.queries`.
  *
  * One driver thread calls one gate at a time and waits for its result.
  * Per gate call it times three calls into the program — the gate call
  * itself (`queries.build`), the noop materialization (`queries.exec`)
  * and `queries.Scratch.release` (`scratch.release`) — then, outside the
  * timed region, collects the result for the output check.
  *
  * Everything measured is written as raw records (spans, trigger and job
  * records, host samples) to the `--out` JSON file; `perfbench/run.py`
  * turns them into metrics and checks the outputs.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out FILE
  */
object Main {

  /** A workload: its gates, the scale its timed passes read, and how many
    * times each pass touches every gate. Index gates are touched twice:
    * the first touch builds and writes the layouts, the second serves.
    * The warm-up pass touches the same gates once, on the same scale. */
  final case class Workload(gates: Seq[String], scale: String, touches: Int)

  val Workloads: Map[String, Workload] = Map(
    "stream_triggers" -> Workload(
      Seq("q_stream_update_log", "q_stream_file_source", "q_stream_wordcount"),
      scale = "sf0.01", touches = 1),
    "index_build_serve" -> Workload(
      Seq("q_sim_index_persisted", "q_sim_index_pq"),
      scale = "sf0.001", touches = 2))

  /** Session start is sampled this many times per run; the last session
    * is kept for the timed passes. */
  val SetupCycles = 3
  val SetupGate = "q1_agg"
  val SetupScale = "sf0.001"
  val Cores = 4

  // ---- spans ---------------------------------------------------------

  /** One interval of the run, in System.nanoTime units. `parent` is the
    * id of the span that caused it, -1 for the run itself. */
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      start: Long, var end: Long = -1L)

  final class Spans {
    private val buf = mutable.ArrayBuffer.empty[Span]
    def open(parent: Int, layer: String, name: String,
        start: Long = System.nanoTime()): Span = synchronized {
      val s = Span(buf.size, parent, layer, name, start)
      buf += s
      s
    }
    def close(s: Span): Span = { s.end = System.nanoTime(); s }
    def add(parent: Int, layer: String, name: String, start: Long,
        end: Long): Unit = open(parent, layer, name, start).end = end
    def all: Seq[Span] = synchronized(buf.toList)
  }

  /** Wall-clock milliseconds (listener event times) → nanoTime scale. */
  private val nanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNano(ms: Long): Long = ms * 1000000L + nanoOffset

  // ---- listeners -----------------------------------------------------

  /** Per-micro-batch record from `StreamingQueryListener` progress events.
    * This listener is registered in every run, traced or not: every run
    * reports trigger latency and input rows. */
  final class TriggerListener(spans: Spans) extends StreamingQueryListener {
    @volatile var gate: Int = -1
    val records = mutable.ArrayBuffer.empty[String]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = msToNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = d.getOrElse("triggerExecution", 0L)
      spans.add(gate, "streaming.trigger", p.name, start, start + dur * 1000000L)
      val ops = p.stateOperators
      records.synchronized {
        records += Json.obj(
          "gate" -> gate, "start" -> start, "durations" -> d.toMap,
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
      }
    }
  }

  /** Job spans and task counters, attached only in traced passes. */
  final class JobListener(spans: Spans) extends SparkListener {
    @volatile var gate: Int = -1
    private val jobStart = mutable.Map.empty[Int, (Long, Int)]
    val counters = mutable.Map.empty[(Int, String), Double]
    private def bump(k: String, v: Double): Unit =
      counters((gate, k)) = counters.getOrElse((gate, k), 0.0) + v
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (msToNano(e.time), gate); bump("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, g) =>
        spans.add(g, "spark.job", s"job ${e.jobId}", s, msToNano(e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(bump("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      bump("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        bump("spark.executor_run_s", m.executorRunTime / 1e3)
        bump("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        bump("spark.gc_s", m.jvmGCTime / 1e3)
        bump("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        bump("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        bump("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  // ---- host and JVM samples ------------------------------------------

  def loadavg1(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Heap still in use after a full collection, in MiB: what the run
    * retains (memoized frames, cached blocks). */
  def heapLiveMb(): Double = {
    // the second collection also frees what the first one's reference
    // processing and Spark's context cleaner released in between
    System.gc(); Thread.sleep(200); System.gc()
    heapPools.map(_.getUsage.getUsed).sum / 1048576.0
  }
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process (all threads), in seconds. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes under this process's index roots (the program keys them by
    * pid under /tmp/graft-sources). */
  def indexRoots(): Seq[java.io.File] = {
    val suffix = s"-p${ProcessHandle.current().pid()}"
    Option(new java.io.File("/tmp/graft-sources").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.endsWith(suffix))
  }
  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()
  def removeTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(removeTree))
    f.delete(); ()
  }

  // ---- output check --------------------------------------------------

  /** Canonical form of a result, as scripts/check_oracle.py builds it:
    * columns sorted by name, floats as %.6g with NaN tagged, rows sorted.
    * Returns (row count, SHA-256 of the canonical text). */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns
    val order = cols.indices.sortBy(cols(_))
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("\t"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString("\t").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
  private def fmtDouble(d: Double): String =
    if (d.isNaN) "NaN" else String.format(Locale.ROOT, "%.6g", Double.box(d + 0.0))

  // ---- the run -------------------------------------------------------

  def newSession(cores: Int, work: Path): SparkSession = {
    val s = graft.Engine.ready(graft.Engine.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Loads the classes of session start and a first query once, so the
    * build can dump them into a class-data-sharing archive (run.py,
    * -XX:ArchiveClassesAtExit). */
  def train(args: Map[String, String]): Unit = {
    val work = Paths.get(args("work")).toAbsolutePath.normalize
    val dir = Paths.get(args("data")).resolve(SetupScale).toAbsolutePath.toString
    val spark = newSession(Cores, work)
    graft.SparkEntry.queries(SetupGate)(spark, dir).write.format("noop").mode("overwrite").save()
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args("workload") == "train") return train(args)
    val wl = Workloads.getOrElse(args("workload"),
      sys.error(s"unknown workload ${args("workload")}; known: ${Workloads.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = Paths.get(args("data")).toAbsolutePath.normalize
    val work = Paths.get(args("work")).toAbsolutePath.normalize
    Files.createDirectories(work)

    val spans = new Spans
    val run = spans.open(-1, "run", args("workload"),
      msToNano(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    val load0 = loadavg1()
    val cpu0 = cpuJiffies()
    val calls = mutable.ArrayBuffer.empty[String]
    val triggers = new TriggerListener(spans)
    val jobs = new JobListener(spans)

    // Set-up: session start plus one small query, SetupCycles times. The
    // first cycle also pays JVM class loading and JIT; the median is
    // reported, so work moved into session start shows either way.
    var spark: SparkSession = null
    val setup = (1 to SetupCycles).map { i =>
      val c = spans.open(run.id, "setup", s"cycle $i")
      val s0 = spans.open(c.id, "engine.session", "session")
      spark = newSession(Cores, work)
      spans.close(s0)
      val w = spans.open(c.id, "engine.smoke", SetupGate)
      graft.SparkEntry.queries(SetupGate)(spark, data.resolve(SetupScale).toString)
        .write.format("noop").mode("overwrite").save()
      spans.close(w)
      if (i < SetupCycles) spark.stop()
      spans.close(c)
    }
    spark.streams.addListener(triggers)

    /** The same table directory under a new spelling: the program keys
      * its memos and index roots by (session, dir string), so a fresh
      * spelling gives a pass cold memos without a new session. */
    def alias(scale: String, k: Int): String =
      data.toString + "/." * k + "/" + scale

    /** One gate call: build, exec, output check (untimed), release. */
    def call(gate: String, dir: String, pass: Span, touch: Int): Unit = {
      val g = spans.open(pass.id, "gate", gate)
      triggers.gate = g.id; jobs.gate = g.id
      var err: String = null
      var rows = -1L
      var dig = ""
      var released = 0
      var cpu = 0.0
      def step[T](layer: String)(body: => T): Option[T] =
        if (err != null) None
        else {
          val s = spans.open(g.id, layer, gate)
          val c0 = cpuSeconds()
          try Some(body)
          catch { case e: Throwable =>
            err = s"$layer: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            None
          } finally {
            spans.close(s)
            if (layer != "check") cpu += cpuSeconds() - c0
          }
        }
      val df = step("queries.build")(graft.SparkEntry.queries(gate)(spark, dir))
      df.foreach(d => step("queries.exec")(d.write.format("noop").mode("overwrite").save()))
      df.foreach(d => step("check")(digest(d)).foreach { case (n, h) => rows = n; dig = h })
      val before = spark.sparkContext.getPersistentRDDs.size
      val rel = spans.open(g.id, "scratch.release", gate)
      val c0 = cpuSeconds()
      try graft.queries.Scratch.release(spark)
      catch { case e: Throwable => if (err == null) err = s"scratch.release: $e" }
      spans.close(rel)
      cpu += cpuSeconds() - c0
      released = before - spark.sparkContext.getPersistentRDDs.size
      BenchBus.drain(spark.sparkContext)
      spans.close(g)
      if (err != null) System.err.println(s"[perfbench] $gate failed: $err")
      calls += Json.obj("gate" -> gate, "span" -> g.id, "pass" -> pass.id,
        "scale" -> Paths.get(dir).getFileName.toString,
        "touch" -> touch, "rows" -> rows, "digest" -> dig,
        "error" -> Option(err).getOrElse(""), "rdds_released" -> released,
        "cpu_s" -> cpu,
        "index_bytes" -> (if (touch == 1 && wl.touches > 1)
          indexRoots().map(treeBytes).sum else 0L))
    }

    val rng = new scala.util.Random(seed)
    var aliases = 0
    /** One pass: every gate in a seed-permuted order, `touches` times, on
      * a fresh alias of `scale` so memoized builds start cold. */
    def pass(kind: String, scale: String, touches: Int = wl.touches): Span = {
      aliases += 1
      val dir = alias(scale, aliases)
      val p = spans.open(run.id, "pass", kind)
      val order = rng.shuffle(wl.gates)
      for (t <- 1 to touches; gate <- order) call(gate, dir, p, t)
      spans.close(p)
    }

    /** Passes until the next one would overrun `seconds` (at least one). */
    def timed(kind: String): Unit = {
      val t0 = System.nanoTime()
      var last = 0L
      do {
        val p = pass(kind, wl.scale)
        last = p.end - p.start
      } while (System.nanoTime() - t0 + last <= seconds * 1e9)
    }

    val warm = spans.open(run.id, "warmup", "warmup")
    pass("warmup", wl.scale, touches = 1)
    spans.close(warm)

    System.gc()
    resetHeapPeak()
    val gc0 = gcSeconds()
    timed("timed")
    val heapPeak = heapPeakMb()
    val gcTimed = gcSeconds() - gc0
    val heapLive = heapLiveMb()

    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      timed("traced")
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      // Untraced passes on both sides of the traced ones, so the warm-up
      // drift cancels out of the tracing overhead (traced minus untraced).
      timed("timed")
      // Single-threaded baseline: the same pass on a local[1] session
      // shows how much of each workload's time parallelism cannot buy.
      spark.streams.removeListener(triggers)
      spark.stop()
      spark = newSession(1, work)
      spark.streams.addListener(triggers)
      pass("local1", wl.scale)
    }
    BenchBus.drain(spark.sparkContext)
    spark.stop()
    spans.close(run)
    val cpu1 = cpuJiffies()
    val load1 = loadavg1()
    indexRoots().foreach(removeTree)

    val host = Json.obj(
      "loadavg_start" -> load0, "loadavg_end" -> load1,
      "steal_frac" -> (if (cpu1._2 > cpu0._2)
        (cpu1._1 - cpu0._1).toDouble / (cpu1._2 - cpu0._2) else 0.0),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "gc_s_timed" -> gcTimed, "gc_s_total" -> gcSeconds())
    val counters = jobs.synchronized(jobs.counters.toSeq.map { case ((g, k), v) =>
      Json.obj("gate" -> g, "name" -> k, "value" -> v) })
    val out = Json.obj(
      "workload" -> args("workload"), "seed" -> seed, "traced" -> traced,
      "cores" -> Cores, "scale" -> wl.scale, "touches" -> wl.touches,
      "setup_s" -> setup.map(c => (c.end - c.start) / 1e9),
      "heap_peak_mb" -> heapPeak, "heap_live_mb" -> heapLive,
      "host" -> Json.raw(host),
      "spans" -> Json.raw(spans.all.map(s => Json.arr(s.id, s.parent, s.layer,
        s.name, s.start, s.end)).mkString("[", ",", "]")),
      "calls" -> Json.raw(calls.mkString("[", ",", "]")),
      "triggers" -> Json.raw(triggers.records.synchronized(triggers.records.mkString("[", ",", "]"))),
      "counters" -> Json.raw(counters.mkString("[", ",", "]")))
    Files.writeString(Paths.get(args("out")), out)
  }
}
