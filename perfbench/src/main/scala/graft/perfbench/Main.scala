package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.GraftSession

/** One benchmark run: generate and load the workload's fixtures three
  * times (the median counts towards set-up time), warm up, run closed-loop
  * cycles for at least `--seconds` and at least the workload's minimum, in
  * whole periods, check the end state, and print the result as the last
  * stdout line. With `--trace 1` the listeners, the counting commit store
  * and the harness spans are on, and the result carries the per-layer
  * metrics instead of the end-to-end ones.
  */
object Main {
  private val SetupRepeats = 3

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Bytes of files that appear under `roots` after the baseline walk. */
  private final class FileLedger(roots: Seq[Path]) {
    private val seen = mutable.Set.empty[Path]
    var created = 0L
    private def walk(count: Boolean): Unit = roots.filter(Files.exists(_)).foreach { r =>
      Files.walk(r).iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
        if (seen.add(f) && count) created += (try Files.size(f) catch { case _: java.io.IOException => 0L })
      }
    }
    walk(count = false)
    def update(): Unit = walk(count = true)
  }

  /** name -> unit, in the order BENCHMARK.json lists them. */
  private def declared(section: String): Seq[(String, String)] = {
    val node = new ObjectMapper().readTree(Paths.get("BENCHMARK.json").toFile).get(section)
    node.elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s since JVM start: $what")

  def main(args: Array[String]): Unit = {
    phase("main")
    val workload = arg(args, "workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cpus = arg(args, "cpus")
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val results = Paths.get(arg(args, "results")).toAbsolutePath

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cpus).appName("perfbench")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionNanos = System.nanoTime() - t0
    phase("session up")
    val sc = spark.sparkContext

    val ledger = new JobLedger
    val streams = new StreamCollector
    val stores = mutable.LinkedHashMap.empty[String, StoreStats]
    @volatile var runDir: Path = work
    val trace: Trace = if (traced) new SpanRecorder(sc) else Trace.Off
    if (traced) {
      sc.addSparkListener(ledger)
      spark.streams.addListener(streams)
      CountingStore.install(() => runDir, role => stores.synchronized(stores.getOrElseUpdate(role, new StoreStats)))
    }
    val rec = new Recorder
    val ctx = new Ctx(spark, seed, trace, rec, traced)

    // ---- set-up: fixtures and initial load repeated (median reported),
    // then warm-up cycles on the last instance, which is the one measured
    val initNanos = mutable.ArrayBuffer.empty[Long]
    var p: Pipeline = null
    for (i <- 0 until SetupRepeats) {
      if (p != null) { p.close(); deleteTree(runDir) }
      runDir = work.resolve(s"run$i")
      val s0 = System.nanoTime()
      p = Workloads.setup(workload, ctx, runDir)
      p.init()
      initNanos += System.nanoTime() - s0
    }
    phase("fixtures loaded")
    val w0 = System.nanoTime()
    p.prepare()
    (1 to p.warmups).foreach(p.cycle)
    val warmNanos = System.nanoTime() - w0
    val setupS = Stats.seconds(sessionNanos) + Stats.median(initNanos.map(Stats.seconds).toSeq) +
      Stats.seconds(warmNanos)

    // ---- measurement ----
    val files = new FileLedger(p.roots)
    stores.synchronized(stores.values.foreach(_.reset()))
    ledger.counting = true
    streams.counting = true
    val gc0 = gcMillis
    val wall0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    rec.measuring = true
    val m0 = System.nanoTime()
    var c = p.warmups + 1
    var error: Option[Throwable] = None
    try {
      def done = c - p.warmups - 1
      while (System.nanoTime() - m0 < seconds * 1e9 || done < p.minCycles || done % p.period != 0) {
        p.cycle(c)
        files.update()
        c += 1
      }
      rec.op(rec.check(trace("gate")(p.finalGate())))
    } catch { case e: Throwable => error = Some(e) }
    val measured = Stats.seconds(System.nanoTime() - m0)
    phase("measured and checked")
    rec.measuring = false
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    ledger.counting = false
    streams.counting = false
    val gcS = (gcMillis - gc0) / 1000.0
    error.foreach { e =>
      System.err.println(s"perfbench: $workload failed in cycle $c")
      e.printStackTrace()
      if (rec.failed == 0) rec.failed = 1
    }
    // live heap with the pipeline's own threads stopped: the lowest of a
    // few readings, each right after a forced collection
    try p.close() catch { case e: Throwable => e.printStackTrace() }
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

    // ---- end-to-end metrics ----
    val e2e = mutable.LinkedHashMap.empty[String, Any]
    val pct = mutable.LinkedHashMap.empty[String, Any]
    e2e("setup_s") = setupS
    Seq("silver_freshness_s", "gold_freshness_s", "mart_freshness_s", "last_hop_freshness_s",
      "point_read_s", "scan_read_s").foreach { name =>
      rec.samples.get(name).filter(_.nonEmpty).foreach { xs =>
        val (tail, q, n) = Stats.tail(xs.toSeq)
        e2e(s"$name.p50") = Stats.median(xs.toSeq)
        e2e(s"$name.tail") = tail
        pct(name) = mutable.LinkedHashMap("tail_percentile" -> q, "samples" -> n, "values" -> xs)
      }
    }
    if (rec.loaderNanos > 0) e2e("silver_rows_per_s") = rec.changeRows / Stats.seconds(rec.loaderNanos)
    if (rec.changeBytes > 0) e2e("write_amp") = files.created.toDouble / rec.changeBytes
    e2e("failed_share") = if (rec.attempted == 0) 1.0 else rec.failed.toDouble / rec.attempted
    e2e("heap_live_mb") = heapMb

    // ---- per-layer metrics (traced run only) ----
    val layers = mutable.LinkedHashMap.empty[String, Any]
    if (traced) {
      val spans = trace.asInstanceOf[SpanRecorder].spans.asScala.toSeq.filter(_.start >= m0)
      val children = spans.groupBy(_.parent)
      val jobs = ledger.intervals.asScala.toSeq.map { case (a, b) => (a * 1000000L - wall0, b * 1000000L - wall0) }
      spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        val kids = ss.map(s => s -> children.getOrElse(s.id, Nil))
        layers(s"$name.calls") = ss.size
        layers(s"$name.s") = Stats.seconds(ss.map(_.length).sum)
        layers(s"$name.self_s") = Stats.seconds(kids.map { case (s, k) => Intervals.selfTime(s, k) }.sum)
        layers(s"$name.driver_self_s") = Stats.seconds(kids.map { case (s, k) =>
          Intervals.uncovered(s.start, s.end, k.map(x => (x.start, x.end)) ++ jobs)
        }.sum)
      }
      val totals = ledger.totals.synchronized(ledger.totals.toMap)
      val allJobNanos = totals.values.map(_.jobNanos).sum
      (totals.keySet + CallSites.Unattributed).toSeq.sorted.foreach { m =>
        val t = totals.getOrElse(m, new JobTotals)
        layers(s"$m.jobs") = t.jobs
        layers(s"$m.job_s") = Stats.seconds(t.jobNanos)
        layers(s"$m.task_s") = Stats.seconds(t.taskNanos)
        layers(s"$m.records_in") = t.recordsIn
        layers(s"$m.bytes_in") = t.bytesIn
        layers(s"$m.bytes_out") = t.bytesOut
        layers(s"$m.files_out") = t.filesOut
      }
      layers("unattributed.share") =
        if (allJobNanos == 0) 0.0 else totals.get(CallSites.Unattributed).map(_.jobNanos).getOrElse(0L).toDouble / allJobNanos
      layers("GraftDataSource.files_scanned") = rec.filesScanned
      layers("GraftDataSource.live_files") = rec.liveFiles
      stores.synchronized(stores.toSeq).foreach { case (role, s) =>
        val k = s"CommitStore.$role"
        layers(s"$k.reads.calls") = s.readCalls.sum
        layers(s"$k.reads.s") = Stats.seconds(s.readNanos.sum)
        layers(s"$k.reads.bytes") = s.readBytes.sum
        layers(s"$k.writes.calls") = s.writeCalls.sum
        layers(s"$k.writes.s") = Stats.seconds(s.writeNanos.sum)
        layers(s"$k.lost_races") = if (s.casCalls.sum == 0) 0.0 else s.casLost.sum.toDouble / s.casCalls.sum
      }
      layers("StreamingGoldMirror.batches") = streams.batches.sum
      layers("StreamingGoldMirror.rows") = streams.rows.sum
      layers("StreamingGoldMirror.latestOffset_ms") = streams.latestOffsetMs.sum
      layers("StreamingGoldMirror.getBatch_ms") = streams.getBatchMs.sum
      layers("StreamingGoldMirror.addBatch_ms") = streams.addBatchMs.sum
      layers("StreamingGoldMirror.starts") = streams.starts.sum
      layers("StreamingGoldMirror.bootstrap_s") =
        if (streams.starts.sum == 0) 0.0 else streams.bootstrapMs.sum / 1000.0 / streams.starts.sum
      layers("jvm.gc_s") = gcS
    }

    // ---- output ----
    val identity = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cpus.toInt, "master" -> sc.master, "sf" -> Sizes.describe,
      "commit" -> arg(args, "commit"), "source_digest" -> arg(args, "source-digest"),
      "xmx" -> arg(args, "xmx"), "spark" -> spark.version,
      "java" -> System.getProperty("java.version"), "cycles" -> (c - p.warmups - 1),
      "measured_s" -> measured, "init_runs_s" -> initNanos.map(Stats.seconds),
      "warmup_s" -> Stats.seconds(warmNanos),
      "session_start_s" -> Stats.seconds(sessionNanos))
    println("perfbench run " + Stats.json(identity))
    println("perfbench end_to_end " + Stats.json(e2e ++ Map("percentiles" -> pct)))
    val e2eFile = results.resolve(s"$workload-trace0.json")
    if (!traced && error.isEmpty) Files.writeString(e2eFile, Stats.json(e2e))
    if (traced) {
      println("perfbench per_layer " + Stats.json(layers))
      println("perfbench attribution " + Stats.json(mutable.LinkedHashMap(
        "job_s" -> layers.collect { case (k, v: Double) if k.endsWith(".job_s") => v }.sum,
        "unattributed_job_s" -> layers(s"${CallSites.Unattributed}.job_s"),
        "unattributed_share" -> layers(s"${CallSites.Unattributed}.share"))))
      if (Files.exists(e2eFile)) {
        val base = new ObjectMapper().readTree(e2eFile.toFile)
        val overhead = e2e.collect { case (k, v: Double) if base.has(k) =>
          k -> mutable.LinkedHashMap("traced" -> v, "untraced" -> base.get(k).asDouble,
            "delta" -> (v - base.get(k).asDouble))
        }
        println("perfbench tracing_overhead " + Stats.json(overhead))
      }
    }
    if (rec.failures.nonEmpty) System.err.println("perfbench mismatches:\n" + rec.failures.mkString("\n"))
    val correct = error.isEmpty && rec.failed == 0
    val source: collection.Map[String, Any] = if (traced) layers else e2e
    val metrics = declared(if (traced) "per_layer" else "end_to_end").map { case (name, unit) =>
      val v = source.get(name) match {
        case Some(x: Number) => x.doubleValue
        case _ =>
          System.err.println(s"perfbench: metric $name not measured in this run; reported as 0")
          0.0
      }
      name -> mutable.LinkedHashMap("value" -> v, "unit" -> unit)
    }
    println(Stats.json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> math.max(1L, rec.attempted),
      "failed" -> rec.failed, "metrics" -> mutable.LinkedHashMap(metrics: _*))))
    System.out.flush()
    phase("result printed")
    try spark.stop() catch { case e: Throwable => e.printStackTrace() }
    phase("stopped")
    sys.exit(if (correct) 0 else 1)
  }
}
