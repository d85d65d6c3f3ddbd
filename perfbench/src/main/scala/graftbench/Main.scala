package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus

/** Runs one workload in this JVM and writes the raw measurements as JSON.
  *
  * Untraced (`--trace 0`): a cold first pass, then warm passes for
  * `--seconds` (at least `--min-measured` reported); the first `--warmup` are
  * not reported. Traced (`--trace 1`): the same warm-up, then, for
  * `--seconds` and at least once, pairs of an untraced
  * pass (listener attached, whole pass as one span) and a traced pass (one
  * span per public call). Every pass's digest must equal the first pass's.
  *
  * Arguments: --workload --data --seconds --warmup --min-measured --trace --cores
  * --launch-ms --out
  */
object Main {
  final case class PassRecord(kind: String, startMs: Long, wallNs: Long, cpuNs: Long, gcMs: Long,
      jitNs: Long, heapPeak: Long, digestOk: Boolean) {
    def toMap: Map[String, Any] = Map("kind" -> kind, "wall_s" -> wallNs / 1e9,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1000.0, "jit_cpu_s" -> jitNs / 1e9,
      "heap_peak_mb" -> Layer.mb(heapPeak), "digest_ok" -> digestOk)
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    sys.env.get("SPARK_GRAFT_MASTER").foreach { m =>
      System.err.println(s"SPARK_GRAFT_MASTER=$m is set; it would replace the local[N] master. Unset it.")
      sys.exit(3)
    }
    val launchMs = a("launch-ms").toLong
    val seconds = a("seconds").toDouble
    val warmup = a("warmup").toInt
    val minMeasured = a("min-measured").toInt
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = a("data")

    val spark = graft.GraftSession.local(cores, "graft-perfbench")
    val sessionMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val probe = new JvmProbe
    val meta = Json.read(s"$dir/meta.json")
    val wl = Workload(a("workload"), spark, dir, meta)
    val loadedMs = System.currentTimeMillis()
    val listener = if (traced) {
      val l = new LayerListener
      sc.addSparkListener(l)
      Some(l)
    } else None

    val passes = mutable.ArrayBuffer.empty[PassRecord]
    var reference: Option[String] = None
    var referenceDigest: Map[String, Any] = Map.empty
    def timed(kind: String)(body: => Map[String, Any]): PassRecord = {
      probe.collectAndReset()
      val (cpu0, gc0, jit0) = (probe.cpuNs, probe.gcMs, probe.jitCpuNs)
      val (startMs, n0) = (System.currentTimeMillis(), System.nanoTime())
      val digest = body
      val wall = System.nanoTime() - n0
      val rec = PassRecord(kind, startMs, wall, probe.cpuNs - cpu0, probe.gcMs - gc0, probe.jitCpuNs - jit0,
        probe.heapPeak, digestOk = reference.forall(_ == Json.write(wl.stable(digest))))
      if (reference.isEmpty) { reference = Some(Json.write(wl.stable(digest))); referenceDigest = digest }
      passes += rec
      rec
    }

    // untraced pass; with the listener attached its jobs carry the label "pass"
    def plain(kind: String): PassRecord = {
      sc.setLocalProperty(LayerListener.SpanKey, "pass")
      try timed(kind)(wl.pass())
      finally sc.setLocalProperty(LayerListener.SpanKey, null)
    }

    // drains the listener bus and returns what the listener saw since the last call
    def layersOf(rec: PassRecord): PassLayers = {
      BenchBus.drain(sc)
      val (totals, jobs, peak) = listener.get.take()
      PassLayers(rec.startMs, rec.startMs + rec.wallNs / 1000000L, rec.wallNs, totals, jobs, peak, rec.gcMs)
    }

    val firstMs = System.currentTimeMillis()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setup = Map(
      "jvm_boot_s" -> (jvmStartMs - launchMs) / 1000.0,
      "jvm_init_s" -> (mainMs - jvmStartMs) / 1000.0,
      "session_s" -> (sessionMs - mainMs) / 1000.0,
      "load_s" -> (loadedMs - sessionMs) / 1000.0)
    val setupS = (firstMs - launchMs) / 1000.0
    plain("first")
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "input_rows" -> wl.inputRows, "cores" -> cores,
      "master" -> sc.master, "task_threads" -> sc.defaultParallelism,
      "spark_version" -> spark.version, "setup_s" -> setupS, "setup" -> setup)

    if (!traced) {
      var measured = 0
      while (measured < minMeasured || elapsed < seconds) {
        val isWarm = passes.size <= warmup
        plain(if (isWarm) "warmup" else "measured")
        if (!isWarm) measured += 1
      }
    } else {
      (1 to warmup).foreach(_ => plain("warmup"))
      BenchBus.drain(sc)
      listener.get.take()
      val tracer = new Tracer(sc)
      val pairs = mutable.ArrayBuffer.empty[(PassLayers, PassLayers, Seq[Span], Map[String, Double])]
      while (pairs.isEmpty || elapsed < seconds) {
        val untracedLayers = layersOf(plain("untraced"))
        val spanFrom = tracer.spans.size
        var counts = Map.empty[String, Double]
        val t = timed("traced") {
          val (d, c) = wl.tracedPass(tracer)
          counts = c
          d
        }
        pairs += ((untracedLayers, layersOf(t), tracer.spans.drop(spanFrom).toSeq, counts))
      }
      out("pairs") = pairs.map { case (u, t, spans, counts) =>
        Map(
          "untraced_wall_s" -> u.wallNs / 1e9,
          "traced_wall_s" -> t.wallNs / 1e9,
          "pass" -> u.passMetrics,
          "traced_pass" -> t.passMetrics,
          "spans" -> (spans.map(s => SpanMetrics.of(s, t.totals)) ++
            wl.windows(spans, t.jobs).map { case (path, lo, hi) => SpanMetrics.ofJobs(path, lo, hi, t.jobs) }),
          "jobs" -> t.jobs.map(j => Map("label" -> j.label, "site" -> j.site.linesIterator.take(4).toSeq,
            "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
          "counts" -> counts)
      }
    }
    out("passes") = passes.map(_.toMap)
    out("digest") = referenceDigest
    spark.stop()
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.write(Json.write(out)) finally w.close()
  }
}

/** Metrics of one span from the label totals of its traced pass. */
object SpanMetrics {
  def of(s: Span, totals: Map[String, LabelTotals]): Map[String, Any] =
    metrics(s.path, s.startMs, s.endMs, s.wallNs / 1e9, Layer.under(totals, s.path))

  /** Metrics of a window [lo, hi) of a pass, from the jobs that started in it. */
  def ofJobs(path: String, lo: Long, hi: Long, jobs: Seq[JobRecord]): Map[String, Any] = {
    val t = new LabelTotals
    jobs.filter(j => j.startMs >= lo && j.startMs < hi).foreach(j => t.add(j.totals))
    metrics(path, lo, hi, (hi - lo) / 1000.0, t)
  }

  private def metrics(path: String, startMs: Long, endMs: Long, wallS: Double,
      t: LabelTotals): Map[String, Any] = {
    val wallMs = endMs - startMs
    Map(
      "path" -> path, "start_ms" -> startMs, "end_ms" -> endMs,
      "wall_s" -> wallS,
      "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
      "task_cpu_s" -> t.taskCpuNs / 1e9, "task_run_s" -> t.taskRunMs / 1000.0,
      "shuffle_mb" -> Layer.mb(t.shuffleWriteBytes), "shuffle_records" -> t.shuffleWriteRecords,
      "spill_mb" -> Layer.mb(t.spillBytes), "input_rows" -> t.inputRecords,
      "idle_s" -> (wallMs - Intervals.covered(t.taskIntervals, startMs, endMs)) / 1000.0,
      "driver_s" -> (wallMs - Intervals.covered(t.jobIntervals, startMs, endMs)) / 1000.0)
  }
}
