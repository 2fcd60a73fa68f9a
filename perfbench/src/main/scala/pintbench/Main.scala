package pintbench

import scala.collection.mutable

import graft.plans.EncodePipeline

/** One benchmark run:
  *
  *   Main --workload ingest|scan|churn --seed N --seconds S --trace 0|1
  *        --work-dir DIR [--spans FILE]
  *
  * Sets up `SetupRepeats` times (session start, inputs, tables) and reports
  * the median, then runs the workload's closed loop for S seconds (on
  * churn, a fixed number of cycles) and prints one JSON result line:
  * end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. Exits 1 when any answer was wrong, 2 on bad arguments.
  */
object Main {
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val args = try Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work-dir"))
    catch { case e: Exception => usage(s"bad arguments: $e") }
    val h = new Harness(args)
    val w = Workload(args.workload, h).getOrElse(usage(s"unknown workload ${args.workload}"))
    val code = try run(h, w, kv.get("spans")) finally h.stop()
    System.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(msg)
    System.err.println("usage: Main --workload ingest|scan|churn --seed N --seconds S " +
      "--trace 0|1 --work-dir DIR [--spans FILE]")
    System.exit(2)
    throw new IllegalStateException
  }

  private def run(h: Harness, w: Workload, spansOut: Option[String]): Int = {
    val args = h.args
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      h.startSession()
      h.tracer = new Tracer(h.spark, args.trace)
      w.setup()
      h.elapsedSince(t0)
    }
    val tPrepare = System.nanoTime()
    w.prepare()

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (args.trace) {
      // the encode stage alone, on the workload's own input
      val in = w.encodeProbeInput()
      val t0 = System.nanoTime()
      EncodePipeline.encode(in, "url", h.parts, Workload.BlockSize,
        Some(EncodePipeline.saltedHostPart("url", h.parts, 4)))
        .write.format("noop").mode("overwrite").save()
      layer("plans.encode.s") = h.elapsedSince(t0)
      w.encodeProbeDone()
    }

    val tWarm = System.nanoTime()
    h.recording = false
    (0 until w.warmups).foreach(k => w.iteration(-1 - k, traced = false))
    h.recording = true

    // measured phase: traced runs alternate untraced and traced iterations,
    // so the tracing overhead is measured in the same run. Their first
    // iteration counts for neither side
    val unit = Map(true -> mutable.ArrayBuffer.empty[Double], false -> mutable.ArrayBuffer.empty[Double])
    // the Spark totals start from the loop's first event: set-up and
    // warm-up events still queued are delivered before they are reset
    h.tracer.drain()
    h.tracer.listener.foreach(_.total = new TaskTotals)
    val jobs0 = h.tracer.listener.map(_.jobCount.get).getOrElse(0L)
    val steal0 = Host.stealTicks()
    val t0 = System.nanoTime()
    var i = 0L
    while (w.fixedIterations.fold(!w.enough(i) || h.elapsedSince(t0) < args.seconds)(i < _)) {
      val traced = args.trace && i % 2 == 1
      val ms = w.iteration(i, traced)
      if (!args.trace || i > 0) ms.foreach(unit(traced) += _)
      i += 1
    }
    val loopS = h.elapsedSince(t0)
    val steal = Host.stealTicks() - steal0

    if (args.trace) {
      h.tracer.drain()
      val loopTasks = h.tracer.listener.get.total
      val loopJobs = h.tracer.listener.get.jobCount.get - jobs0
      h.tracer.listener.get.total = new TaskTotals
      w.layerProbe()
      val (core, coreFailures) = CoreProbe.run(h.rowOffset)
      h.attempted += 1
      if (coreFailures.nonEmpty) { h.failed += 1; h.failures ++= coreFailures }
      h.tracer.drain()
      layer ++= core
      layer ++= Layers.metrics(h, loopTasks, loopJobs, i)
      layer("host.steal_ticks") = steal.toDouble
      layer("trace.overhead_frac") =
        Stats.median(unit(true).toSeq) / Stats.median(unit(false).toSeq) - 1.0
      spansOut.foreach { p =>
        val f = new java.io.File(p)
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, h.tracer.toJson)
      }
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("op_p50_ms", Stats.median(unit(false).toSeq), "ms"),
        ("read_mb_s", Stats.median(w.readMbS.toSeq), "MB/s"),
        ("compression_ratio", w.compressionRatio, "x"),
        ("peak_rss_mb", Host.peakRssMb(), "MB"))
      else Layers.Units.map { case (name, u) => (name, layer.getOrElse(name, 0.0), u) }

    h.failures.foreach(f => System.err.println(s"FAILED $f"))
    // where the run's wall time went, for sizing the run
    System.err.println(f"phases: prepare_s=${(tWarm - tPrepare) / 1e9}%.1f " +
      f"warmup_s=${(t0 - tWarm) / 1e9}%.1f loop_s=$loopS%.1f " +
      f"uptime_s=${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f")
    System.err.println(s"iterations=$i steal=$steal setups=${setups.map(s => f"$s%.2f").mkString(",")} " +
      h.samples.map { case (k, v) => s"$k=${v.map(x => f"$x%.0f").mkString(",")}" }.mkString(" "))
    val correct = h.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(h.attempted),
      "failed" -> Json.num(h.failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    if (correct) 0 else 1
  }
}

/** Per-layer metrics of the traced run, named by module. Layers without
  * work on a workload report 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "core.fsst.encode_mb_s" -> "MB/s", "core.fsst.decode_mb_s" -> "MB/s",
    "core.prefix.encode_mb_s" -> "MB/s", "core.prefix.decode_mb_s" -> "MB/s",
    "core.dict.encode_mb_s" -> "MB/s", "core.dict.decode_mb_s" -> "MB/s",
    "core.delta.encode_mb_s" -> "MB/s", "core.delta.decode_mb_s" -> "MB/s",
    "core.bitpack.pack_mb_s" -> "MB/s", "core.bitpack.unpack_mb_s" -> "MB/s",
    "core.autoselect.blocks_per_s" -> "1/s", "core.block_ratio" -> "x",
    "plans.run.jobs" -> "count", "plans.run.driver_self_s" -> "s", "plans.encode.s" -> "s",
    "plans.commit.p50_ms" -> "ms",
    "plans.commit.jobs.first" -> "count", "plans.commit.jobs.last" -> "count",
    "plans.commit.driver_self_ms.first" -> "ms", "plans.commit.driver_self_ms.last" -> "ms",
    "plans.commit.fs_bytes_read.first" -> "B", "plans.commit.fs_bytes_read.last" -> "B",
    "plans.commit.fs_list_calls.first" -> "count", "plans.commit.fs_list_calls.last" -> "count",
    "plans.dml.p50_ms" -> "ms", "plans.dml.jobs" -> "count",
    "plans.dml.driver_self_ms" -> "ms", "plans.dml.fs_bytes_read" -> "B",
    "plans.time_travel.p50_ms" -> "ms", "plans.time_travel.fs_bytes_read" -> "B",
    "sources.point.p50_ms" -> "ms", "sources.range.p50_ms" -> "ms",
    "sources.scan.plan_ms.point" -> "ms", "sources.scan.plan_ms.range" -> "ms",
    "sources.scan.plan_ms.full" -> "ms",
    "sources.scan.tasks.point" -> "count", "sources.scan.tasks.range" -> "count",
    "sources.scan.tasks.full" -> "count",
    "sources.scan.fs_bytes_read.point" -> "B", "sources.scan.fs_bytes_read.range" -> "B",
    "sources.scan.fs_bytes_read.full" -> "B",
    "sources.scan.rows_scanned_per_row_returned.point" -> "x",
    "sources.scan.rows_scanned_per_row_returned.range" -> "x",
    "sources.point.miss_fs_bytes_read" -> "B",
    "spark.executor_run_s_per_op" -> "s", "spark.executor_cpu_s_per_op" -> "s",
    "spark.gc_s_per_op" -> "s", "spark.shuffle_write_bytes_per_op" -> "B",
    "spark.shuffle_read_bytes_per_op" -> "B", "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "host.steal_ticks" -> "count", "trace.overhead_frac" -> "x")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** span metrics, plus the Spark totals of the measured loop per unit op
    * (`ops` loop iterations), so they do not grow with the number of
    * iterations a run completes */
  def metrics(h: Harness, loop: TaskTotals, loopJobs: Long, ops: Long): Map[String, Double] = {
    val t = h.tracer
    val by = t.spans.groupBy(_.name).map { case (k, v) => k -> v.sortBy(_.startMs).toSeq }
      .withDefaultValue(Seq.empty)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def jobs(ss: Seq[Span]) = mean(ss.map(t.jobsOf(_).size.toDouble))
    def selfMs(ss: Seq[Span]) = mean(ss.map(t.selfMs))
    def bytes(ss: Seq[Span]) = mean(ss.map(_.io.bytesRead.toDouble))

    m("plans.run.jobs") = jobs(by("run"))
    m("plans.run.driver_self_s") = selfMs(by("run")) / 1000.0
    val commits = by("commit")
    val tenth = math.max(1, (commits.size + 9) / 10)
    for ((suffix, ss) <- Seq("first" -> commits.take(tenth), "last" -> commits.takeRight(tenth))) {
      m(s"plans.commit.jobs.$suffix") = jobs(ss)
      m(s"plans.commit.driver_self_ms.$suffix") = selfMs(ss)
      m(s"plans.commit.fs_bytes_read.$suffix") = bytes(ss)
      m(s"plans.commit.fs_list_calls.$suffix") = mean(ss.map(_.io.listings.toDouble))
    }
    m("plans.dml.jobs") = jobs(by("dml"))
    m("plans.dml.driver_self_ms") = selfMs(by("dml"))
    m("plans.dml.fs_bytes_read") = bytes(by("dml"))
    m("plans.time_travel.fs_bytes_read") = bytes(by("time_travel"))
    for (k <- Seq("commit", "dml", "time_travel")) m(s"plans.$k.p50_ms") = h.p50(k)
    m("sources.point.p50_ms") = h.p50("point")
    m("sources.range.p50_ms") = h.p50("range")
    for (k <- Seq("point", "range", "full")) {
      val ss = by(k)
      m(s"sources.scan.plan_ms.$k") = selfMs(ss)
      m(s"sources.scan.tasks.$k") = mean(ss.map(t.tasksOf(_).tasks.toDouble))
      m(s"sources.scan.fs_bytes_read.$k") = bytes(ss)
    }
    for (k <- Seq("point", "range")) {
      val ss = by(k).filter(_.attrs.getOrElse("rows_returned", 0.0) > 0)
      val returned = ss.map(_.attrs("rows_returned")).sum
      m(s"sources.scan.rows_scanned_per_row_returned.$k") =
        if (returned == 0) 0.0 else ss.map(_.attrs.getOrElse("rows_scanned", 0.0)).sum / returned
    }
    m("sources.point.miss_fs_bytes_read") = bytes(by("point").filter(_.attrs.get("miss").contains(1.0)))

    m("spark.executor_run_s_per_op") = loop.runMs / 1000.0 / ops
    m("spark.executor_cpu_s_per_op") = loop.cpuNs / 1e9 / ops
    m("spark.gc_s_per_op") = loop.gcMs / 1000.0 / ops
    m("spark.shuffle_write_bytes_per_op") = loop.shuffleWriteBytes.toDouble / ops
    m("spark.shuffle_read_bytes_per_op") = loop.shuffleReadBytes.toDouble / ops
    m("spark.jobs_per_op") = loopJobs.toDouble / ops
    m("spark.tasks_per_op") = loop.tasks.toDouble / ops
    m.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }.toMap
  }
}
