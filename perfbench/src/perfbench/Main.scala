package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.{Bus, Codegen}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload anon_dbscan --seed 1 --seconds 5 --trace 0 --work DIR [--scale 1.0]
  * }}}
  *
  * Set-up: session start, input generation and caching three times (the
  * median counts), one warm-up iteration checked against the oracle, then
  * the workload's further warm-up iterations. Then timed iterations: a
  * per-workload count untraced (`--trace 0`) or four, untraced, traced,
  * traced, untraced (`--trace 1`), and more while `--seconds` is not spent;
  * a traced run ends with the workload's isolation probes. The last stdout
  * line is the result object; a fuller record, with the contention
  * readings, is written to DIR.
  */
object Main {

  private val osBean = ManagementFactory.getOperatingSystemMXBean

  private def processCpuNs: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The library's session at `local[cores]`. Spark's generated-code cache
    * is raised from its default of 100 entries, which the sweeps' plans
    * overflow: each iteration then recompiles them and the JIT compiler
    * uses more CPU than the executors, so timings swing with the JVM's
    * compile queue (three DBSCAN iterations on 1,000 points took 12.4,
    * 13.5 and 27.7 s at 100 entries, 9.7, 7.5 and 6.6 s at 2000). Set
    * before the library's own configuration, which may override it; the
    * per-layer `codegen.compiles` shows the churn that remains. */
  private def session(cores: Int, work: String): (SparkSession, StoragePeak) = {
    val spark = graft.core.Tables.configure(SparkSession.builder()
        .config("spark.sql.codegen.cache.maxEntries", "2000"))
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val storage = new StoragePeak
    spark.sparkContext.addSparkListener(storage)
    (spark, storage)
  }

  /** Lets the context cleaner drop what the last iteration left for the
    * garbage collector, so every iteration starts from the same storage. */
  private def quiesce(spark: SparkSession): Unit = {
    System.gc()
    Thread.sleep(150)
    Bus.drain(spark.sparkContext)
  }

  /** One iteration after the first warm-up: wall and process CPU time with the collector's
    * and the JIT compiler's shares of it, the classes Spark generated, the
    * storage it added at its peak over what was stored when it started,
    * and the outcome. A flagged iteration matched the warm-up's outputs
    * through a different arbitrary choice (see [[Digest]]). */
  final case class Iteration(wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
                             compiles: Long, storageMb: Double, warm: Boolean,
                             traced: Boolean, ok: Boolean, flagged: Boolean, note: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val scale = opts.getOrElse("scale", "1").toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val load1Start = osBean.getSystemLoadAverage
    val wl = Workload(name, seed, scale)
    var iterNo = 0
    def nextDir(): String = { iterNo += 1; s"$work/out/$name-$iterNo" }

    // ---- set-up: session start, input generation and caching (repeated;
    // the median counts), then one warm-up iteration, checked by the oracle,
    // and the further warm-up iterations below
    val t0 = System.nanoTime()
    val (spark, storage) = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val prepareTimes = (0 until 3).map { i =>
      if (i > 0) wl.unprepare()
      val t = System.nanoTime()
      wl.prepare(spark)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    val warm = wl.run(NoTrace, nextDir())
    val warmS = (System.nanoTime() - tw) / 1e9
    val baseline = warm.digest()
    val checks = warm.checks()
    warm.release()

    // ---- iterations compared with the warm-up: further warm-ups, then timed
    val iterations = mutable.ArrayBuffer.empty[Iteration]
    val extras = mutable.ArrayBuffer.empty[Metric]
    val tracer = new Tracer(spark)
    def iterate(isWarm: Boolean, isTraced: Boolean): Unit = {
      quiesce(spark)
      val storedAtStart = storage.reset()
      if (isTraced) tracer.install()
      // time, CPU, GC, JIT, generated classes and storage peak; the peak
      // needs the bus drained
      def snapshot = {
        Bus.drain(spark.sparkContext)
        (System.nanoTime(), processCpuNs, gcMs, jitMs, Codegen.compiles, storage.peakBytes)
      }
      val (t0, c0, g0, j0, k0, _) = snapshot
      var end: Option[(Long, Long, Long, Long, Long, Long)] = None
      def measured(ok: Boolean, note: String, flagged: Boolean = false) = {
        val (t1, c1, g1, j1, k1, p1) = end.getOrElse(snapshot)
        Iteration((t1 - t0) / 1e9, (c1 - c0) / 1e9, (g1 - g0) / 1e3, (j1 - j0) / 1e3,
          k1 - k0, (p1 - storedAtStart) / 1e6, isWarm, isTraced, ok, flagged, note)
      }
      iterations += (try {
        val out = try wl.run(if (isTraced) tracer else NoTrace, nextDir())
        finally {
          end = Some(snapshot)
          if (isTraced) tracer.uninstall()
        }
        val d = out.digest()
        if (isTraced) extras ++= out.extras()
        out.release()
        val flags = d.flagChanges(baseline)
        if (!d.matches(baseline)) measured(ok = false, s"digest $d differs from warm-up $baseline")
        else if (flags.nonEmpty)
          measured(ok = true, s"${out.info}; chose ${flags.mkString(", ")}", flagged = true)
        else measured(ok = true, out.info)
      } catch {
        case e: Exception => measured(ok = false, e.toString)
      })
    }

    // The JIT compiler keeps warming for several iterations after the first
    // (it uses more CPU than the executors while it does), so the set-up
    // ends with the workload's further warm-ups; the timed iterations that
    // follow are near their plateau. Every run times the same number of
    // them, extended only while `--seconds` is not spent. A traced run
    // orders them untraced, traced, traced, untraced, so a steady drift
    // cancels out of the tracing overhead.
    for (_ <- 0 until wl.warmups) iterate(isWarm = true, isTraced = false)
    val setupS = sessionS + median(prepareTimes) + warmS +
      iterations.map(_.wallS).sum
    val start = System.nanoTime()
    val order = if (traced) Seq(false, true, true, false) else Seq(false)
    def timed = iterations.filterNot(_.warm).toSeq
    while (timed.length < (if (traced) 4 else wl.timedIterations) ||
           (System.nanoTime() - start) / 1e9 < seconds)
      iterate(isWarm = false, isTraced = order(timed.length % order.length))
    Bus.drain(spark.sparkContext)

    val metrics = mutable.ArrayBuffer.empty[Metric]
    if (!traced) {
      // Best of the timed iterations: other load on the machine only adds
      // time, and the JIT warm-up only takes it away, so the fastest
      // iteration is the steadiest reading across runs.
      val pipelineS = timed.map(_.wallS).min
      metrics ++= Seq(
        Metric("setup_s", setupS, "s"),
        Metric("pipeline_s", pipelineS, "s"),
        Metric("rows_per_s", wl.rows / pipelineS, "1/s"),
        Metric("ok_ratio", iterations.count(_.ok).toDouble / iterations.length, "ratio"),
        Metric("peak_storage_mb", median(timed.map(_.storageMb)), "MB"))
    } else {
      tracer.install()
      extras ++= wl.probes(tracer)
      tracer.uninstall()
      for (span <- (Workload.ReportedSpans ++ wl.spanNames).distinct) {
        val byMetric = tracer.records.filter(_.name == span).toSeq
          .flatMap(_.metrics(cores)).groupBy(_._1)
        for ((m, _, unit) <- new SpanRecord(span).metrics(cores))
          metrics += Metric(s"$span.$m",
            byMetric.get(m).map(vs => median(vs.map(_._2))).getOrElse(0.0), unit)
      }
      // ConnectedComponents.run takes one checksum (a `head`) before its
      // loop and one per round; its lazy checkpoints and the write that
      // materializes the result are query executions of other calls
      extras ++= tracer.records.filter(_.name == "graph.cc")
        .map(r => Metric("graph.cc.rounds", r.actionsBy("head") - 1.0, "count"))
      for ((m, unit) <- Workload.ExtraMetrics) {
        val vs = extras.filter(_.name == m).map(_.value).toSeq
        metrics += Metric(m, if (vs.isEmpty) 0.0 else median(vs), unit)
      }
      metrics += Metric("codegen.compiles", median(timed.map(_.compiles.toDouble)), "count")
      val (tracedS, untracedS) = timed.partition(_.traced)
      metrics += Metric("trace_overhead_s",
        median(tracedS.map(_.wallS)) - median(untracedS.map(_.wallS)), "s")
    }
    val load1End = osBean.getSystemLoadAverage
    spark.stop()

    val failed = iterations.count(!_.ok)
    val attempted = iterations.length
    val correct = checks.nonEmpty && checks.forall(_.ok) && failed == 0

    // ---- human-readable summary, the artifact, then the result line
    println(f"# $name seed=$seed trace=${if (traced) 1 else 0} nproc=$cores " +
      f"load1 start=$load1Start%.2f end=$load1End%.2f rows=${wl.rows}")
    println(f"# setup: session $sessionS%.3f s, inputs ${prepareTimes.map(t => f"$t%.3f").mkString(" ")} s, " +
      f"warm-up $warmS%.3f s")
    iterations.zipWithIndex.foreach { case (it, i) =>
      println(f"# iter $i${if (it.warm) " warm-up" else if (it.traced) " traced" else ""}: wall ${it.wallS}%.3f s, " +
        f"cpu ${it.cpuS}%.3f s, cpu/wall ${it.cpuS / it.wallS}%.2f, gc ${it.gcS}%.2f s, " +
        f"jit ${it.jitS}%.2f s, compiled ${it.compiles}, storage +${it.storageMb}%.1f MB" +
        s"${if (!it.ok) " FAILED" else if (it.flagged) " FLAGGED" else ""} ${it.note}")
    }
    println(s"# flagged iterations: ${iterations.count(_.flagged)} of ${iterations.length}")
    for (r <- tracer.records.reverse.distinctBy(_.name).reverse)
      println(s"# span ${r.name} actions by call: " +
        r.actionsBy.toSeq.sorted.map { case (f, c) => s"$f=$c" }.mkString(" "))
    checks.foreach(c => println(s"# check ${c.name}: ${if (c.ok) "ok" else "FAIL " + c.detail}"))
    metrics.foreach(m => println(s"# ${m.name} = ${m.value} ${m.unit}"))

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val metricJson = metrics.map(m =>
      s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}")
      .mkString("{", ", ", "}")
    val artifact = Seq(
      s""""workload": ${str(name)}, "seed": $seed, "traced": $traced, "scale": ${num(scale)}""",
      s""""nproc": $cores, "load1_start": ${num(load1Start)}, "load1_end": ${num(load1End)}""",
      s""""rows": ${wl.rows}, "session_s": ${num(sessionS)}, "inputs_s": ${prepareTimes.map(num).mkString("[", ", ", "]")}, "warmup_s": ${num(warmS)}""",
      s""""iterations": ${iterations.map(it =>
        s"""{"wall_s": ${num(it.wallS)}, "cpu_s": ${num(it.cpuS)}, "gc_s": ${num(it.gcS)}, "jit_s": ${num(it.jitS)}, "compiles": ${it.compiles}, "storage_mb": ${num(it.storageMb)}, "warm": ${it.warm}, "traced": ${it.traced}, "ok": ${it.ok}, "flagged": ${it.flagged}, "note": ${str(it.note)}}""")
        .mkString("[", ", ", "]")}""",
      s""""checks": ${checks.map(c =>
        s"""{"name": ${str(c.name)}, "ok": ${c.ok}, "detail": ${str(c.detail)}}""")
        .mkString("[", ", ", "]")}""",
      s""""metrics": $metricJson""").mkString("{", ", ", "}")
    Files.write(Paths.get(work, s"record-$name-seed$seed-trace${if (traced) 1 else 0}.json"),
      artifact.getBytes(StandardCharsets.UTF_8))
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
  }
}
