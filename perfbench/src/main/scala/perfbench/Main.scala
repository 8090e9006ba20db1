package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: a fresh session at local[cores], one workload,
  * closed loop with one client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --out <file> --launch-ms <epoch ms>
  *
  * Setup is timed from `--launch-ms` (when the JVM was started) until the
  * session is ready, plus the median of three input generations. Then
  * the first unit runs cold, followed by round(`--seconds` / the
  * workload's nominal unit time) steady units, at least two. The result lands in `--out` as
  * `name value unit` lines and `#` note lines, ending in a `#status`
  * line; `run.py` turns it into the reported JSON. */
object Main {
  private val SetupReps = 3
  private val MinSteady = 2
  /** A traced run needs one whole R U U R block for the overhead figure. */
  private val MinSteadyTraced = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("work")), Path.of(need("out")), need("launch-ms").toLong)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Block-store MB and cached RDD count, after a GC that lets the
    * context cleaner drop blocks of unreachable RDDs. */
  private def storage(spark: SparkSession): (Double, Int) = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(500)
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0), infos.length)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads(args.workload)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - args.launchMs) / 1e3

    val out = Seq.newBuilder[String]
    def metric(name: String, v: Double, unit: String): Unit = out += s"$name ${Json.num(v)} $unit"
    def note(s: String): Unit = out += s"# $s"

    try {
      // ---- setup: generate and check the inputs, SetupReps times --------
      val reps = (0 until SetupReps).map { k =>
        val dir = args.work.resolve(s"inputs-$k")
        Inputs.deleteTree(dir)
        val t0 = System.nanoTime()
        val d = workload.prepare(dir, args.seed)
        ((System.nanoTime() - t0) / 1e9, d, dir)
      }
      require(reps.map(_._2).distinct.length == 1,
        s"input generation is not deterministic: digests ${reps.map(_._2).distinct.mkString(", ")}")
      reps.drop(1).foreach(r => Inputs.deleteTree(r._3))
      val inputs = reps.head._3
      val setupS = sessionS + Stats.median(reps.map(_._1))
      note(s"inputs sha256 ${reps.head._2}")

      val tracer = if (args.trace) {
        val t = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None

      // ---- units ---------------------------------------------------------
      // traced runs interleave recorded and unrecorded steady units in the
      // order R U U R R U U R …, so the tracing overhead is measured inside
      // one session and a steady warm-up trend does not bias it
      def recorded(i: Int) = i == 0 || (i - 1) % 4 == 0 || (i - 1) % 4 == 3
      final case class Done(i: Int, r: UnitResult, layers: Seq[(String, Double, String)])
      def runUnit(i: Int): Option[Done] = {
        tracer.foreach(_.enabled = recorded(i))
        val tag = s"u$i"
        val gc0 = gcMs()
        try {
          val r = workload.unit(spark, inputs, args.seed, i, tag)
          val gcS = (gcMs() - gc0) / 1e3
          note(f"unit $i%d ${r.wallS}%.3f s ${if (r.ok) "ok" else "FAILED"} ${r.note}")
          val layers = tracer.filter(_ => recorded(i)).toSeq.flatMap { t =>
            t.summarize(s"$tag/", r.loMs, r.hiMs, cores).metrics
              .map { case (k, v, u) => (s"spark.$k", v, u) } ++
              Seq(("spark.gc_s", gcS, "s")) ++ workload.unitLayers(r, t, tag, cores)
          }
          Some(Done(i, r, layers))
        } catch {
          case e: Throwable =>
            note(s"unit $i FAILED ${e.getClass.getSimpleName}: ${e.getMessage}".replace('\n', ' '))
            e.printStackTrace()
            None
        }
      }

      // The steady window is a unit COUNT derived from --seconds, not a
      // clock: units keep speeding up as the JIT warms, so a clock window
      // would give a faster run (or a faster commit) more, warmer units
      // and a lower median on top of its real speed-up.
      val nSteady = math.max(if (args.trace) MinSteadyTraced else MinSteady,
        math.round(args.seconds / workload.nominalUnitS).toInt)
      val first = runUnit(0)
      val steadyRuns = (1 to nSteady).map(i => i -> runUnit(i))
      val attempted = 1 + steadyRuns.length
      val failed = (first +: steadyRuns.map(_._2)).count(d => d.forall(!_.r.ok))
      val okSteady = steadyRuns.flatMap(_._2).filter(_.r.ok)

      val (retainedMb, cachedRdds) = storage(spark)
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

      note(s"attempted $attempted failed $failed")
      note(s"setup: session ${Json.num(sessionS)} s + median input generation " +
        s"${reps.map(r => Json.num(r._1)).mkString("[", ", ", "]")} s")

      if (!args.trace) {
        metric("setup_s", setupS, "s")
        first.filter(_.r.ok).foreach(d => metric("first_s", d.r.wallS, "s"))
        if (okSteady.nonEmpty) metric("steady_s", Stats.median(okSteady.map(_.r.wallS)), "s")
        metric("steady_samples", okSteady.length, "count")
        Stats.highestSupportedPercentile(okSteady.length).foreach { p =>
          metric(s"steady_p${p}_s", Stats.percentile(okSteady.map(_.r.wallS), p), "s")
        }
        metric("retained_mb", retainedMb, "MB")
        metric("error_rate", failed.toDouble / attempted, "ratio")
      } else {
        // per-layer: the median over recorded steady units of each metric
        val rec = okSteady.filter(d => recorded(d.i))
        val names = rec.headOption.toSeq.flatMap(_.layers.map(n => (n._1, n._3)))
        val med = names.map { case (n, u) =>
          n -> Stats.median(rec.map(_.layers.find(_._1 == n).get._2))
        }.toMap
        names.foreach { case (n, u) => metric(n, med(n), u) }
        if (rec.nonEmpty) {
          val wall = Stats.median(rec.map(_.r.wallS))
          metric("unit_wall_s", wall, "s")
          note(f"self time per unit: driver ${med("spark.driver_gap_s")}%.3f s + jobs " +
            f"${wall - med("spark.driver_gap_s")}%.3f s of $wall%.3f s; tasks ran " +
            f"${med("spark.task_run_s")}%.3f s on $cores%d cores (GC ${med("spark.gc_s")}%.3f s)")
        }
        first.flatMap(_.layers.find(_._1 == "spark.driver_gap_s"))
          .foreach(m => metric("spark.first_driver_gap_s", m._2, "s"))
        metric("storage.retained_mb", retainedMb, "MB")
        metric("storage.cached_rdds", cachedRdds, "count")
        metric("jvm.heap_after_gc_mb", heapMb, "MB")
        val unrec = okSteady.filterNot(d => recorded(d.i))
        if (rec.nonEmpty && unrec.nonEmpty) {
          val overhead = Stats.median(rec.map(_.r.wallS)) - Stats.median(unrec.map(_.r.wallS))
          metric("trace.overhead_s", overhead, "s")
        }
        note(s"recorded steady units ${rec.length}, unrecorded ${unrec.length}")
        tracer.foreach(_.enabled = true)
        workload.tracedExtras(spark, inputs, args.seed).foreach { case (n, v, u) => metric(n, v, u) }
        metric("jvm.peak_rss_mb", peakRssMb(), "MB")
        val spans = args.out.resolveSibling(
          args.out.getFileName.toString.stripSuffix(".txt") + ".spans.jsonl")
        tracer.foreach(_.writeSpans(spans, Seq(
          s"""{"kind":"run","workload":${Json.str(workload.name)},"seed":${args.seed},""" +
            s""""cores":$cores}""") ++
          (first.toSeq ++ okSteady).map { d =>
            s"""{"kind":"unit","tag":"u${d.i}","wall_s":${Json.num(d.r.wallS)},""" +
              s""""recorded":${recorded(d.i)},"phases":[""" + d.r.phases.map { case (p, lo, hi) =>
                s"""{"phase":${Json.str(p)},"start_ms":$lo,"end_ms":$hi}"""
              }.mkString(",") + "]}"
          }))
        note(s"spans ${spans.toAbsolutePath}")
      }
      out += s"#status attempted=$attempted failed=$failed"
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        note(s"run FAILED ${e.getClass.getSimpleName}: ${e.getMessage}".replace('\n', ' '))
        out += "#status error"
    } finally {
      Files.writeString(args.out, out.result().mkString("", "\n", "\n"))
      spark.stop()
    }
  }
}
