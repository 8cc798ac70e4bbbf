package hepbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Result of one operation: the items it validated (submissions or pages)
  * and the check of its output, which runs after the operation's clock
  * has stopped. */
final case class OpResult(items: Long, check: () => Boolean)

/** Per-layer metrics by name, and the checked calls that produced them. */
final case class LayerResult(metrics: Map[String, Double], attempted: Long = 0,
    failed: Long = 0)

/** One benchmark workload. Inputs come from the seed alone; the program
  * under test only ever sees the staged inputs. */
trait Workload {
  /** Writes this workload's inputs under `dir`. */
  def stage(spark: SparkSession, dir: File): Unit

  /** Operation `i` of the closed loop on the staged inputs. Set-up warms
    * up with negative `i`. */
  def op(spark: SparkSession, i: Int): OpResult

  /** Untimed operations run back to back for this long after set-up,
    * before the clock starts. */
  def warmUpSeconds: Double

  /** Layer numbers from separate calls on the inputs of `ops`; traced
    * runs only. */
  def layers(spark: SparkSession, tracer: Tracer, ops: Seq[Int]): LayerResult

  /** Spark job spans are attributed to a layer by their call site. */
  def jobLayer(callSite: String): String
}

/** Benchmark driver for one workload:
  *
  *   hepbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --root <checkout> --work <scratch dir> --out <result.json>
  *     [--corrupt-expectation 1] [--tables <generated query tables>]
  *
  * Set-up is the session start plus staging and one warm-up operation;
  * staging and warm-up run three times and the median is reported. Then
  * the workload's untimed warm-up operations run, and one client runs
  * operations back to back for `--seconds`. With `--trace 1` half of that time runs
  * untraced and half traced, and the difference in median operation
  * latency is the tracing overhead. */
object Main {
  val SetupRounds = 3

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("hepbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM: driver, executor tasks, GC and compiler. */
  def cpuNs(): Long = osBean.getProcessCpuTime

  final class Loop {
    val latS = ArrayBuffer.empty[Double]
    val cpuS = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Int]
    var items = 0L
    var failed = 0L
    def attempted: Long = latS.size.toLong
    def p50Ms: Double = median(latS.toSeq) * 1e3
    def itemsPerS: Double = items / latS.sum
  }

  /** Closed loop: the next operation starts when the previous one ends;
    * the operation running at the deadline completes and counts. */
  def runLoop(spark: SparkSession, w: Workload, first: Int, seconds: Double,
      each: (Int, => OpResult) => OpResult): Loop = {
    val l = new Loop
    val t0 = System.nanoTime()
    var i = first
    while (secs(t0) < seconds) {
      val s = System.nanoTime()
      val c = cpuNs()
      val r = try each(i, w.op(spark, i)) catch {
        case e: Exception =>
          System.err.println(s"[hepbench] op $i threw: $e")
          OpResult(0, () => false)
      }
      l.latS += secs(s)
      l.cpuS += (cpuNs() - c) / 1e9
      System.err.println(f"[hepbench] op $i: ${l.latS.last}%.3f s cpu ${l.cpuS.last}%.3f s")
      l.ops += i
      l.items += r.items
      if (!checked(r)) l.failed += 1
      i += 1
    }
    l
  }

  def checked(r: OpResult): Boolean =
    try r.check() catch {
      case e: Exception =>
        System.err.println(s"[hepbench] check threw: $e")
        false
    }

  def usedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = new File(opts("root"))
    val work = new File(opts("work"))
    val corrupt = opts.get("corrupt-expectation").contains("1")
    work.mkdirs()

    val w: Workload = name match {
      case "hep_small_dirs" => new SmallDirs(root, seed, corrupt)
      case "page_pipeline" => new PagePipeline(seed, corrupt,
        opts.get("tables").map(t => (t, new File(work, "query-out"))))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start once, then staging + one warm-up op three times
    val s0 = System.nanoTime()
    val spark = session(work)
    val sessionS = secs(s0)
    var warmFailed = 0L
    val setupS = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      w.stage(spark, new File(work, s"inputs-$r"))
      if (!checked(w.op(spark, -1 - r))) warmFailed += 1
      val t = secs(t0)
      if (r > 0) deleteTree(new File(work, s"inputs-${r - 1}"))
      System.err.println(f"[hepbench] set-up round $r: session $sessionS%.2f s + $t%.2f s")
      sessionS + t
    }

    // untimed warm-up after set-up: the operations still get faster for a
    // while, and a trend inside the timed window would move its median
    val warm = runLoop(spark, w, -1000, w.warmUpSeconds, (_, r) => r)
    System.err.println(s"[hepbench] warm-up: ${warm.attempted} ops")

    val peak = new PeakMemory
    spark.sparkContext.addSparkListener(peak)
    val tracer = new Tracer
    val (loops, metrics, layerChecks) = if (!traced) {
      val l = runLoop(spark, w, 0, seconds, (_, r) => r)
      org.apache.spark.hepbench.Bus.drain(spark.sparkContext)
      (Seq(l), Seq(("setup_s", median(setupS), "s"),
        ("op_p50_ms", l.p50Ms, "ms"),
        ("peak_task_mem_mb", peak.peakBytes / 1048576.0, "MB")), LayerResult(Map.empty))
    } else {
      val plain = runLoop(spark, w, 0, seconds / 2, (_, r) => r)
      val rec = Recorder.attach(spark)
      val tl = runLoop(spark, w, plain.ops.last + 1, seconds / 2, (i, r) =>
        tracer.span(i.toLong, 0, "op")(_ => r))
      Recorder.detach(spark, rec)
      val opSpans = tracer.spans.filter(_.name == "op").toSeq
      // job spans nest under the operation whose interval holds their start
      val jobSpans = rec.jobs.toSeq.sortBy(_.startMs).flatMap { j =>
        opSpans.find(o => j.startMs >= o.startMs && j.startMs <= o.endMs).map { o =>
          val s = Span(o.trace, tracer.newId(), o.id,
            s"${w.jobLayer(j.callSite)}.job ${j.callSite}", j.startMs, j.endMs)
          tracer.spans += s
          s
        }
      }
      val n = opSpans.size.toDouble
      def jobS(layer: String) =
        jobSpans.filter(_.name.startsWith(layer + ".job")).map(_.durS).sum / n
      val selfS = opSpans.map { o =>
        o.durS - Recorder.covered(o.startMs, o.endMs,
          jobSpans.filter(_.parent == o.id).map(j => (j.startMs, j.endMs))) / 1e3
      }.sum / n
      val t = rec.total
      val base = Map(
        "spark.jobs" -> jobSpans.size / n,
        "spark.stages" -> rec.stages / n,
        "spark.tasks" -> t.tasks / n,
        "spark.task_run_s" -> t.runMs / 1e3 / n,
        "spark.task_cpu_s" -> t.cpuNs / 1e9 / n,
        "spark.task_gc_s" -> t.gcMs / 1e3 / n,
        "spark.shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0 / n,
        "spark.spill_mb" -> t.spillBytes / 1048576.0 / n,
        "driver.plan_s" -> rec.planNs / 1e9 / n,
        "driver.self_s" -> selfS,
        "hep.orchestration_jobs_s" -> jobS("hep"),
        "cli.render_s" -> jobS("cli"),
        "trace.overhead_ms" -> (tl.p50Ms - plain.p50Ms),
        "trace.ops" -> n,
        // end-to-end numbers that do not repeat within a tenth across seeds
        "items_per_s" -> plain.itemsPerS,
        "heap_after_gc_mb" -> usedHeapMb())
      val layers = w.layers(spark, tracer, tl.ops.toSeq)
      val spans = new File(opts("out") + ".spans.jsonl")
      tracer.write(spans)
      System.err.println(s"[hepbench] spans: ${spans.getPath}")
      (Seq(plain, tl), Layers.names.map(k =>
        (k, layers.metrics.getOrElse(k, base.getOrElse(k, 0.0)), Layers.unit(k))), layers)
    }
    spark.stop()
    val attempted = loops.map(_.attempted).sum + SetupRounds + warm.attempted + layerChecks.attempted
    val failed = loops.map(_.failed).sum + warmFailed + warm.failed + layerChecks.failed
    val res = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "samples" -> loops.map(_.attempted).sum,
      "metrics" -> metrics.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))
    val out = new java.io.PrintWriter(new File(opts("out")), "UTF-8")
    try out.println(res) finally out.close()
  }
}
