package graftbench

import java.io.{FileDescriptor, FileOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graftbench.LandingGen.Plan

/** Benchmark entry point: one workload, one process, one client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--out <dir>]
  * }}}
  *
  * The inputs are made once, untimed. Set-up runs once, then an untimed
  * warm-up, then set-up again until it has run [[setupReps]] times;
  * `setup_s` is the median over them of the time spent in the program's
  * calls. Then operations run in a closed loop for `--seconds`.
  * A traced run reports per-layer figures instead and writes its span
  * records to `--out`.
  * Every operation's output is checked; a failed or wrong operation is
  * counted and its time is never reported. The last stdout line is the
  * result JSON; everything else goes to stderr.
  */
object Main {

  val setupReps = 5

  /** The workloads. Row and file counts are sized so one run takes
    * about a minute on a 4-core host; RATIONALE.md explains each. */
  def workload(name: String, spark: SparkSession, trace: Trace, seed: Long): Workload =
    name match {
      // 72 files a day (above the 64-file header-check switch) at a
      // tenth of the reference's rows per file, 20% of them updating
      // keys of a warehouse bulk-seeded with two such days
      case "daily_load" => new DailyLoad(spark, trace, seed,
        Plan(seed, batches = 14, filesPerBatch = 72, overlap = 0.2, firstBatchFiles = 144,
          rowScale = 0.1))
      // a bulk-seeded version, then one hourly batch of the reference's
      // 10 files at 1k-10k rows, half of them updates (loaded through the
      // pipeline in a traced run)
      case "dashboard_reads" => new DashboardReads(spark, trace, seed,
        Plan(seed, batches = 2, filesPerBatch = 10, overlap = 0.5, firstBatchFiles = 20))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
      out: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("out").map(Paths.get(_).toAbsolutePath))
  }

  def main(args: Array[String]): Unit = {
    val realOut = System.out
    System.setOut(new PrintStream(new FileOutputStream(FileDescriptor.err), true))
    val code =
      try {
        val line = run(parse(args))
        realOut.println(line)
        realOut.flush()
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.exit(code)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
  }

  def run(o: Opts): String = {
    require(o.seconds >= 1, "--seconds must be at least 1")
    Workloads.deleteTree(o.work)
    Files.createDirectories(o.work)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val trace = new Trace(sc)
    val w = workload(o.workload, spark, trace, o.seed)
    if (o.trace) sc.addSparkListener(trace.listener)

    val p0 = System.nanoTime()
    w.prepare(o.work.resolve("inputs"), o.trace)
    val prepareS = (System.nanoTime() - p0) / 1e9
    def setupOnce(rep: Int): Double = {
      System.gc()
      val dt = w.setup(o.work.resolve(s"setup$rep"), o.trace)
      if (rep > 0) Workloads.deleteTree(o.work.resolve(s"setup${rep - 1}"))
      dt
    }
    // set up once cold, warm up on that state, then set up again warm:
    // the median then prices a set-up, not the JVM's first steps
    val coldSetup = setupOnce(0)
    val w0 = System.nanoTime()
    w.warmUp(o.trace)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupTimes = coldSetup +: (1 until setupReps).map(setupOnce)

    // closed loop. Each operation starts after a full collection, so
    // garbage from the last one is not paid for inside the next. In a
    // traced run every other operation runs with the listener detached,
    // which prices the tracing itself, so it runs at least two.
    val ops = new Samples
    val loopStart = System.nanoTime()
    val deadline = loopStart + o.seconds * 1000000000L
    def more = System.nanoTime() < deadline || (o.trace && ops.attempted < 2)
    while (more && w.hasNext) {
      val traced = o.trace && ops.attempted % 2 == 0
      if (o.trace && !traced) {
        org.apache.spark.graftbench.ListenerBusDrain(sc)
        sc.removeSparkListener(trace.listener)
      }
      System.gc()
      ops.record(traced)(w.op(traced))
      if (o.trace && !traced) sc.addSparkListener(trace.listener)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val a0 = System.nanoTime()
    w.afterLoop(o.trace)
    val afterS = (System.nanoTime() - a0) / 1e9
    if (o.trace) org.apache.spark.graftbench.ListenerBusDrain(sc)
    val finalOk = w.finalCheck()
    val attempted = ops.attempted
    val failed = ops.failed
    val correct = failed == 0 && finalOk && w.problems.isEmpty

    System.err.println(f"[graftbench] ${o.workload} seed=${o.seed} session=$sessionS%.2fs " +
      f"inputs=$prepareS%.2fs setup=${setupTimes.map(t => f"$t%.2f").mkString("[", ",", "]")} warm-up=$warmS%.2fs " +
      f"loop=$loopS%.2fs (ops ${ops.ok.sum}%.2fs) after-loop=$afterS%.2fs " +
      s"ops=$attempted failed=$failed times=${ops.ok.map(t => f"$t%.3f").mkString("[", ",", "]")}")
    (ops.failures ++ w.problems).take(5)
      .foreach(f => System.err.println(s"[graftbench] FAIL $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val ok = if (ops.ok.isEmpty) Seq(Double.NaN) else ops.ok.toSeq
        Seq(
          ("setup_s", Stats.median(setupTimes), "s"),
          ("op_p50_s", Stats.median(ok), "s"))
      } else {
        o.out.foreach { dir =>
          Files.createDirectories(dir)
          val spans = trace.spans
          Files.write(dir.resolve(s"spans_${o.workload}_${o.seed}.jsonl"),
            Trace.toJsonLines(spans, Trace.selfTimes(spans)).mkString("", "\n", "\n")
              .getBytes("UTF-8"))
        }
        Layers.metrics(trace, w, cores) ++ Seq(
          ("warehouse.stored_bytes_per_live_byte", w.storedPerLive, "ratio"),
          ("jvm.peak_rss_mb", peakRssMb, "MB"),
          ("trace.overhead_ratio", ops.overhead, "ratio"))
      }
    spark.stop()
    Workloads.deleteTree(o.work)
    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$body}"""
  }

  /** Outcomes of the timed operations. */
  final class Samples {
    val ok = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    private val traced = mutable.ArrayBuffer.empty[Double]
    private val untraced = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    def failed: Int = failures.size

    /** Run one operation; an exception or a wrong answer is a failure
      * and its time is dropped. */
    def record(isTraced: Boolean)(op: => OpOutcome): Unit = {
      attempted += 1
      try {
        val r = op
        if (r.ok) {
          ok += r.wallS
          (if (isTraced) traced else untraced) += r.wallS
        } else failures += r.detail
      } catch {
        case e: Exception => failures += e.toString
      }
    }

    /** Median traced operation time over median untraced one. */
    def overhead: Double =
      if (traced.isEmpty || untraced.isEmpty) Double.NaN
      else Stats.median(traced.toSeq) / Stats.median(untraced.toSeq)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}
