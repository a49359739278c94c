package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Per-run call recorder: every public call goes through [[call]], every
  * output check through [[check]]. Calls are timed from outside in both
  * clocks; with `traced` on they also become spans of the pass.
  */
final class Ctx(val traced: Boolean) {
  val intervals = ArrayBuffer.empty[Interval] // passes and calls, in start order
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  private var passIdx = -1
  private var passNo = 0

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    val ms = System.currentTimeMillis(); val ns = System.nanoTime()
    try body
    catch { case e: Throwable =>
      failed += 1; failures += s"$name threw $e"; throw e
    } finally intervals += Interval(name, passNo, ms, System.currentTimeMillis(),
      ns, System.nanoTime(), passIdx)
  }

  def check(name: String, ok: Boolean, msg: => String): Unit =
    if (!ok) { failed += 1; failures += s"check $name failed: $msg" }

  /** Runs one pass as a span of its own; returns its wall seconds. */
  def pass(n: Int)(body: => Unit): Double = {
    passNo = n
    val ms = System.currentTimeMillis(); val ns = System.nanoTime()
    intervals += null // placeholder keeps the pass ahead of its calls
    passIdx = intervals.length - 1
    var iv: Interval = null
    try body
    finally {
      iv = Interval("pass", n, ms, System.currentTimeMillis(), ns, System.nanoTime(), -1)
      intervals(passIdx) = iv
      passIdx = -1
    }
    iv.wallS
  }
}

/** A fixed CPU-bound job on every core, timed: the host's current speed.
  * Shared hosts slow down and speed up over minutes (on a shared 4-vCPU VM
  * the same pass read 5.8 s and 9.6 s ten minutes apart); scaling each
  * pass by the calibration time just before it cancels most of that.
  */
object Calibration {
  /** Calibration time of an idle 4-core host of the kind the README's
    * numbers come from; normalized times read as seconds on that host.
    */
  val ReferenceS = 0.1

  private def spin(n: Int, seed: Long): Long = {
    var x = seed; var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Wall seconds for `cores` threads to each finish the same spin; the
    * fastest of three tries.
    */
  def seconds(cores: Int): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val ts = (0 until cores).map { c =>
      val t = new Thread(() => { if (spin(40000000, c + 1L) == 0L) println() })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min
}

object Main {
  private val SetupRounds = 3
  // the first pass pays first-touch JIT and codegen; the next still runs
  // ~20% slow while the JIT finishes
  private val WarmupPasses = 2
  private val MinPasses = 3 // of each kind, untraced and traced, in a traced run

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        scratch: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.Names.contains(w),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}, got '$w'")
    Opts(w, m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("scratch"))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch { case e: Throwable =>
      System.err.println(s"perfbench: run aborted: $e")
      e.printStackTrace()
      2
    }
    System.exit(code)
  }

  private def session(o: Opts, cores: Int): SparkSession = {
    val b = graft.tools.Sessions.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val sizes = Sizes.Default
    val w = Workloads(o.workload)
    var spark: SparkSession = null
    var recorder: Recorder = null

    // ---- set-up: session start and input generation, repeated, the
    // median reported; then warm-up passes, reported only on stderr ----
    val setupTimes = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(o, cores)
      recorder = new Recorder
      spark.sparkContext.addSparkListener(recorder)
      val t1 = System.nanoTime()
      w.prepare(spark, o.seed, sizes)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: ${o.workload} setup round $r: $s%.3f s " +
        f"(session ${(t1 - t0) / 1e9}%.3f, inputs ${(System.nanoTime() - t1) / 1e9}%.3f)")
      s
    }
    val warm = new Ctx(traced = false)
    val warmS = (1 to WarmupPasses).map { _ =>
      Calibration.seconds(cores); warm.pass(0)(w.pass(warm))
    }
    System.err.println(s"perfbench: ${o.workload} warm-up passes: " +
      warmS.map(s => f"$s%.2f").mkString(" ") + " s")
    val heapAfterSetup = liveHeapMb()

    // ---- steady passes until the budget is spent; a traced run alternates
    // untraced (the baseline) and traced passes, so both see the same JIT
    // warmth ----
    val plain = new Ctx(traced = false)
    val traced = new Ctx(traced = true)
    val plainBuf, tracedBuf, calib, tracedCalib = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var n = 1
    while (plainBuf.length < MinPasses || tracedBuf.length < (if (o.trace) MinPasses else 0) ||
           (System.nanoTime() - t0) / 1e9 < o.seconds) {
      if (o.trace && n % 2 == 0) {
        tracedCalib += Calibration.seconds(cores); tracedBuf += traced.pass(n)(w.pass(traced))
      } else { calib += Calibration.seconds(cores); plainBuf += plain.pass(n)(w.pass(plain)) }
      n += 1
    }
    val plainPass = plainBuf.toSeq
    val tracedPass = tracedBuf.toSeq
    val normPass = plainPass.zip(calib).map { case (p, c) => p * Calibration.ReferenceS / c }
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    val heapEnd = liveHeapMb()

    if (o.trace) {
      Gen.selfTest(o.seed, sizes).foreach(f => warm.check("generators", ok = false, f))
      val cov = Report.coverage(traced, tracedCalib.toSeq, normPass)
      traced.check("coverage", cov >= Report.MinCoverage,
        f"library-layer self time covers $cov%.3f of the untraced pass")
    }
    val all = Seq(warm, plain, traced)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.failures).distinct.take(20).foreach(f => System.err.println(s"perfbench: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val passIvs = plain.intervals.filter(_.parent < 0).toIndexedSeq
        val work = Attribution(recorder, passIvs)
        val util = passIvs.indices.map(i =>
          work(i).taskRunS / (passIvs(i).wallS * cores))
        Seq(
          ("setup_s", median(setupTimes), "s"),
          ("pass_s", median(normPass), "s"),
          ("items_per_s", median(normPass.map(w.items / _)), "1/s"),
          ("core_util", median(util), "ratio"),
          ("heap_mb", heapEnd, "MB"))
      } else Report.perLayer(recorder, traced, tracedCalib.toSeq, normPass, plainPass,
        tracedPass, w.extras,
        heapEnd - heapAfterSetup, failed.toDouble / attempted)

    if (o.trace) {
      val t0 = traced.intervals.head.startNs
      val path = Paths.get(o.scratch, s"spans-${o.workload}-seed${o.seed}.json")
      Files.writeString(path, Spans.toJson(traced.intervals.toIndexedSeq, t0))
      System.err.println(s"perfbench: spans written to $path")
      System.err.print(Report.selfTimeTable(traced, plainPass))
    }
    def secs(xs: Seq[Double]) = xs.map(s => f"$s%.2f").mkString(" ")
    System.err.println(s"perfbench: ${o.workload}: steady passes ${secs(plainPass)} s" +
      f" (calibration ${median(calib.toSeq)}%.4f s)" +
      (if (o.trace) s", traced passes ${secs(tracedPass)} s" else "") +
      s", set-up rounds ${secs(setupTimes)} s")
    spark.stop()

    val ok = failed == 0
    val m = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Report.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$m}}""")
    if (ok) 0 else 1
  }
}
