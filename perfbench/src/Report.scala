package perfbench

/** Per-layer metrics of a traced run. Names are `<layer>.<call>.<quantity>`;
  * every value is the median over the traced passes of that pass's total.
  * Calls a workload does not make read 0.
  */
object Report {

  /** Every public call any workload makes, by layer. */
  val Calls = Seq(
    "exec.estimate_bytes", "exec.collect_matrix", "exec.fanout", "exec.refit",
    "agg.cv_aggregate", "agg.cv_best",
    "search.grid_fit", "search.forest_fit", "search.ovr_fit",
    "text.gopher", "dedup.exact", "dedup.minhash_pairs", "dedup.survivors",
    "dedup.spans", "sim.semantic_dedup",
    "encode.fit", "encode.transform",
    "predict.proba_forest", "predict.proba_ovr", "predict.label")

  val Layers = Seq("exec", "agg", "search", "text", "dedup", "sim", "encode", "predict")

  /** Outcome ratios and rates the workloads report (see `Workload.extras`). */
  val Extras = Seq("search.all.fits_per_s", "predict.all.rows_per_s",
    "dedup.planted_recall", "dedup.pair_precision", "dedup.span_recall", "sim.twin_recall")

  /** Library-layer self time must cover at least this share of the
    * untraced pass: time no layer accounts for is a finding. Coverage
    * above 1 is tracing overhead (forcing each rebuilt step at its
    * boundary adds jobs), reported as `trace.pass.overhead_s`.
    */
  val MinCoverage = 0.9

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def passMedian(passes: Seq[Int], f: Int => Double): Double =
    Main.median(passes.map(f))

  /** Library-layer self time of the traced passes as a share of the
    * untraced pass time, both scaled by the calibration time before each
    * pass (see `Calibration`) so that host drift between them cancels.
    */
  def coverage(traced: Ctx, tracedCalib: Seq[Double], normUntraced: Seq[Double]): Double = {
    val self = Spans.selfByLayer(traced.intervals.toIndexedSeq)
    val lib = self.keys.toSeq.sorted.zip(tracedCalib).map { case (p, c) =>
      self(p).filter(_._1 != "bench").values.sum * Calibration.ReferenceS / c
    }
    Main.median(lib) / Main.median(normUntraced)
  }

  def perLayer(rec: Recorder, traced: Ctx, tracedCalib: Seq[Double],
               normUntraced: Seq[Double], untracedPass: Seq[Double],
               tracedPass: Seq[Double], extras: Map[String, Double],
               retainedHeapMb: Double, failedShare: Double): Seq[(String, Double, String)] = {
    val ivs = traced.intervals.toIndexedSeq
    val callIdx = ivs.indices.filter(ivs(_).parent >= 0)
    val work = Attribution(rec, callIdx.map(ivs))
    val byIdx = callIdx.zip(work).toMap
    val passes = ivs.filter(_.parent < 0).map(_.pass).distinct
    def total(p: Int, name: Option[String], f: (Interval, Work) => Double): Double =
      callIdx.filter(i => ivs(i).pass == p && name.forall(_ == ivs(i).name))
        .map(i => f(ivs(i), byIdx(i))).sum
    def call(name: String, q: String, unit: String,
             f: (Interval, Work) => Double): (String, Double, String) =
      (s"$name.$q", passMedian(passes, p => total(p, Some(name), f)), unit)
    def all(q: String, unit: String, f: (Interval, Work) => Double) =
      (s"spark.all.$q", passMedian(passes, p => total(p, None, f)), unit)

    val perCall = Calls.flatMap { c => Seq(
      call(c, "wall_s", "s", (iv, _) => iv.wallS),
      call(c, "jobs", "count", (_, w) => w.jobs),
      call(c, "tasks", "count", (_, w) => w.tasks),
      call(c, "task_run_s", "s", (_, w) => w.taskRunS),
      call(c, "driver_gap_s", "s", (iv, w) => math.max(0.0, iv.wallS - w.stageBusyS)))
    }
    val self = Spans.selfByLayer(ivs)
    val selfMetrics = (Layers :+ "bench").map { l =>
      (s"$l.all.self_s", passMedian(passes, p => self(p).getOrElse(l, 0.0)), "s")
    }
    val spark = Seq(
      all("stages", "count", (_, w) => w.stages),
      all("task_cpu_s", "s", (_, w) => w.taskCpuS),
      all("gc_s", "s", (_, w) => w.gcS),
      all("deser_s", "s", (_, w) => w.deserS),
      all("shuffle_write_bytes", "bytes", (_, w) => w.shuffleWriteBytes.toDouble),
      all("spill_bytes", "bytes", (_, w) => w.spillBytes.toDouble),
      all("failed_tasks", "count", (_, w) => w.failedTasks))
    val tr = Main.median(tracedPass); val un = Main.median(untracedPass)
    val trace = Seq(
      ("trace.pass.traced_s", tr, "s"), ("trace.pass.untraced_s", un, "s"),
      ("trace.pass.overhead_s", tr - un, "s"),
      ("trace.pass.coverage", coverage(traced, tracedCalib, normUntraced), "ratio"))
    val run = Seq(
      ("run.heap.retained_mb", retainedHeapMb, "MB"),
      ("run.ops.failed_share", failedShare, "ratio"))
    perCall ++ Extras.map(r => (r, extras.getOrElse(r, 0.0),
        if (r.endsWith("_per_s")) "1/s" else "ratio")) ++
      selfMetrics ++ spark ++ trace ++ run
  }

  /** Human-readable self-time table of a traced run. */
  def selfTimeTable(traced: Ctx, untracedPass: Seq[Double]): String = {
    val self = Spans.selfByLayer(traced.intervals.toIndexedSeq)
    val base = Main.median(untracedPass)
    val rows = (Layers :+ "bench").map { l =>
      val s = Main.median(self.values.map(_.getOrElse(l, 0.0)).toSeq)
      f"  $l%-8s ${s}%8.3f s  ${100 * s / base}%6.1f%% of untraced pass\n"
    }
    f"perfbench: self time per layer (median of traced passes; untraced pass $base%.3f s)\n" +
      rows.mkString
  }
}
