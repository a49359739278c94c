package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spark-side work recorded by the benchmark's own listener. Every
  * record carries the timestamps Spark stamps on its events, so work is
  * attributed to calls after the run, by time interval, with no drain
  * between calls (calls are sequential: one driver thread).
  */
final class Recorder extends SparkListener {
  final case class Job(startMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                        deserMs: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, failedOrRetried: Boolean)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val submit = s.submissionTime.getOrElse(-1L)
    if (submit >= 0)
      stages += Stage(s.stageId, submit, s.completionTime.getOrElse(submit))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val bad = info.failed || info.killed || info.attemptNumber > 0 ||
      e.stageAttemptId > 0
    if (m == null) tasks += Task(e.stageId, 0, 0, 0, 0, 0, 0, bad)
    else tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, bad)
  }
}

/** One timed public call (or a whole pass): wall-clock interval in both
  * clocks — millis to match Spark's event stamps, nanos for durations.
  */
final case class Interval(name: String, pass: Int, startMs: Long, endMs: Long,
                          startNs: Long, endNs: Long, parent: Int) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Work attributed to one interval. */
final case class Work(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                      taskCpuS: Double, gcS: Double, deserS: Double,
                      shuffleWriteBytes: Long, spillBytes: Long,
                      failedTasks: Int, stageBusyS: Double)

object Attribution {

  /** Attribute each job to the interval (among `ivs`, which must not
    * overlap) that contains its start, and each stage and task to its
    * job. Returns the work per interval, in `ivs` order.
    */
  def apply(rec: Recorder, ivs: IndexedSeq[Interval]): IndexedSeq[Work] = rec.synchronized {
    val starts = ivs.map(_.startMs).toArray
    def owner(t: Long): Int = {
      // last interval starting at or before t that is still open at t
      var lo = 0; var hi = ivs.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans >= 0 && ivs(ans).endMs >= t) ans else -1
    }
    val stageOwner = scala.collection.mutable.HashMap.empty[Int, Int]
    val jobsPer = new Array[Int](ivs.length)
    rec.jobs.foreach { j =>
      val o = owner(j.startMs)
      if (o >= 0) {
        jobsPer(o) += 1
        j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = o)
      }
    }
    val stagesPer = Array.fill(ivs.length)(ArrayBuffer.empty[(Long, Long)])
    rec.stages.foreach { s =>
      stageOwner.get(s.id).foreach(o => stagesPer(o) += ((s.submitMs, s.endMs)))
    }
    val acc = Array.fill(ivs.length)(new Array[Double](8))
    rec.tasks.foreach { t =>
      stageOwner.get(t.stageId).foreach { o =>
        val a = acc(o)
        a(0) += 1; a(1) += t.runMs / 1e3; a(2) += t.cpuNs / 1e9; a(3) += t.gcMs / 1e3
        a(4) += t.deserMs / 1e3; a(5) += t.shuffleWriteBytes
        a(6) += t.spillBytes; if (t.failedOrRetried) a(7) += 1
      }
    }
    ivs.indices.map { i =>
      val a = acc(i)
      Work(jobsPer(i), stagesPer(i).length, a(0).toInt, a(1), a(2), a(3), a(4),
        a(5).toLong, a(6).toLong, a(7).toInt,
        unionSeconds(stagesPer(i).toSeq, ivs(i).startMs, ivs(i).endMs))
    }
  }

  /** Length of the union of [start, end] ms intervals, clipped to [lo, hi]. */
  def unionSeconds(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** Span tree of a traced run: each public call's span has its pass span
  * as parent. Kept in memory; written out once, when the run ends.
  */
object Spans {
  /** Self time per layer, per pass: a span's duration minus the part of
    * it its child spans cover. Layer = the span name up to its first dot;
    * pass spans belong to the `bench` layer (the benchmark's own glue:
    * composing inputs and checking outputs).
    */
  def selfByLayer(spans: IndexedSeq[Interval]): Map[Int, Map[String, Double]] = {
    val children = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val covered = children.getOrElse(i, Nil).map(c => spans(c).wallS).sum
      val layer = if (s.parent < 0) "bench" else s.name.takeWhile(_ != '.')
      (s.pass, layer, s.wallS - covered)
    }.groupBy(_._1).map { case (p, xs) =>
      p -> xs.groupBy(_._2).map { case (l, v) => l -> v.map(_._3).sum }
    }
  }

  def toJson(spans: IndexedSeq[Interval], t0Ns: Long): String =
    spans.zipWithIndex.map { case (s, i) =>
      f"""{"id": $i, "name": "${s.name}", "pass": ${s.pass}, "parent": ${s.parent}, """ +
        f""""start_s": ${(s.startNs - t0Ns) / 1e9}%.6f, "end_s": ${(s.endNs - t0Ns) / 1e9}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
