package graftbench

/** Per-layer metrics of a traced run, measured around the benchmark's own
  * calls: op spans, the Spark jobs the listener attached to them, and
  * the counting filesystem's counts recorded at the same boundaries.
  * run.py checks the names against BENCHMARK.json and reports a declared
  * metric the workload does not exercise as 0. */
class Layers(tr: Trace, res: Result) {
  import Layers._

  def set(name: String, v: Double): Unit = res.num(name, if (v.isNaN) 0.0 else v)

  /** Median wall time of `spans`, in ms. */
  def time(name: String, spans: Seq[Span]): Unit = set(name, Stats.median(spans.map(_.ms)))

  /** Mean wall time of `spans`, in ms. */
  def meanTime(name: String, spans: Seq[Span]): Unit =
    set(name, if (spans.isEmpty) 0.0 else spans.map(_.ms).sum / spans.size)

  /** Mean of `f` over `spans`. */
  def perOp(name: String, spans: Seq[Span], f: Span => Long): Unit =
    set(name, if (spans.isEmpty) 0.0 else spans.map(f).sum.toDouble / spans.size)

  /** Write-path phases of commit ops: job wall time per `graft: <phase>`
    * description, the driver gap, and job, task and shuffle counts. */
  def writePhases(commits: Seq[Span]): Unit = {
    val n = math.max(1, commits.size).toDouble
    val jobs = commits.flatMap(tr.jobsOf)
    Phases.foreach { p =>
      set(s"write.${p}_ms", jobs.filter(_.phase == p).map(j => j.end - j.start).sum / n)
    }
    set("write.driver_gap_ms", Stats.median(commits.map(tr.selfMs)))
    set("write.jobs_per_commit", jobs.size / n)
    set("write.tasks_per_commit", jobs.map(_.tasks).sum / n)
    set("write.shuffle_bytes_per_commit", jobs.map(_.shuffleWrite).sum / n)
  }

  /** Substrate counters over the workload's ops. */
  def spark(ops: Seq[Span]): Unit = {
    val jobs = ops.flatMap(tr.jobsOf)
    val n = math.max(1, ops.size).toDouble
    set("spark.gc_ms", jobs.map(_.gcMs).sum.toDouble)
    set("spark.stages_per_op", jobs.map(_.stages).sum / n)
    set("spark.jobs_per_op", jobs.size / n)
  }
}

object Layers {
  val Phases: Seq[String] = Seq("index_probe", "group_plan", "stage", "publish",
    "affected_groups", "fill_targets", "unlabeled")

  /** Bytes written by an op to every kind of file. */
  def bytesWritten(s: Span): Long = FsCounts.Kinds.map(k => s.counts(s"$k.bytes_written")).sum
}
