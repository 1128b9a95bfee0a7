package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point for one workload run.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --data <dir> --work <dir> --out <result.json>
  *
  * Builds a session, sets up the workload (warm-up and table builds are
  * set-up, never timed), runs its closed loop for at least `--seconds`,
  * checks outputs, and writes one JSON object of metrics to `--out`.
  * `perfbench/run.py` builds the program, starts this JVM and prints the
  * result. */
object Main {
  /** Exits explicitly: program threads left running after the session
    * stops would otherwise hold the JVM open. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val data = args("data")
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val b = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val tr = new Trace(spark, trace)
    val w: Workload = workload match {
      case "ingest_trickle" => new IngestTrickle(spark, tr, seed, work, data)
      case "training_data"  => new TrainingData(spark, tr, seed, work, data)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val res = new Result
    res.num("session_s", (sessionReadyMs - jvmStartMs) / 1000.0)
    val s0 = System.nanoTime()
    val builds = w.setup(res)
    val setupS = (System.nanoTime() - s0) / 1e9
    res.num("table_build_s", Stats.median(builds))
    res.num("setup_s", (sessionReadyMs - jvmStartMs) / 1000.0 + setupS - builds.sum + Stats.median(builds))

    tr.ops.clear()
    val host0 = Host.sample()
    val t0 = System.nanoTime()
    w.run(t0 + (seconds * 1e9).toLong, res)
    val window = (System.nanoTime() - t0) / 1e9
    val host1 = Host.sample()
    res.num("window_s", window)
    Host.report(host0, host1, res)

    val c0 = System.nanoTime()
    w.check(res)
    w.metrics(res)
    res.num("check_s", (System.nanoTime() - c0) / 1e9)
    tr.ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val key = n.replace(':', '.')
      res.num(s"op.${key}_p50_ms", Stats.median(ss.map(_.ms).toSeq))
      res.num(s"op.${key}_n", ss.size.toDouble)
    }
    res.num("peak_rss_mb", Host.peakRssMb())
    res.num("gc_ms_jvm", Host.gcMs().toDouble)
    if (trace) {
      tr.write(work.resolve("spans.jsonl"),
        System.currentTimeMillis() * 1000000L - System.nanoTime())
      w.layers(res)
    }
    res.str("workload", workload)
    res.num("seed", seed.toDouble)
    spark.stop()
    Files.write(Paths.get(args("out")), res.json.getBytes("UTF-8"))
  }

  val Cores: Int = 4
}

/** Result fields in insertion order, written as one flat JSON object. */
class Result {
  private val fields = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def num(k: String, v: Double): Unit = fields(k) =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(k: String, v: String): Unit = fields(k) = "\"" + v.replace("\"", "'") + "\""
  def get(k: String): Option[Double] = fields.get(k).flatMap(_.toDoubleOption)

  /** Count one op against attempts; a thrown error or a wrong answer
    * counts as failed. */
  def attempt(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }

  def json: String = {
    val errs = errors.map(e => "\"" + e.replace("\\", "/").replace("\"", "'")
      .replace("\n", " ").take(300) + "\"").mkString("[", ",", "]")
    (fields.map { case (k, v) => s""""$k":$v""" } ++
      Seq(s""""attempted":$attempted""", s""""failed":$failed""", s""""errors":$errs"""))
      .mkString("{", ",", "}")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the standard percentiles with at least ten samples
    * beyond it; p50 when there are fewer than twenty samples. */
  def tailP(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)

  /** Records `<name>_p50_ms`, `<name>_tail_ms`, its percentile and n. */
  def latency(res: Result, name: String, msSamples: Seq[Double]): Unit = {
    val p = tailP(msSamples.size)
    res.num(s"${name}_p50_ms", median(msSamples))
    res.num(s"${name}_tail_ms", pct(msSamples, p))
    res.num(s"${name}_tail_pct", p)
    res.num(s"${name}_n", msSamples.size.toDouble)
  }
}

/** Host state over the timed window: CPU steal from /proc/stat and CPU
  * pressure from /proc/pressure/cpu. Reported beside the metrics so a
  * noisy run is visible; never used to normalize a metric. */
object Host {
  case class Sample(cpu: Array[Long], psiSomeUs: Long, atNs: Long)

  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")) catch { case _: Throwable => None }

  def sample(): Sample = {
    val cpu = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val psi = read("/proc/pressure/cpu").flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split(" ").find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
      .getOrElse(-1L)
    Sample(cpu, psi, System.nanoTime())
  }

  def report(a: Sample, b: Sample, res: Result): Unit = {
    if (a.cpu.length >= 8 && b.cpu.length >= 8) {
      val d = b.cpu.zip(a.cpu).map { case (x, y) => x - y }
      val total = d.take(8).sum.toDouble
      res.num("host_steal_frac", if (total > 0) d(7) / total else 0.0)
      res.num("host_busy_frac", if (total > 0) 1 - (d(3) + d(4)) / total else 0.0)
    }
    if (a.psiSomeUs >= 0 && b.psiSomeUs >= 0)
      res.num("host_cpu_pressure_some_frac",
        (b.psiSomeUs - a.psiSomeUs) / ((b.atNs - a.atNs) / 1e3))
  }

  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}
