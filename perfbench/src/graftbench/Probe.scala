package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Filesystem counters, split by where the path lives in a table:
  * `meta` = timeline files under `.graft/` (staging and heartbeats
  * excluded), `heartbeat` = writer heartbeats under `.graft/.heartbeat/`
  * (refreshed on a timer, so their counts depend on timing), `stage` =
  * staged data files under `.graft/.tmp/`, `bloom` = key-bloom sidecars,
  * `data` = everything else. Checksum twins are not counted. */
object FsCounts {
  val Kinds: Seq[String] = Seq("meta", "heartbeat", "stage", "bloom", "data")
  val Ops: Seq[String] = Seq("open", "create", "bytes_written", "rename", "delete", "list")
  private val c: Map[String, AtomicLong] =
    (for (k <- Kinds; o <- Ops) yield s"$k.$o" -> new AtomicLong).toMap
  /** Distinct data files opened, for the lookup hit ratio. */
  val dataOpened: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def kind(p: Path): String = {
    val s = p.toUri.getPath
    if (s.endsWith(".crc")) null
    else if (s.contains("/.graft/.tmp/")) "stage"
    else if (s.contains("/.graft/.heartbeat/")) "heartbeat"
    else if (s.contains("/.graft/")) "meta"
    else if (s.endsWith(".bloom")) "bloom"
    else "data"
  }
  def add(p: Path, op: String, n: Long = 1L): Unit = {
    val k = kind(p)
    if (k != null) c(s"$k.$op").addAndGet(n)
  }
  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** `file://` implementation for traced runs: the program's own local
  * filesystem with every open, create, rename, delete and listing
  * counted, and bytes written counted per stream. */
class CountingFileSystem extends graft.core.NioLocalFileSystem {
  private def counted(p: Path, out: FSDataOutputStream): FSDataOutputStream = {
    FsCounts.add(p, "create")
    val st = new FileSystem.Statistics("graftbench")
    new FSDataOutputStream(out, st) {
      override def close(): Unit = {
        super.close()
        FsCounts.add(p, "bytes_written", st.getBytesWritten)
      }
    }
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounts.add(f, "open")
    if (FsCounts.kind(f) == "data") FsCounts.dataOpened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounts.add(dst, "rename")
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounts.add(f, "delete")
    super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounts.add(new Path(f, "x"), "list")
    super.listStatus(f)
  }
}

/** One Spark job as the listener saw it. `op` is the benchmark op that
  * launched it (a local property the benchmark sets around each call). */
case class JobRec(id: Int, op: Long, desc: String, start: Long, var end: Long = 0L,
    var stages: Int = 0, var tasks: Int = 0, var shuffleWrite: Long = 0L,
    var inputRecords: Long = 0L, var inputBytes: Long = 0L, var spill: Long = 0L,
    var gcMs: Long = 0L) {
  /** Write-path phase from the program's `graft: <phase>` job description. */
  def phase: String = {
    val d = desc.stripPrefix("graft: ")
    if (!desc.startsWith("graft: ")) "unlabeled"
    else Seq("index probe", "group plan", "stage", "publish", "affected groups", "fill targets")
      .find(d.startsWith).map(_.replace(' ', '_')).getOrElse("unlabeled")
  }
}

class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRec] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = JobRec(e.jobId, prop(Trace.OpProperty).map(_.toLong).getOrElse(-1L),
      prop("spark.job.description").getOrElse(""), e.time)
    rec.stages = e.stageIds.size
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.inputRecords += m.inputMetrics.recordsRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }
  def ofOp(op: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.op == op).toSeq)
}

/** One benchmark op: a call into the program timed from outside. `cpuNs`
  * is the CPU time the whole process spent meanwhile (every thread: Spark
  * tasks, driver, GC, JIT); time the host steals from the VM is not in it. */
case class Span(id: Long, name: String, parent: Long, start: Long, end: Long,
    cpuNs: Long, counts: Map[String, Long] = Map.empty) {
  def ms: Double = (end - start) / 1e6
  def cpuMs: Double = cpuNs / 1e6
}

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process so far, in ns. */
  def ns(): Long = os.getProcessCpuTime
}

/** Spans around the benchmark's own calls, kept in memory and written
  * out once at the end of a run. Spark jobs become child spans of the op
  * that launched them, joined through the [[Trace.OpProperty]] local
  * property. With tracing off only the op timings are kept. */
class Trace(val spark: org.apache.spark.sql.SparkSession, val on: Boolean) {
  val listener: JobListener = if (on) new JobListener else null
  if (on) spark.sparkContext.addSparkListener(listener)
  val ops: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 1L

  /** Run `body` as op `name`; returns its result and the finished span. */
  def op[T](name: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val sc = spark.sparkContext
    val before = if (on) FsCounts.snapshot() else Map.empty[String, Long]
    if (on) sc.setLocalProperty(Trace.OpProperty, id.toString)
    val c0 = Cpu.ns()
    val t0 = System.nanoTime()
    val out = try body finally if (on) sc.setLocalProperty(Trace.OpProperty, null)
    val t1 = System.nanoTime()
    val c1 = Cpu.ns()
    val counts =
      if (!on) Map.empty[String, Long]
      else FsCounts.snapshot().map { case (k, v) => k -> (v - before(k)) }
    val s = Span(id, name, 0L, t0, t1, c1 - c0, counts)
    ops += s
    (out, s)
  }

  /** The Spark jobs op `s` launched. */
  def jobsOf(s: Span): Seq[JobRec] = if (on) listener.ofOp(s.id) else Nil

  /** The op's self time: its wall time minus the union of its jobs'
    * intervals (Catalyst, driver metadata I/O, locks). */
  def selfMs(s: Span): Double = {
    val iv = jobsOf(s).filter(_.end > 0).map(j => (j.start, j.end)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.ms - covered) // job times are epoch ms, so `covered` is in ms
  }

  /** Spans as JSON lines: ops (parent 0), then their jobs as children. */
  def write(path: java.nio.file.Path, epochOffsetNs: Long): Unit = {
    val sb = new StringBuilder
    ops.foreach { s =>
      val cs = s.counts.filter(_._2 != 0).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":0,""" +
        s""""start_ms":${(s.start + epochOffsetNs) / 1e6},"end_ms":${(s.end + epochOffsetNs) / 1e6},""" +
        s""""self_ms":${selfMs(s)},"counts":{$cs}}""" + "\n"
      jobsOf(s).foreach { j =>
        sb ++= s"""{"id":"job${j.id}","name":"${j.phase}","parent":${s.id},""" +
          s""""start_ms":${j.start},"end_ms":${j.end},"tasks":${j.tasks},""" +
          s""""stages":${j.stages},"shuffle_write":${j.shuffleWrite},""" +
          s""""input_records":${j.inputRecords}}""" + "\n"
      }
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  val OpProperty = "graftbench.op"
}
