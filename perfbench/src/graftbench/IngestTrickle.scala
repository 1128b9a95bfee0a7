package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{Snapshot, TableConfig, TableType}
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.{GraftTable, Meta}

/** Bulk-load `orders` into a MOR table on the `rename` commit store, then
  * a stream of 1-100-row commits, one in ten a delete and the rest upserts
  * (op kinds and sizes are fixed; the seed draws keys and rows), each followed
  * by clean and archive with a short retention (so both do work every
  * few commits), a compaction after every fifth delta commit, and a point
  * lookup of 1-5 just-written keys. A benchmark-side model (key -> row or
  * deleted) checks every lookup and the final snapshot. */
class IngestTrickle(spark: SparkSession, tr: Trace, seed: Long, work: Path, data: String)
    extends Workload {
  import IngestTrickle._
  private val r = new java.util.Random(seed)
  /** the real `orders` rows: the first [[Orders]] are bulk-loaded, and
    * every committed row takes its values from one of them */
  private var pool: IndexedSeq[Row] = _
  private var schema: StructType = _
  /** live key -> (price cents, user bytes) */
  private val model = mutable.HashMap.empty[Long, (Long, Long)]
  /** keys in order of their last write; lookups and updates favour the tail */
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  private var table: GraftTable = _
  private var reader: GraftReader = _
  private var services: TableServices = _
  private var warming = false
  private var deltas = 0
  private var cycles = 0
  /** commits on the current table: fixes each commit's kind and size */
  private var serial = 0
  private var touched: Seq[Long] = Nil
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]
  private val cycleMs = mutable.ArrayBuffer.empty[Double]
  private val cycleCpuMs = mutable.ArrayBuffer.empty[Double]
  private val commitCpuMs = mutable.ArrayBuffer.empty[Double]
  private var rowsCommitted = 0L
  private var writeS = 0.0

  // traced-run bookkeeping, keyed by span id
  /** commit span -> (batch rows, batch user bytes) */
  private val batches = mutable.Map.empty[Long, (Int, Long)]
  private val lookups = mutable.Map.empty[Long, Lookup]
  /** Counts cover the first [[MinCommits]] cycles: the last span id in them. */
  private var countedUpTo = Long.MaxValue
  private var activeInstants = 0

  private def put(row: Row): Unit = {
    val k = row.getLong(0)
    model(k) = (Inputs.orderCents(row), Inputs.orderUserBytes(row))
    recent += k
  }

  /** Warm-up first: a cold build and [[WarmCommits]] untimed cycles on
    * it. Then [[Builds]] fresh builds, whose median is the reported build
    * time; the timed loop runs on the last one. */
  def setup(res: Result): Seq[Double] = {
    val (rows, sch) = Inputs.load(spark, data, "orders")
    pool = rows
    schema = sch
    build()
    warming = true
    loop(0L, WarmCommits, res)
    warming = false
    (0 until Builds).map(_ => Workload.timeS(build()))
  }

  private def build(): Unit = {
    val rows = pool.take(Orders)
    require(rows.zipWithIndex.forall { case (x, i) => x.getLong(0) == i },
      "orders input must hold keys 0, 1, 2, ... in file order")
    table = GraftTable.create(spark, Workload.fresh(work, "orders"), TableConfig(name = "orders",
      tableType = TableType.MOR, keyFields = Seq("o_orderkey"),
      targetFileRows = FileRows, bloomIndex = true, commitStore = "rename"))
    table.bulkInsert(Inputs.df(spark, rows, schema))
    reader = GraftReader(table)
    services = TableServices(table)
    model.clear()
    recent.clear()
    rows.foreach(put)
    nextKey = Orders
    deltas = 0
    serial = 0
  }

  /** A recent-skewed pick: exponential distance back from the newest write. */
  private def pickRecent(): Long = {
    var k = -1L
    while (k < 0 || !model.contains(k)) {
      val back = math.min(recent.size - 1, (-math.log(1 - r.nextDouble()) * 400).toInt)
      k = recent(recent.size - 1 - back)
    }
    k
  }

  /** One timed call. */
  private def timed[T](name: String, into: mutable.ArrayBuffer[Double])(body: => T): (T, Span) = {
    val (out, s) = tr.op(name)(body)
    if (into != null && !warming) into += s.ms
    if (into == commitMs && !warming) commitCpuMs += s.cpuMs
    (out, s)
  }

  def run(deadlineNs: Long, res: Result): Unit = {
    loop(deadlineNs, MinCommits, res)
    activeInstants = table.timeline.instants().size
  }

  private def loop(deadlineNs: Long, minCommits: Int, res: Result): Unit = {
    var commits = 0
    while (System.nanoTime() < deadlineNs || commits < minCommits) {
      val c0 = System.nanoTime()
      val cpu0 = Cpu.ns()
      commit(res, isDelete = serial % DeleteEvery == DeleteAt)
      serial += 1
      commits += 1
      deltas += 1
      if (deltas == CompactEvery) {
        deltas = 0
        if (service(res, "compact")(services.compact())) resolveChanged()
      } else resolveChanged()
      service(res, "clean")(services.clean(CleanRetain))
      service(res, "archive")(services.archive(ArchiveMin, ArchiveMax))
      lookup(res)
      if (!warming) {
        cycleMs += (System.nanoTime() - c0) / 1e6
        cycleCpuMs += (Cpu.ns() - cpu0) / 1e6
        cycles += 1
        if (cycles == MinCommits) countedUpTo = tr.ops.lastOption.map(_.id).getOrElse(0L)
      }
    }
  }

  /** Traced runs resolve the snapshot once per cycle, right after the op
    * that added an instant: the commit, or in a compaction cycle the
    * compaction that follows it. So every resolve measured folds a new
    * instant and misses the resolve memo, and it takes no miss from a
    * later op: clean and archive come next and resolve as of earlier
    * instants, which replaces the memo entry. */
  private def resolveChanged(): Unit =
    if (tr.on) tr.op("resolve")(Snapshot.resolve(table.timeline))

  /** A commit of [[sizeOf]] rows: a delete of live keys, or an upsert of
    * ~70% recent-skewed updates and ~30% new keys. An update takes the
    * values of a random real row; a new key takes its own real row while
    * the input has one. */
  private def commit(res: Result, isDelete: Boolean): Unit = {
    val n = sizeOf(serial % sizeOf.size)
    try {
      if (isDelete) {
        val keys = mutable.LinkedHashSet.empty[Long]
        while (keys.size < n) keys += pickRecent()
        val bytes = keys.iterator.map(model(_)._2).sum
        val (_, s) = timed("delete", commitMs)(table.delete(
          Inputs.df(spark, keys.toSeq.map(Row(_)), StructType(schema.fields.take(1)))))
        keys.foreach(model.remove)
        touched = keys.toSeq
        batches(s.id) = (keys.size, bytes)
      } else {
        val rows = mutable.LinkedHashMap.empty[Long, Row]
        while (rows.size < n) {
          val row =
            if (r.nextInt(10) < 3) { nextKey += 1; fresh(nextKey - 1) }
            else Inputs.rekey(pool(r.nextInt(pool.size)), pickRecent())
          rows(row.getLong(0)) = row
        }
        val (_, s) = timed("upsert", commitMs)(
          table.upsert(Inputs.df(spark, rows.values.toSeq, schema)))
        rows.values.foreach(put)
        touched = rows.keys.toSeq
        batches(s.id) = (rows.size, rows.values.iterator.map(Inputs.orderUserBytes).sum)
      }
      if (!warming) { rowsCommitted += touched.size; writeS += commitMs.last / 1000 }
      res.attempt(ok = true, "")
    } catch { case e: Throwable => touched = Nil; res.attempt(ok = false, s"commit: $e") }
  }

  private def fresh(k: Long): Row =
    if (k < pool.size) pool(k.toInt) else Inputs.rekey(pool(r.nextInt(pool.size)), k)

  /** Runs a table service; true when it added an instant. */
  private def service(res: Result, name: String)(body: => Option[String]): Boolean =
    try {
      val (out, s) = timed(name, null)(body)
      if (!warming) writeS += s.ms / 1000
      res.attempt(ok = true, "")
      out.isDefined
    } catch { case e: Throwable => res.attempt(ok = false, s"$name: $e"); false }

  /** Read back 1-5 keys of the last commit and compare with the model. */
  private def lookup(res: Result): Unit = {
    val want = new scala.util.Random(r.nextLong()).shuffle(touched).take(1 + r.nextInt(5)).sorted
    if (want.isEmpty) return
    try {
      FsCounts.dataOpened.clear()
      var planMs = 0.0
      val (rows, s) = timed("lookup", lookupMs) {
        val t = System.nanoTime()
        val df = reader.pointLookup(want.map(_.toString))
          .select(col("o_orderkey"), col("o_totalprice"), col(Meta.File))
        planMs = (System.nanoTime() - t) / 1e6
        df.collect()
      }
      // after the lookup, so this resolve is a memo hit
      val files = if (tr.on) Snapshot.resolve(table.timeline).slices
        .map(s => s.baseFile.size + s.deltas.size).sum else 0
      val got = rows.map(x => x.getLong(0) -> math.round(x.getDouble(1) * 100)).toMap
      val exp = want.flatMap(k => model.get(k).map(v => k -> v._1)).toMap
      lookups(s.id) = Lookup(planMs, rows.length, rows.map(_.getString(2)).distinct.length,
        FsCounts.dataOpened.size, files)
      res.attempt(got == exp && rows.length == exp.size, s"lookup $want: got $got expected $exp")
    } catch { case e: Throwable => res.attempt(ok = false, s"lookup: $e") }
  }

  def check(res: Result): Unit = {
    val row = reader.dataOnly(reader.snapshot())
      .agg(count(lit(1)), sum(col("o_orderkey")), sum(round(col("o_totalprice") * 100).cast("long")))
      .collect().head
    val got = (row.getLong(0), row.getLong(1), row.getLong(2))
    val exp = (model.size.toLong, model.keysIterator.sum, model.valuesIterator.map(_._1).sum)
    res.attempt(got == exp, s"final snapshot (count, key sum, cents) = $got, expected $exp")
  }

  def metrics(res: Result): Unit = {
    Stats.latency(res, "commit", commitMs.toSeq)
    Stats.latency(res, "lookup", lookupMs.toSeq)
    Stats.latency(res, "cycle", cycleMs.toSeq)
    res.num("ingest_rows_per_s", rowsCommitted / writeS)
    val userBytes = model.valuesIterator.map(_._2).sum
    res.num("space_amp", Workload.dirBytes(java.nio.file.Paths.get(table.basePath)).toDouble / userBytes)
    res.num("op_p50_ms", Stats.median(commitMs.toSeq))
    res.num("cycle_ms", cycleMs.sum / cycleMs.size)
    res.num("op_cpu_ms", Stats.median(commitCpuMs.toSeq))
    res.num("cycle_cpu_ms", cycleCpuMs.sum / cycleCpuMs.size)
  }

  def layers(res: Result): Unit = {
    val spans = tr.ops.filter(_.id <= countedUpTo).toSeq
    def named(ns: String*) = spans.filter(s => ns.contains(s.name))
    val commits = named("upsert", "delete")
    val resolves = named("resolve")
    val looks = named("lookup")
    val L = new Layers(tr, res)
    L.time("core.resolve_ms", resolves)
    L.perOp("core.meta_opens_per_resolve", resolves, _.counts("meta.open"))
    L.perOp("core.meta_files_written_per_commit", commits, _.counts("meta.create"))
    L.perOp("core.meta_lists_per_commit", commits, _.counts("meta.list"))
    L.set("core.active_instants", activeInstants)
    L.writePhases(commits)
    L.perOp("write.files_created_per_commit", commits,
      s => s.counts("stage.create") + s.counts("data.create") + s.counts("bloom.create"))
    L.perOp("write.renames_per_commit", commits, s => s.counts("data.rename") + s.counts("bloom.rename"))
    L.set("write.bytes_written_per_user_byte",
      commits.map(Layers.bytesWritten).sum.toDouble / commits.map(s => batches(s.id)._2).sum)
    // The tag join's scan of the key index runs inside the job that first
    // materializes the persisted tag join (today the group-plan job of an
    // upsert and the staging job of a delete; the "index probe" job only
    // aggregates the batch and reads no file). The commit's other jobs
    // read at most the cached tag join, a batch's worth of rows. So the
    // index rows are the input records of the commit's largest-input job.
    L.set("write.index_rows_read_per_input_row",
      commits.map(s => (0L +: tr.jobsOf(s).map(_.inputRecords)).max).sum.toDouble /
        commits.map(s => batches(s.id)._1).sum)
    // mean per call: clean deletes files, and archive moves instants, only
    // in some cycles, so a median would show only the calls with no work
    Seq("compact", "clean", "archive").foreach(n => L.meanTime(s"services.${n}_ms", named(n)))
    val compacts = named("compact")
    L.set("services.bytes_rewritten_per_delta_byte",
      if (compacts.isEmpty) 0.0
      else compacts.map(Layers.bytesWritten).sum.toDouble / commits.map(Layers.bytesWritten).sum)
    L.perOp("services.files_deleted_per_clean", named("clean"), _.counts("data.delete"))
    val info = looks.map(s => lookups(s.id))
    val opened = info.map(_.opened).sum
    L.set("read.plan_ms", Stats.median(info.map(_.planMs)))
    L.set("read.exec_ms", Stats.median(looks.zip(info).map { case (s, i) => s.ms - i.planMs }))
    L.set("read.files_opened_per_op", opened.toDouble / math.max(1, info.size))
    L.perOp("read.bytes_read_per_op", looks, s => tr.jobsOf(s).map(_.inputBytes).sum)
    L.set("read.skip_frac", 1 - opened.toDouble / math.max(1, info.map(_.inSnapshot).sum))
    L.set("read.rows_examined_per_row_returned",
      looks.map(s => tr.jobsOf(s).map(_.inputRecords).sum).sum.toDouble /
        math.max(1, info.map(_.returned).sum))
    L.set("read.lookup_file_hit_ratio", info.map(_.holding).sum.toDouble / math.max(1, opened))
    L.perOp("read.bloom_reads_per_lookup", looks, _.counts("bloom.open"))
    L.perOp("read.merge_shuffle_bytes_per_op", looks, s => tr.jobsOf(s).map(_.shuffleWrite).sum)
    L.spark(spans.filter(_.name != "resolve"))
  }
}

object IngestTrickle {
  /** What a traced lookup saw: planning time, rows returned, data files
    * holding a returned row, data files opened, data files in the snapshot. */
  case class Lookup(planMs: Double, returned: Int, holding: Int, opened: Int, inSnapshot: Int)

  /** Rows in the i-th commit, 1-100 and skewed small. The sizes are the
    * same for every seed, so runs differ only in keys and row contents. */
  val sizeOf: IndexedSeq[Int] = {
    val g = new java.util.Random(0)
    IndexedSeq.fill(4096)(1 + (g.nextInt(100) * g.nextDouble()).toInt)
  }

  val Orders = 12000
  val FileRows = 600L
  val Builds = 2
  val CompactEvery = 5
  /** One commit in ten is a delete: the third, so even a short run has one. */
  val DeleteEvery = 10
  val DeleteAt = 2
  val MinCommits = 6
  /** Retention far below the reference defaults (clean 10, archive
    * 20/30), which would first fire after 10 and 30 instants: a run has
    * about 10. With these, clean deletes replaced files and archive moves
    * instants out of the active timeline within every run. */
  val CleanRetain = 2
  val ArchiveMin = 4
  val ArchiveMax = 6
  val WarmCommits = 1
}
