package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The training-data pipeline: the graft.llm bench queries, run by name
  * through `SparkEntry.queries` over the sf0.1 `documents` / `embeddings`
  * corpus, its rows in a seeded order. Set-up writes the corpus and runs
  * one cold pass; the timed loop repeats warm passes of the fixed
  * sequence. The last pass's results are written out for the DuckDB
  * oracle check (tools/check_oracle.py) that run.py runs. */
class TrainingData(spark: SparkSession, tr: Trace, seed: Long, work: Path, data: String)
    extends Workload {
  import TrainingData._
  private val dataDir = work.resolve("data").toString
  private val passS = mutable.ArrayBuffer.empty[Double]
  private val passCpuMs = mutable.ArrayBuffer.empty[Double]
  private val queryCpuMs = mutable.ArrayBuffer.empty[Double]
  val queryMs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
  private val last = mutable.Map.empty[String, (Array[Row], StructType)]

  /** The corpus is written [[Builds]] times (the median is the reported
    * build time), then one cold pass runs every query, several at a time:
    * it is warm-up, never timed per query. */
  def setup(res: Result): Seq[Double] = {
    val tables = Seq("documents", "embeddings").map { t =>
      val (rows, schema) = Inputs.load(spark, data, t)
      (t, Inputs.shuffled(rows, seed), schema)
    }
    val builds = (0 until Builds).map { _ =>
      Workload.timeS(tables.foreach { case (t, rows, schema) =>
        Inputs.df(spark, rows, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dataDir/$t.parquet")
      })
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ColdThreads)
    try Queries.map(q => pool.submit(new Runnable { def run(): Unit = query(q, res, timed = false) }))
      .foreach(_.get())
    finally pool.shutdown()
    builds
  }

  private def query(q: String, res: Result, timed: Boolean): Unit =
    try {
      val fn = graft.SparkEntry.queries(q)
      val run = () => { val df = fn(spark, dataDir); (df.collect(), df.schema) }
      if (timed) {
        val ((rows, schema), s) = tr.op(s"query:$q")(run())
        queryMs(q) += s.ms
        queryCpuMs += s.cpuMs
        last(q) = (rows, schema)
      } else run()
      res.attempt(ok = true, "")
    } catch { case e: Throwable => res.attempt(ok = false, s"$q: $e") }

  private def pass(res: Result): Unit = Queries.foreach(q => query(q, res, timed = true))

  /** Warm passes; another starts only if the last one's time still fits
    * before the deadline. */
  def run(deadlineNs: Long, res: Result): Unit = {
    var firstPassEnd = 0L
    while (passS.size < MinPasses ||
        System.nanoTime() + (passS.last * 1e9).toLong <= deadlineNs) {
      val cpu0 = Cpu.ns()
      passS += Workload.timeS(pass(res))
      passCpuMs += (Cpu.ns() - cpu0) / 1e6
      if (passS.size == 1) firstPassEnd = tr.ops.lastOption.map(_.id).getOrElse(0L)
    }
    countedUpTo = firstPassEnd
  }
  private var countedUpTo = Long.MaxValue

  /** Results and oracle SQL land under `results/` for run.py to compare. */
  def check(res: Result): Unit = {
    import scala.jdk.CollectionConverters._
    val out = work.resolve("results")
    val oracle = graft.SparkEntry.oracleSql
    val sql = Queries.map { q =>
      last.get(q).foreach { case (rows, schema) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(q).toString)
      }
      "\"" + q + "\":" + Json.str(oracle.getOrElse(q, ""))
    }
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("oracle_sql.json"),
      sql.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  def metrics(res: Result): Unit = {
    res.num("pipeline_s", Stats.median(passS.toSeq))
    res.num("pipeline_n", passS.size.toDouble)
    val all = queryMs.values.flatten.toSeq
    Stats.latency(res, "query", all)
    res.num("op_p50_ms", Stats.median(all))
    res.num("cycle_ms", passS.sum / passS.size * 1000)
    res.num("op_cpu_ms", Stats.median(queryCpuMs.toSeq))
    res.num("cycle_cpu_ms", passCpuMs.sum / passCpuMs.size)
  }

  /** Per-query time and driver gap over the first warm pass. */
  def layers(res: Result): Unit = {
    val spans = tr.ops.filter(_.id <= countedUpTo).toSeq
    val L = new Layers(tr, res)
    spans.foreach { s =>
      val q = s.name.stripPrefix("query:")
      L.set(s"llm.${q}_ms", s.ms)
      L.set(s"llm.${q}_driver_gap_ms", tr.selfMs(s))
    }
    val jobs = spans.flatMap(tr.jobsOf)
    L.set("llm.shuffle_bytes", jobs.map(_.shuffleWrite).sum.toDouble)
    L.set("llm.spill_bytes", jobs.map(_.spill).sum.toDouble)
    L.spark(spans)
  }
}

object TrainingData {
  val Queries: Seq[String] = Seq("q24_dedup_exact", "q26_dedup_minhash",
    "q27b_dedup_simhash_banded", "q28_embed_topk", "q29b_embed_neardup_bucketed",
    "q30_ann_lsh", "q123_sq8_ann", "q131_ivfpq_ann", "q139_semdedup", "q95_span_dedup",
    "q97_unigram_xent", "q138_seq_packing", "q178_unigram_train", "q194_doremi_weights")
  val MinPasses = 1
  val ColdThreads = 4
  val Builds = 3
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
