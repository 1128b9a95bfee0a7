package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's inputs: real rows from the sf0.1 test-data tables kept
  * under `perfbench/data/` (see NOTES.md), collected to the driver once.
  * Workloads hand the program DataFrames built from these rows; the seed
  * decides which rows go where, never their values.
  *
  * User bytes use a fixed per-row encoding computed here, never by the
  * program: 8 bytes per numeric or timestamp column and the UTF-8 length
  * of every string column. */
object Inputs {
  /** Rows of `<dir>/<name>.parquet` in file order, with their schema. */
  def load(spark: SparkSession, dir: String, name: String): (IndexedSeq[Row], StructType) = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    (df.collect().toIndexedSeq, df.schema)
  }

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The rows in a seeded order. */
  def shuffled(rows: IndexedSeq[Row], seed: Long): IndexedSeq[Row] =
    new scala.util.Random(seed).shuffle(rows)

  private def utf8(s: String): Long = if (s == null) 0L else s.getBytes("UTF-8").length.toLong

  // `orders(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
  // o_orderpriority)`

  /** `row` under key `k`, every other value as it was. */
  def rekey(row: Row, k: Long): Row = Row.fromSeq(k +: row.toSeq.tail)

  def orderCents(row: Row): Long = math.round(row.getDouble(3) * 100)

  def orderUserBytes(row: Row): Long =
    8 + 8 + utf8(row.getString(2)) + 8 + 8 + utf8(row.getString(5))
}
