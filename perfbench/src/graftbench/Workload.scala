package graftbench

import java.nio.file.Path

/** A timed-loop workload. `setup` returns the durations of its repeated
  * table builds (set-up reports their median); `run` drives the closed
  * loop until the deadline has passed and the minimum op count is met;
  * `layers` reports the traced run's per-layer metrics. */
trait Workload {
  def setup(res: Result): Seq[Double]
  def run(deadlineNs: Long, res: Result): Unit
  def check(res: Result): Unit
  def metrics(res: Result): Unit
  def layers(res: Result): Unit
}

object Workload {
  def timeS(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }

  /** Bytes of every file under `dir`, walked after timing ends. */
  def dirBytes(dir: Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** A fresh table directory `name` under `work`. */
  def fresh(work: Path, name: String): String = {
    val d = work.resolve(name)
    if (java.nio.file.Files.exists(d)) {
      val s = java.nio.file.Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
    d.toString
  }
}
