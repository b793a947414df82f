package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The ONE local-or-distributed decision. Every iterative kernel with a
  * driver-side twin — the 11 [[GraphOps]] kernels ([[GraphLocal]]),
  * [[Dedup.connectedComponents]]' union-find, the PPJoin prefix
  * filter's document-frequency map and the BPE trainer — routes its
  * choice through here, under one conf.
  *
  * An aggregated analytics input (a pair graph, a shingle df table, a
  * word vocabulary) is usually orders of magnitude smaller than the
  * corpus that produced it, and below a row budget a driver kernel
  * beats the iterative DataFrame loop's per-round job latency by an
  * order of magnitude. ONE bounded action decides AND delivers: collect
  * up to budget+1 rows — fewer than the cap means the input fits and
  * the collected rows ARE the kernel input; hitting the cap cost only a
  * bounded probe (usually over already-checkpointed blocks) and the
  * caller takes its distributed loop unchanged.
  *
  * `spark.graft.localRowBudget` (default 1M rows ≈ tens of MB of driver
  * heap) bounds every probe; raise it only with driver heap to match.
  * A 100 TB input exceeds any sane budget and always takes the loop.
  * Set it to 0 to force every distributed loop (the loop-posture
  * tests do). */
private[graft] object Local {

  /** Which side of the budget a kernel ran on. */
  sealed trait Posture
  /** The driver-side twin ran over the probed rows. */
  case object Driver extends Posture
  /** The distributed loop ran. */
  case object Loop extends Posture

  def budget(spark: SparkSession): Long =
    spark.conf.get("spark.graft.localRowBudget", "1000000").toLong

  /** The bounded probe: Some(rows) iff `df` provably fits the budget. */
  def probe(df: DataFrame): Option[Array[Row]] = {
    val max = budget(df.sparkSession)
    if (max <= 0) None
    else {
      val cap = (math.min(max, Int.MaxValue - 2L) + 1L).toInt
      val head = df.limit(cap).collect()
      if (head.length < cap) Some(head) else None
    }
  }

  /** Run `kernel` over `rows` when the probe(s) fit, else `loop`. On
    * the driver branch the `pins` are freed once the kernel returns
    * (or throws) — its result is built from collected rows and no
    * longer references them, so a caller's `Checkpoints.free(result)`
    * could not reach them. On the loop branch the pins stay with the
    * loop, whose result (or own cleanup) owns them. */
  def run[R, A](rows: Option[R], pins: DataFrame*)(kernel: R => A)
      (loop: => A): (A, Posture) = rows match {
    case Some(r) => try (kernel(r), Driver) finally pins.foreach(Checkpoints.free)
    case None => (loop, Loop)
  }
}
