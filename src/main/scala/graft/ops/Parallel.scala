package graft.ops

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism for CPU-BOUND kernels.
  *
  * Spark sizes scan splits and AQE-coalesced shuffle partitions by BYTES
  * (`maxPartitionBytes`, `advisoryPartitionSizeInBytes`) — the right call
  * when work per byte is I/O-shaped. The expression kernels in this repo
  * (levenshtein DP over a deletion neighborhood, shingling + minhash
  * signing, winnow rolling hashes, frame decode) cost orders of magnitude
  * more CPU per byte, so a frame that is small in bytes — a distinct
  * attribute-string table, one streaming micro-batch staged as a single
  * file — plans as 1–2 partitions and the kernel runs on 1–2 cores while
  * the rest of the cluster idles (guide §2.6 stragglers / §1.2 "the
  * distributed algorithm first").
  *
  * [[cpuBound]] round-robin-repartitions such a frame to the session's
  * default parallelism — a number that scales with the cluster, never a
  * local constant. The extra exchange moves only the compact pre-kernel
  * rows (ids + short strings), and only when the input is narrower than
  * the cluster: callers apply it to frames KNOWN to be kernel inputs that
  * are bounded (deltas, micro-batches, distinct short-string tables), so
  * at 100 TB the cost stays one small shuffle against a kernel that then
  * uses every core.
  */
object Parallel {

  /** Repartition `df` to `spark.default.parallelism` ahead of a
    * CPU-bound kernel. Row-identical: round-robin routing only (every
    * downstream consumer in this repo aggregates, joins, or totally
    * orders). UNCONDITIONAL — only for frames bounded BY DESIGN
    * (streaming micro-batches, keyed deltas, distinct attribute-string
    * tables), where one extra exchange of compact rows is always cheap
    * relative to the kernel it parallelizes. */
  def cpuBound(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run two INDEPENDENT driver steps concurrently and return both
    * results (guide §2.6: actions are only sequential because driver code
    * calls them sequentially — overlapping lets the second job's tasks
    * back-fill executors freed by the first job's tail, and lets driver
    * I/O waits overlap). Only for steps with no ordering dependency (e.g.
    * a batch's kept-rows write and its index segment's data writes —
    * visibility is gated by the segment commit marker, which the caller
    * still writes after BOTH land). Nest calls for more branches; see
    * [[beside]] for how `b` runs and fails. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = beside(b)(join => (a, join()))

  /** Runs `b` beside `a`, which gets a function that waits for `b`'s
    * result: `a` can go on with work that does not need it and take it
    * when it does. `b` runs on the global execution context under the
    * caller's Spark job properties (job group, job tags, scheduler pool)
    * and active session, so its jobs are cancelled, pooled and attributed
    * as the caller's are. This returns only after both ended: if either
    * fails the caller sees the failure only after the other side
    * finished, so a retry never overlaps a still-running half. */
  def beside[A, B](b: => B)(a: (() => B) => A): A = {
    import scala.concurrent.{Await, Promise, blocking}
    import scala.concurrent.duration.Duration
    val carry = org.apache.spark.sql.graft.SparkInternals.callerJobProperties()
    val pb = Promise[B]()
    scala.concurrent.ExecutionContext.global.execute { () =>
      try pb.success(blocking(carry(b)))
      catch { case e: Throwable => pb.failure(e) }
      ()
    }
    val join = () => Await.result(pb.future, Duration.Inf)
    val ra =
      try a(join)
      catch {
        case e: Throwable =>
          Await.ready(pb.future, Duration.Inf)
          pb.future.value.get.failed.foreach(f => if (f ne e) e.addSuppressed(f))
          throw e
      }
    join()
    ra
  }

  /** Unconditional spread for an IDS-ONLY frame feeding a CPU-heavy
    * verify (candidate pairs before their array/string kernels): round-
    * robin to the wider of cluster cores and the session's shuffle
    * width. The exchange ships ~16 B/row at any scale — cheap — while
    * AQE's BYTE-based partition coalescing would otherwise run the
    * downstream verify on a handful of partitions (candidate bytes are
    * tiny, verify CPU is not; measured +69% on q_dedup_containment when
    * this spread was estimate-gated away, r14). Never reduces the
    * partition count below the session's configured shuffle width, so it
    * cannot concentrate a big cluster's input. */
  def cpuSpreadIdsOnly(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val width = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(0)
    df.repartition(math.max(s.sparkContext.defaultParallelism, width))
  }

  /** [[cpuBound]] gated on the optimizer's size estimate — for operators
    * whose input MAY be a whole corpus (pair generators over document
    * text). Small estimate (byte-based planning would give fewer splits
    * than the cluster has cores) → repartition; large or UNKNOWN
    * estimate → leave the plan alone, so a 100 TB text scan is never
    * re-shuffled just for parallelism it already has (guide §8: move
    * heavy bytes once). The 32 MB/core unit sits below
    * `maxPartitionBytes` so the gate can only fire where the scan itself
    * would under-parallelize. */
  def cpuBoundIfSmall(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(target.toLong * (32L << 20))) df.repartition(target) else df
  }
}
