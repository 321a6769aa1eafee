package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Eager local checkpointing with SERIALIZED block storage.
  *
  * `df.localCheckpoint(true)` stores blocks MEMORY_AND_DISK *deserialized*,
  * and putting a deserialized block makes the executor estimate its size by
  * walking the object graph (`SizeEstimator.visitSingleObject` +
  * an IdentityHashMap over every reachable object). For the dedup/corpus
  * working sets — millions of small UTF8String shingles per partition —
  * that walk was THE measured source of the bench's residual run-to-run
  * lottery: 1 Hz stack sampling over 8 minhash repetitions (committed in
  * bench/r6_evidence/) shows slow runs pinned in SizeEstimator /
  * IdentityHashMap.resize inside otherwise-cheap 1-2-task stages, with
  * gc=0 and jit=0; runs whose estimator sampling got lucky finish 3-4x
  * faster on identical data.
  *
  * Serialized storage removes the estimator from the loop entirely — the
  * block's size IS the byte buffer's length — at the price of one
  * serialization pass (UnsafeRow payloads copy as bytes) and per-read
  * deserialization. For checkpoint-once / read-2-3-times intermediates
  * that trade wins at any scale, and block sizes become exact instead of
  * estimated (safer memory accounting on real executors, where an
  * under-ESTIMATED deserialized block is how storage OOMs happen).
  */
object Eager {
  implicit class EagerCheckpoint[T](private val ds: Dataset[T])
      extends AnyVal {
    /** Eager serialized local checkpoint — use instead of
      * `localCheckpoint(true)` for every pipeline intermediate. */
    def eagerCheckpoint(): Dataset[T] =
      ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    /** SIZE-GATED eager checkpoint (round 20, guide §1.2/§5) for
      * reuse-materialization sites whose trade flips with data volume:
      * at fixture scale a checkpoint barrier costs more than replanning
      * a small subtree 2-3x (the round-19 measured rejections:
      * ext_text_unigram_nll 0.67 -> 0.92 s, ext_lm_kn_heldout 0.54 ->
      * 1.10 s), while at corpus scale the replans each re-tokenize /
      * re-decode the full input and dwarf one bounded materialization.
      *
      * The gate reads the subtree's INPUT volume — the sum of leaf
      * relation statistics of the optimized plan (file sizes for
      * parquet scans) — and checkpoints only above
      * `spark.graft.checkpoint.minInputBytes` (default 8 GiB, ~64
      * default-sized parquet splits: far above any fixture, far below
      * any corpus worth three passes). Leaf stats, not output-size
      * estimates: filter/aggregate selectivity estimates are
      * unreliable, input bytes are known exactly, and what the gate
      * must predict is the cost of RE-READING the input per replan. */
    def eagerCheckpointAtScale(): Dataset[T] = {
      val minBytes = BigInt(ds.sparkSession.conf
        .get("spark.graft.checkpoint.minInputBytes", (8L << 30).toString)
        .toLong)
      // leaf stats off the ANALYZED plan: forcing optimizedPlan here
      // would run a full optimizer pass on a throwaway QueryExecution
      // (downstream consumers plan from ds.logicalPlan, not this QE) —
      // measurable driver latency per call at fixture scale. A leaf
      // without statistics reports spark.sql.defaultSizeInBytes: that
      // is unknown, not huge, and must not force a checkpoint
      val unknown = BigInt(
        org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
      val inputBytes = ds.queryExecution.analyzed.collectLeaves()
        .map(_.stats.sizeInBytes).filter(_ != unknown).sum
      if (inputBytes >= minBytes) eagerCheckpoint() else ds
    }
  }
}
