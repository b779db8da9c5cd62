package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training pipelines: lay documents end-to-end
  * in a deterministic global order and cut the token stream into
  * fixed-capacity context windows ("concat-and-chunk" — the standard
  * pretraining batch construction). Each document is assigned the range of
  * chunks it spans; a downstream writer groups by chunk id to emit packed
  * sequences.
  *
  * The core is a GLOBAL running sum of token counts in id order — the one
  * primitive Spark's window functions only give you single-reducer (an
  * `ORDER BY` window with no `PARTITION BY` collapses 100 TB onto one
  * task). This implementation is the classic two-phase distributed prefix
  * sum instead ([[RunningSums]], the op modules' one blocked running sum):
  *
  *   1. split the id range into `buckets` contiguous blocks and compute
  *      each block's token-count subtotal — one map-side-combined
  *      aggregation, `buckets` longs collected to the driver (the only
  *      non-distributed state in the operator);
  *   2. per-block running sums via a window PARTITIONED by block (parallel
  *      across blocks), plus the broadcast cumulative offset of all
  *      earlier blocks.
  *
  * The block id is a pure integer function of the row id — NOT
  * `spark_partition_id()` after a range repartition, which is re-sampled
  * per action and could assign a row different blocks in the two phases —
  * so both phases agree by construction and nothing needs caching. With a
  * severely non-uniform id distribution the blocks skew (assign dense ids
  * upstream if so); chunk ids themselves depend only on (id, n_tokens)
  * pairs, never on physical layout, so results are stable under retries
  * and re-partitioning either way.
  *
  * Wall-clock at scale: one aggregate + one window shuffle of the
  * (id, n_tokens) projection — never the text — and a `buckets`-row
  * driver collect; no global sort, no single-reducer stage.
  */
object Packing {

  /** Chunk assignment for each document: `first_chunk`..`last_chunk` are
    * the capacity-sized windows the document's tokens land in, with token
    * offsets taken from the running sum over ascending `idCol` (an
    * integral column).
    *
    * Zero-token documents occupy no token range; they are assigned the
    * chunk their offset falls in (first = last) so every input row keeps
    * an address.
    */
  def packChunks(df: DataFrame, idCol: String, nTokens: Column,
      capacity: Long, buckets: Int = 64): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val base = df.select(col(idCol).cast("long").as("id"),
      coalesce(nTokens.cast("long"), lit(0L)).as("n_tokens"))
    val bounds = base.agg(min(col("id")), max(col("id"))).head()
    if (bounds.isNullAt(0))
      return base.select(col("id"), col("n_tokens"),
        lit(0L).as("start_tok"), lit(0L).as("first_chunk"),
        lit(0L).as("last_chunk"))
    val lo = bounds.getLong(0)
    val span = bounds.getLong(1) - lo + 1
    val blockSize = math.max(1L, (span + buckets - 1) / buckets)
    val withBlock = base.withColumn("block",
      ((col("id") - lo) / blockSize).cast("long"))
    // Per-block subtotals → driver offsets → one window per block; a
    // document starts where the running sum before it ends.
    RunningSums(withBlock, Nil, col("block"), Seq(col("id")),
        Seq("end_tok" -> col("n_tokens"))).get.rows
      .withColumn("start_tok", col("end_tok") - col("n_tokens"))
      .withColumn("first_chunk",
        floor(col("start_tok") / capacity).cast("long"))
      .withColumn("last_chunk",
        when(col("n_tokens") > 0,
          floor((col("start_tok") + col("n_tokens") - 1) / capacity))
          .otherwise(col("first_chunk")).cast("long"))
      .select(col("id"), col("n_tokens"), col("start_tok"),
        col("first_chunk"), col("last_chunk"))
  }

  /** Documents exploded to one row per (chunk_id, id) — the writer-side
    * view: `groupBy(chunk_id)` then reassemble token slices. Bounded
    * fan-out: a document spans at most n_tokens/capacity + 1 chunks. */
  def chunkAssignments(packed: DataFrame): DataFrame =
    packed.select(col("id"),
      explode(sequence(col("first_chunk"), col("last_chunk")))
        .as("chunk_id"))
}
