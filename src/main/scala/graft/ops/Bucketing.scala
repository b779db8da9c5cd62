package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table layout: the shuffle-you-pay-once pattern.
  *
  * A join between two 100 TB-scale tables shuffles BOTH sides on every
  * query. Writing each side `bucketBy(n, key)` pays that shuffle once at
  * write time; every subsequent equi-join (or aggregation) on the bucket
  * key reads co-located buckets and plans a SortMergeJoin with ZERO
  * shuffle exchanges — the scan itself satisfies the join's distribution
  * requirement. This is the batch analog of q65's z-order layout: layout
  * work at write time buys plan work at read time, and it is the single
  * biggest lever for a repeatedly-joined fact/dimension pair.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed AND sorted by `key`.
    * The pre-write `repartition(buckets, key)` makes each write task own
    * whole buckets, so every bucket lands in ONE file — which is what
    * lets the bucketed scan also satisfy the join's SORT requirement
    * (multi-file buckets force a per-partition sort; single-file buckets
    * need none). Returns the qualified table name. */
  def writeBucketed(spark: SparkSession, df: DataFrame, database: String,
      table: String, key: String, buckets: Int): String = {
    graft.terminology.CollectionKind.validateName(database)
    graft.terminology.CollectionKind.validateName(table)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    graft.terminology.CollectionKind.reclaimOrphanLocation(spark, database,
      table)
    df.repartition(buckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(s"$database.$table")
    s"$database.$table"
  }

  /** Bucket-pruned point read: an equality filter on the bucket key scans
    * exactly ONE bucket (`SelectedBucketsCount: 1 out of n`) — the other
    * payoff of the layout: an n-fold scan cut before a single row is
    * read. Spark's `DisableUnnecessaryBucketedScan` rule would silently
    * throw this away (it re-enables plain scans whenever no downstream
    * operator needs the hash distribution, ignoring bucket PRUNING), so
    * this call turns auto-disable off for the session: the only plans it
    * can affect are bucketed scans with no interesting partition — i.e.
    * exactly the pruning case it would otherwise break. */
  def prunedPointRead(spark: SparkSession, table: String, key: String,
      value: Long): DataFrame = {
    spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.table(table).where(col(key) === value)
  }

  /** Equi-join two tables bucketed on `key` with matching bucket counts:
    * plans as a SortMergeJoin whose children are the bucketed scans
    * directly — no ShuffleExchange on either side (the merge hint only
    * rules out a broadcast plan so the co-location is actually
    * exercised; it adds nothing the bucketing doesn't already satisfy). */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, key: String): DataFrame =
    spark.table(leftTable).hint("merge")
      .join(spark.table(rightTable), Seq(key))

  /** Rendezvous (highest-random-weight) shard assignment: key k goes to
    * the shard s ∈ [0, n) maximizing the md5-60 of "s:k" — the
    * consistent-hashing scheme whose reshard property this report
    * AUDITS: growing n → n+1 moves a key iff the NEW shard wins its
    * rendezvous, so exactly ~1/(n+1) of keys move and every move lands
    * on the new shard (no shard-to-shard churn, unlike mod-n).
    *
    * Output per shard (under n+1): keys held at n, keys held at n+1,
    * and keys GAINED by the grow — with the invariant (pinned by the
    * spec) that gains are zero everywhere except the new shard. The
    * md5 family makes the assignment engine-portable; argmax ties are
    * impossible (distinct 60-bit hashes for distinct (s, k)).
    *
    * Scale shape: the n+1-row shard list explodes onto the key frame
    * (map-side; no join), one max-struct aggregation per key, then an
    * O(shards) rollup. */
  def rendezvousReshardAudit(df: DataFrame, key: Column,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val keys = df.select(key.cast("string").as("k"))
      .where(col("k").isNotNull).distinct()
    val w = keys.select(col("k"),
        explode(array((0 to shards).map(s => lit(s)): _*)).as("s"))
      .select(col("k"), col("s"),
        conv(substring(md5(concat(col("s").cast("string"), lit(":"),
          col("k")).cast("binary")), 1, 15), 16, 10).cast("long")
          .as("h"))
    val assign = w.groupBy(col("k"))
      .agg(
        max(when(col("s") < shards, struct(col("h"), col("s"))))
          .as("a_n"),
        max(struct(col("h"), col("s"))).as("a_n1"))
      .select(col("k"), col("a_n.s").as("shard_n"),
        col("a_n1.s").as("shard_n1"))
    assign.groupBy(col("shard_n1").as("shard"))
      .agg(count(lit(1)).as("n_keys_after"),
        sum(when(col("shard_n") =!= col("shard_n1"), 1L).otherwise(0L))
          .as("n_gained"))
      .join(assign.groupBy(col("shard_n").as("shard"))
        .agg(count(lit(1)).as("n_keys_before")), Seq("shard"), "full")
      .select(col("shard"),
        coalesce(col("n_keys_before"), lit(0L)).as("n_keys_before"),
        coalesce(col("n_keys_after"), lit(0L)).as("n_keys_after"),
        coalesce(col("n_gained"), lit(0L)).as("n_gained"))
  }
}
