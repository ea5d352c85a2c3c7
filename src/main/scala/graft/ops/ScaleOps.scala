package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path join machinery: skew salting and bucketed co-location —
  * the two levers (besides AQE) that keep 100 TB joins off the
  * single-hot-partition and full-shuffle cliffs.
  */
object ScaleOps {

  /** Widen a narrow input before compute-heavy per-row work. Scan-stage
    * parallelism follows FILE SPLITS, not cluster width: a single small
    * parquet file scans as one partition, which would run an expensive
    * per-row expression (shingling, MinHash, winnowing, LSH keying) on one
    * core while the rest idle. Two conditions, both cheap driver-side:
    *
    *  - narrow (partitions ≪ parallelism) — on a real corpus (thousands
    *    of splits) this fails and spread is a no-op, so no shuffle is
    *    ever added at scale;
    *  - big enough to matter (optimizer size estimate ≥ 4 MiB): the text
    *    expressions cost ~10–30 µs per ~300 B row (measured, MicroBench
    *    in REMOVED_PROBES.md), so below a few MiB the whole pass is tens
    *    of ms single-threaded — CHEAPER than the extra stage's task+schedule
    *    overhead it would take to parallelize it (measured: dropping the
    *    exchange cut d08 ~25% at sf0.1 while sf≥1 corpora still spread). */
  def spread(df: DataFrame, minBytes: Long = 4L << 20): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val narrow = df.rdd.getNumPartitions * 2 < par
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (narrow && bytes >= minBytes) df.repartition(par) else df
  }

  /** Salted equi-join for skew: the big side gets a deterministic salt in
    * [0, salts) (hash of its full row — no rand(), so retries/speculative
    * tasks agree), the small side is replicated once per salt, and the join
    * key becomes (key, salt). A key holding S% of the rows spreads over
    * `salts` partitions instead of one. Use when AQE's skew-join splitting
    * isn't available (e.g. the skewed side feeds a co-partitioned window).
    *
    * joinType: "inner" or "left" (left = big side preserved). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    val saltCol = "__salt"
    val bigS = big.withColumn(saltCol,
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts)).cast("int"))
    val smallS = small.withColumn(saltCol,
      explode(array((0 until salts).map(lit): _*)))
    bigS.join(smallS, Seq(key, saltCol), joinType).drop(saltCol)
  }

  /** Write a DataFrame as a bucketed+sorted table: joins and aggregations
    * on the bucket key then need NO exchange (co-located, pre-sorted).
    * The 100 TB pattern: bucket both fact tables on the join key once at
    * ingest; every subsequent equi-join on that key is shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // an orphan warehouse dir (table unknown to this session's in-memory
    // catalog) still blocks CREATE — clear it
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (java.nio.file.Files.exists(loc))
      java.nio.file.Files.walk(loc)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True iff the physical plan of `df` contains no shuffle exchange
    * (evidence helper for co-located joins; also used by specs). */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
