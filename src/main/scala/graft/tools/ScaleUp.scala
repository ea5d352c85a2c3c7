package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 rehearsal data generator: replicates the sf0.1 tables ~10× into
  * GRAFT_SCALEUP_OUT (default target/sf1.0) for the scale rehearsal of
  * the heavy operators (d03, d09, q21, q23).
  *
  * Replication model: 10 independent shards of similar corpora — the
  * right scaling fiction for dedup/distinct work. Keys shift by
  * replica × (max+1) so per-replica distinct structure is preserved and
  * totals scale 10×; document TEXT is alphabet-rotated per replica
  * (translate over a–z, word structure intact) so shingle/fingerprint
  * CONTENT is disjoint across replicas — naive duplication would square
  * the posting-list fan-out (every df × 10 ⇒ Σdf² × 100) instead of
  * scaling it linearly, which is exactly what real 10× data does not do. */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("GRAFT_SCALEUP_OUT", "target/sf1.0")
    val factor = sys.env.getOrElse("GRAFT_SCALEUP_FACTOR", "10").toInt
    val spark = graft.GraftSession.queryPack(32)

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def rot(i: Int): String = alpha.drop(i % 26) + alpha.take(i % 26)

    def replicate(df: DataFrame, build: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => build(df, i)).reduce(_ unionAll _)

    // replica stride = max(key)+1 measured from the SOURCE, not a constant:
    // hardcoded sf0.1 ranges would silently collide replica keys on any
    // other source (e.g. chaining ScaleUp on its own output)
    def stride(df: DataFrame, keys: String*): Map[String, Long] = {
      val r = df.agg(max(col(keys.head)), keys.tail.map(k => max(col(k))): _*).collect()(0)
      keys.zipWithIndex.map { case (k, i) => k -> (r.getLong(i) + 1L) }.toMap
    }

    val docs = graft.queries.T.documents(spark, src)
    val dStride = stride(docs, "doc_id")
    replicate(docs, (d, i) => d.select(
        (col("doc_id") + lit(i * dStride("doc_id"))).as("doc_id"),
        translate(col("text"), alpha, rot(i)).as("text"),
        col("lang"), col("source"), col("n_chars")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val li = graft.queries.T.lineitem(spark, src)
    val ord = graft.queries.T.orders(spark, src)
    val lStride = stride(li, "l_orderkey", "l_partkey", "l_suppkey")
    val oStride = stride(ord, "o_orderkey", "o_custkey")
    // ONE orderkey stride for both tables: independent maxima would shift
    // lineitem and orders orderkeys by different amounts whenever some
    // orders have no lineitems, silently emptying any li⋈orders join for
    // every replica >= 1
    val okStride = math.max(lStride("l_orderkey"), oStride("o_orderkey"))
    replicate(li, (d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * okStride))
        .withColumn("l_partkey", col("l_partkey") + lit(i * lStride("l_partkey")))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * lStride("l_suppkey"))))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    replicate(ord, (d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * okStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * oStride("o_custkey"))))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    // events: same time range, `factor`× the users and traffic — the 10×
    // scaling fiction for the time-bucket/sessionization family (bucket
    // count constant, rows and distinct users scale linearly). ts is
    // written as a native µs TIMESTAMP; T.events adapts to it.
    val ev = graft.queries.T.events(spark, src)
    val eStride = stride(ev, "event_id", "user_id")
    replicate(ev, (d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * eStride("event_id")))
        .withColumn("user_id", col("user_id") + lit(i * eStride("user_id"))))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // embeddings: replica i rotates each vector by i dims — norms and
    // within-replica geometry preserved, so cluster structure replicates
    // at 10× the population without creating 10 exact copies of every
    // point (which would measure duplicate-mass blowup, not scale)
    val emb = graft.queries.T.embeddings(spark, src)
    val vStride = stride(emb, "vec_id")
    replicate(emb, (d, i) => {
      val r = i % 64
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      d.select((col("vec_id") + lit(i * vStride("vec_id"))).as("vec_id"),
        rotated.as("embedding"), col("label"))
    })
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"SCALEUP done: $out factor $factor")
    spark.stop()
  }
}
