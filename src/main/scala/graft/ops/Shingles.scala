package graft.ops

import graft.functions.TextExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Word-shingle (n-gram) machinery shared by exact-Jaccard, MinHash and
  * SimHash dedup.
  *
  * Shingle identity is the 64-bit xxhash of the k-gram (native codegen'd
  * expression, one pass per row — see graft.functions.ShingleHashes), not
  * the shingle string: set sizes/intersections/Jaccard are identical
  * (collision odds ~n²/2⁶⁴), downstream shuffles carry 8-byte keys, and the
  * interpreted higher-order-function pipeline is gone. */
object Shingles {

  /** Distinct xxhash64 values of the word k-shingles of a text column.
    * Docs shorter than k words yield an empty array. */
  def shingles(text: Column, k: Int = 3): Column =
    TextExprs.shingleHashes(text, k)

  /** doc_id → exploded distinct shingle-hash rows. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    docs.select(col(idCol), explode(shingles(col(textCol), k)).as("shingle"))

  /** Exact pairwise Jaccard over shingle sets for all pairs sharing at
    * least one retained shingle. Cost is Σ_s df(s)² — quadratic in the
    * document frequency of the hottest shingle, so `maxDf` drops shingles
    * appearing in more than that many documents: one boilerplate header
    * shared by a million docs would otherwise emit 10¹² candidate pairs.
    * Hot shingles carry ~zero near-dup signal (they're in everything), and
    * set sizes keep counting them, so dropped shingles can only lower a
    * pair's estimated Jaccard — the guarantee "reported pair ⇒ truly shares
    * retained shingles" stands. The default cap is far above any df in the
    * test corpora (max 25 at sf0.1) — results there are bit-exact vs the
    * uncapped oracle — while bounding the worst per-shingle candidate count
    * at scale. The MinHash path (d04) stays the designated 100 TB route.
    *
    * Plan shape — posting lists instead of a self-join, TWO exchanges end
    * to end (see [[Postings]] for the shared machinery and its 100 TB
    * rationale): the exploded shingle relation shuffles ONCE on the 8-byte
    * hash at strict width (AQE's byte-based coalescing would collapse the
    * pair fan-out, whose cost is generated rows, onto one task); each
    * shingle's df is a spillable window count inside that same exchange,
    * so hot shingles are dropped before any collect_list buffers them;
    * pairs stream from a native generator over each posting list (same
    * Σ df² output the self-join had, minus the join machinery and the
    * intermediate-row array carrying); and the pair
    * aggregation hash-partitions on (a_id, b_id) at strict width so the
    * trailing ORDER BY's boundary sampling re-executes only the cheap
    * parallel final aggregate. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.2,
                   maxDf: Long = 10000L): DataFrame = {
    // Default spread gate stands: forcing the exchange at sf0.1 (580 KB
    // corpus) was measured 26% SLOWER end-to-end — the ~250 ms serial
    // shingle+explode stage is cheaper than the extra exchange + stage
    // schedule it takes to parallelize it. Corpora big enough to clear
    // the 4 MiB gate spread as before. (Re-measured round 6 after the
    // UnsafeRow pair generator landed: still 24% slower warm, 1.13 s vs
    // 0.91 s.)
    //
    // Round-6 profile of the remaining ~0.9 s warm (JFR ExecutionSamples,
    // 8 runs): the top frames are RadixSort (the df window's sort + the
    // shuffle sorters), the pair aggregation's FastHashMap/
    // RowBasedKeyValueBatch, and shuffle stream IO — parallel engine
    // machinery across 13–14 s of task time, NOT our generator (absent
    // from the top 25) and not scheduling floor (stage-wall ≈ 0.8 of
    // ~1.0 s wall). The 1.27M-pair mass (Σdf² at sf0.1's 15-word
    // synthetic vocabulary) is simply heavier relative to the corpus than
    // natural text would produce; the per-pair path is already
    // allocation-free end to end.
    //
    // Round-7 dead end (recorded): aggregating on a PACKED 2-long key
    // (pair = a<<32|b, sizes = na<<32|nb — PairGen.packedIdPairs, half
    // the group-key width the JFR profile pointed at) measured 0.834 s
    // warm-median vs 0.795 s for the identical sort-free plan on the
    // 4-long key (D03Probe in REMOVED_PROBES.md, relation-equal) — the
    // hash map is bound by per-row probe count, not key bytes, at this
    // pair mass. The 21%
    // that WAS on the table was the trailing ORDER BY's re-executed
    // final aggregate; the d03 ledger query now omits it (the driver
    // compare canon-sorts rows). d03 was classified done-at-floor r7-r18:
    // ~0.79 s warm against DuckDB's fused single-process 0.30 s.
    //
    // Round-19 reopened it for the 32-core cold anti-scaling (driver
    // cold 2.5 s at 32 cores vs 0.68 s at 8, PERF_r18 ratio 0.27 —
    // fleet-worst) and found the cause OUTSIDE this operator: jstack
    // sampling showed the dominant task-time sink was
    // BypassMergeSortShuffleWriter's per-reduce-partition file creates
    // (32×32 = 1,024 per exchange — quadratic in core count). Fixed at
    // the session layer (graft.GraftSession.queryPack: sort-path writer +
    // tmpfs local dirs), NOT here: d03 warm 0.76 → ~0.39-0.55 s and the
    // 8c/32c cold ratio flipped to 2.6× in favor of 32 cores. The
    // posting-list/pair-agg shape itself stands as adjudicated.
    val all = ScaleOps.spread(docs)
      .select(col(idCol), shingles(col(textCol), k).as("__sh"))
      .select(col(idCol), size(col("__sh")).cast("long").as("n_sh"),
        explode(col("__sh")).as("shingle"))
    // minDf = 2: singleton shingles (the vast majority on natural text)
    // can't pair — dropped by the window filter, so collect_list never
    // allocates a buffer for them and the old size(docs) > 1 post-filter
    // is subsumed. (Measured dead end, round 5: enforcing the df band
    // inside a single capped-collect TypedImperativeAggregate — no
    // WindowExec sort — was ~35% SLOWER: the partial→final aggregate
    // boundary serializes every group's buffer including the singleton
    // majority the window filter drops before any buffer exists.)
    val postings = Postings.dfCapped(all, "shingle", maxDf, minDf = 2)
      .groupBy("shingle")
      .agg(collect_list(struct(col(idCol).as("id"), col("n_sh").as("n"))).as("docs"))
    // Pair aggregation: the set sizes ride inside the group key (they are
    // functionally determined by the ids), so no post-join is needed to
    // compute Jaccard. (Measured alternative — grouping on ids alone and
    // broadcast-joining sizes back from a posting-derived length table —
    // was ~40% slower: the extra branch + broadcast dependency cost more
    // than the narrower key saved.)
    // Ordered-pair generation: a native generator streams each list's
    // df·(df−1)/2 pairs (min id first — canonical without a sort) in one
    // pass. The previous posexplode + slice + explode pipeline carried
    // the whole posting array through every intermediate row and
    // allocated a fresh slice per element — O(df²) element copies before
    // any pair existed (and before that, the symmetric double-explode
    // generated df² rows and filtered half away).
    // threshold-aware generation: the similarity-join length filter
    // (J ≤ min(na,nb)/max(na,nb), see PairGen.idPairs) drops pairs that
    // can never reach the threshold before they are generated — provably
    // output-identical, and the cut rows never hit the pair exchange.
    val pairs = postings
      .select(graft.functions.PairGen.idPairs(col("docs"), threshold)
        .as(Seq("a_id", "b_id", "na", "nb")))
    val common = Postings.pairAgg(pairs, "a_id", "b_id",
      Seq("na", "nb"), count(lit(1)).as("common"))
    common
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "common", "na", "nb", "jaccard")
  }
}
