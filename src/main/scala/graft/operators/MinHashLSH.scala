package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash signatures + LSH banding for near-duplicate candidate generation.
  *
  * Scale design (SURVEY §4): the k=64 signature is computed in ONE pass over
  * the hashed shingles — 64 `min(xxhash64(seed_i, sh))` aggregate
  * expressions with map-side partial aggregation, so the shuffle carries one
  * 64-long row per doc, not the shingles. Each permutation re-hashes the
  * 8-byte base shingle hash (one codegen'd hashLong round), never the
  * string. Banding emits b rows per doc (not k), candidate generation is an
  * equi-join on (band, band_hash) buckets — never a cross join — and only
  * candidate pairs are re-joined against the hashed shingle sets for exact
  * Jaccard verification.
  */
object MinHashLSH {

  /** (id, signature array) — one row per doc, k minhash values, with the
    * PER-PERMUTATION MIX INJECTED (`perm(i, shCol)` = the i-th
    * permutation's image of a shingle token): the exact same one-pass
    * k-min aggregate as [[signatures]], exposed so a caller (q162's
    * full-oracle gate) can plant engine-replicable mixes — the q157/q158
    * recipe applied to the MinHash family. */
  def signaturesWith(
      shingleHashes: DataFrame, k: Int,
      perm: (Int, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
      : DataFrame = {
    val mins = (0 until k).map(i => min(perm(i, col("sh"))).as(s"_h$i"))
    shingleHashes.groupBy("_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("_id"), array((0 until k).map(i => col(s"_h$i")): _*).as("sig"))
  }

  /** (id, signature array<long>) — one row per doc, k minhash values.
    * `shingleHashes` must be (_id, sh) distinct rows (Dedup.shingleHashes). */
  def signatures(shingleHashes: DataFrame, k: Int): DataFrame =
    signaturesWith(shingleHashes, k, (i, sh) => xxhash64(lit(i), sh))

  /** [[candidatePairs]] with the BAND BUCKET KEY INJECTED
    * (`bandKey(j, slice)` = the bucket id of band j's signature slice):
    * identical banding topology — b rows per doc, equi-join on
    * (band, bucket), one row per candidate pair — under any
    * engine-replicable key.
    *
    * Stage sizing (round 14, the [[SimHash.hammingPairs]] discipline
    * applied to its last remaining instance): each (band, bucket) of df
    * rows generates C(df, 2) pairs INSIDE the join task — output ≫
    * map-output bytes, so AQE (which coalesces by map bytes) would
    * collapse the stage to ~cores tasks streaming the whole band meet
    * volume. The meet mass Σ C(df, 2) comes from one aggregate over the
    * b·N banded rows (the band table is checkpointed first, so the probe
    * is one cheap job — and the checkpoint also keeps the signature
    * subtree, an md5-vocab aggregate for q162, from executing on both
    * sides of the self-join), and when the mass wants more tasks than
    * the default parallelism the banded table is repartitioned on the
    * join keys with an explicit user-numbered count AQE never coalesces;
    * the self-join reuses that distribution (one exchange, zero extras)
    * and the result stays a LAZY plan. Small corpora skip the
    * repartition — the default AQE plan was already optimal there and
    * the finer blocks only cost (the gate is [[graft.core.Par.forSelfJoin]],
    * shared with SimHash).
    *
    * Dedup is arithmetic, not an exchange: a pair sharing several band
    * buckets is kept only in the FIRST shared band, decided from the two
    * band arrays already aboard the joined row (the q87/q74/SimHash
    * discipline) — the old `.distinct()` re-shuffled every multi-band
    * pair b times. Per-bucket skew caveat (same as densePairCounts):
    * one bucket's C(df, 2) pairs cannot split across tasks. */
  def candidatePairsWith(
      sigs: DataFrame, bands: Int, rowsPerBand: Int,
      bandKey: (Int, Seq[org.apache.spark.sql.Column]) => org.apache.spark.sql.Column)
      : DataFrame = {
    val bandHashes = array((0 until bands).map { j =>
      val slice = (0 until rowsPerBand).map(r => col("sig").getItem(j * rowsPerBand + r))
      bandKey(j, slice)
    }: _*)
    val s = sigs.select(col("_id"), bandHashes.as("_bands")).localCheckpoint()
    val banded = s.select(col("_id"), col("_bands"),
      posexplode(col("_bands")).as(Seq("band", "bh")))
    val mass = banded.groupBy("band", "bh").agg(count(lit(1)).as("_df"))
      .agg(coalesce(sum(expr("(_df * (_df - 1)) DIV 2")), lit(0L)))
      .head().getLong(0)
    // the shared skip gate (s checkpointed: cheap count)
    val bx = graft.core.Par.forSelfJoin(banded, mass, bands.toLong * s.count(),
      col("band"), col("bh"))
    // "shared earlier band" must mean exactly "the equi-join at that band
    // would have matched" — plain (null-rejecting) equality, coalesced to
    // false so a null key can never veto the whole predicate
    val firstShared =
      if (bands == 1) lit(true)
      else !(0 until bands - 1).map { j =>
        coalesce(col("x.band") > j &&
          col("x._bands").getItem(j) === col("y._bands").getItem(j), lit(false))
      }.reduce(_ || _)
    bx.as("x").join(bx.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x._id") < col("y._id"))
      .where(firstShared)
      .select(col("x._id").as("a"), col("y._id").as("b"))
  }

  /** Candidate pairs (a < b) sharing at least one LSH band bucket.
    * bands * rowsPerBand must equal the signature length. */
  def candidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    candidatePairsWith(sigs, bands, rowsPerBand,
      (j, slice) => xxhash64((lit(j) +: slice): _*))

  /** End-to-end near-dup pairs: MinHash/LSH candidates, then exact Jaccard
    * verification (>= tau) against the shingle sets. */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, tau: Double): DataFrame = {
    // materialize the (edge-bounded) pair list, then release the shingle
    // cache — a lazily returned plan over it would leak the cache into the
    // session (the ADVICE r5 class; see Dedup.ngramJaccardPairs)
    val sh = Dedup.shingleHashes(df, idCol, textCol, n).cache()
    val out = nearDupPairsFromHashes(sh, k, bands, tau).localCheckpoint()
    sh.unpersist()
    out
  }

  /** [[nearDupPairs]] over a precomputed (_id, sh) intermediate (caller
    * controls caching — see [[graft.Graft.dedupSuite]]). */
  def nearDupPairsFromHashes(
      sh: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    verifiedPairs(sh, candidatePairs(signatures(sh, k), bands, k / bands), tau)
  }

  /** The MinHash band/verify machinery under PLANTED md5 mixes — q162's
    * full-oracle twin of q32 (the q156-q160 discipline: the trained/
    * seeded key stays rows-only by nature, the planted sibling puts the
    * SAME machinery under a rows+schema+hash gate). `sh` holds (_id, sh)
    * with sh = the raw shingle STRING (not an xxhash64 token, which no
    * second engine reproduces): permutation i is the lexicographic order
    * of `md5(sh || ':' || i)` and band j's bucket key the '|'-join of its
    * slice — both byte-replicable in any engine with md5 (lowercase-hex
    * min/concat is plain binary string arithmetic). Same one-pass k-min
    * signature aggregate ([[signaturesWith]]), same (band, bucket)
    * equi-join topology ([[candidatePairsWith]]), same exact-Jaccard
    * verification join ([[verifiedPairs]]) as the production path. */
  def nearDupPairsMd5(
      sh: DataFrame, k: Int, bands: Int, tau: Double): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // Evaluate the shingle subtree ONCE at full width (round 14): `sh`
    // arrives as a lazy explode over the corpus scan — parquet-split
    // parallelism (2 tasks at sf1) — and this operator consumes it FOUR
    // times (signatures, verify x/y, sizes). The uncached form re-ran
    // the ~45 s two-task explode for every consumer: the whole 64.8 s
    // sf1 wall the round-13 board pinned on md5 was actually explode
    // re-evaluation at split-bound width (ProbeStages r14). fanOut
    // spreads the explode across every core; the checkpoint caps it at
    // one evaluation.
    //
    // The md5 mix itself stays INLINE in the min aggregate — a
    // vocab×k-digest join was probed and REVERTED (r14): shingle rows
    // arrive doc-major, so the inline partial aggregate collapses to
    // one row per doc per task (~80 MB shuffle at sf10), while joining
    // digest arrays back onto occurrence rows re-keys them by SHINGLE —
    // the partial agg then barely reduces and the shuffle carries
    // occurrences × 8 hex digests (9.3 GB shuffle, 8.7 GB spill,
    // 1137 s at sf10 vs zero spill inline). k md5 rounds per occurrence
    // are ~2 µs of codegen'd CPU each — the cheap side of the trade.
    val s = graft.core.Par.fanOut(sh).localCheckpoint()
    val sigs = signaturesWith(s, k,
      (i, c) => md5(concat(c, lit(":" + i))))
    val cands = candidatePairsWith(sigs, bands, k / bands,
      (_, slice) => concat_ws("|", slice: _*))
    verifiedPairs(s, cands, tau)
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — the shared tail of every MinHash path (token-type agnostic:
    * the counting join only needs equality on `sh`). */
  private def verifiedPairs(
      sh: DataFrame, cands: DataFrame, tau: Double): DataFrame = {
    val sizes = sh.groupBy("_id").agg(count(lit(1)).as("sz"))
    val common = cands
      .join(sh.as("x"), col("a") === col("x._id"))
      .join(sh.as("y"), col("b") === col("y._id") && col("x.sh") === col("y.sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("_id", "a").withColumnRenamed("sz", "sa"), "a")
      .join(sizes.withColumnRenamed("_id", "b").withColumnRenamed("sz", "sb"), "b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa") + col("sb") - col("common")))
      .where(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }
}
