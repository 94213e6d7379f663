package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash near-duplicate detection.
  *
  * Each document's simhash is the sign-vector of per-bit vote sums over its
  * token hashes (+1 if the token hash has the bit set, else -1). Documents
  * within Hamming distance `maxHamming` are near-duplicates.
  *
  * Scale design (SURVEY §4): the signature is computed in a SINGLE
  * narrow pass — one `mapPartitions` over (id, text), no token explode, no
  * shuffle, no aggregation. (The previous declarative form — explode +
  * 64 sum(when) aggregates — shuffled one 64-counter row per doc and paid
  * interpreted aggregate updates per token×bit; the fused loop is ~100×
  * cheaper and embarrassingly parallel.) Pair generation uses the pigeonhole
  * block trick: the 64-bit hash splits into 4 blocks of 16 — any pair within
  * Hamming <= 3 agrees on at least one whole block, so candidates come from
  * an equi-join on (block index, block value), never a cross join.
  */
object SimHash {

  /** Token hash identical to Spark SQL's `xxhash64(token)` (seed 42). */
  private[operators] def tokenHash(tok: String): Long = {
    val u = UTF8String.fromString(tok)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Simhash of a whitespace-tokenized text (same tokens as
    * `split(trim(text), "\\s+")`). */
  private[operators] def simhashOf(text: String): Long = {
    val votes = new Array[Int](64)
    val toks = text.trim.split("\\s+")
    var t = 0
    while (t < toks.length) {
      val h = tokenHash(toks(t))
      var i = 0
      while (i < 64) {
        votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sim |= (1L << i)
      i += 1
    }
    sim
  }

  /** (_id, simhash long) per document — one fused pass. The input is
    * repartitioned to default parallelism first: local single-file corpora
    * otherwise run this CPU-bound pass on one core. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        // null text emits nothing — the SQL twin's explode(null) semantics
        if (text == null) Iterator.empty
        else Iterator.single((id, simhashOf(text)))
      })
      .toDF("_id", "simhash")
  }

  /** Near-dup pairs (a < b) with Hamming distance <= maxHamming (<= 3:
    * the 4x16 pigeonhole guarantee covers up to 3; wider thresholds would
    * need more blocks). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame =
    hammingPairs(simhashes(df, idCol, textCol), maxHamming)

  /** Pigeonhole hamming-pair join over ANY 64-bit signature table
    * `(_id, simhash)` — the banding core shared by text simhash and
    * [[graft.multimodal.Binary.perceptualNearDups]]'s perceptual aHash:
    * 4 blocks of 16 bits, candidates from an equi-join on (block, value)
    * (any pair within hamming <= 3 agrees on a whole block), exact
    * `bit_count` verify after. Never a cross join, and no dedupe
    * exchange either (round 8): a pair agreeing on several blocks —
    * EVERY pair of near-identical signatures agrees on all four — is
    * kept only in the FIRST shared block, decided arithmetically from
    * the two signatures already in the joined row (the q87/q74
    * discipline), where the old `.distinct()` shuffled each such
    * candidate four times with both signatures aboard.
    *
    * Stage sizing (round 13, the [[graft.operators.Dedup.densePairCounts]]
    * lesson applied to its last remaining instance — but via PLAN shape,
    * not conf scoping): the banding self-join's map output is 4 rows ×
    * 24 bytes per signature, but each (blk, bv) bucket of df rows
    * generates C(df, 2) candidate pairs INSIDE the join task — output ≫
    * input, so AQE (which coalesces by map-output bytes) collapses the
    * stage to ~cores tasks and each task streams the whole band meet
    * volume. The band meet mass Σ_buckets C(df, 2) is known exactly from
    * one aggregate over the 4N blocked rows (the signature table is
    * already checkpointed, so the probe is one cheap job), and the join
    * runs at mass / 2M tasks by REPARTITIONING the blocked table on the
    * join keys with an explicit partition count: AQE never coalesces a
    * user-numbered repartition, the self-join reuses its partitioning
    * (one exchange, ReuseExchange across the two sides, zero extra
    * shuffles), and the result stays a LAZY plan — the r13 first cut
    * materialized the pair list inside a conf-pinned scope instead, and
    * checkpointing 344M pairs at sf30 doubled q153's wall. Small meet
    * masses skip the repartition ([[graft.core.Par.forSelfJoin]]). Per-bucket
    * skew caveat (same as densePairCounts): one bucket's pairs cannot
    * split across tasks, so a single saturated 16-bit bucket still
    * bounds a task at C(df_max, 2) pairs. */
  def hammingPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4 blocks of 16 bits guarantee recall only for hamming <= 3")
    def block(c: Column, j: Int): Column =
      shiftrightunsigned(c, j * 16).bitwiseAND(0xFFFFL)
    val blocks = array((0 until 4).map { j =>
      shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(0xFFFFL)
    }: _*)
    // Materialize the signature table BEFORE the self-join: the two join
    // sides are separate lambda instances to Catalyst (mapPartitions
    // closures never canonicalize equal), so ReuseExchange cannot fire
    // and an expensive sig subtree — a full image decode for the
    // perceptual callers, a corpus hash pass for text — would run TWICE
    // (plan-verified: q145's executed plan carried two complete decode
    // subtrees, zero ReusedExchange). Sixteen bytes per row.
    val s = sig.select(col("_id"), col("simhash")).localCheckpoint()
    val blocked = s.select(col("_id"), col("simhash"), posexplode(blocks).as(Seq("blk", "bv")))
    val mass = blocked.groupBy("blk", "bv").agg(count(lit(1)).as("_df"))
      .agg(coalesce(sum(expr("(_df * (_df - 1)) DIV 2")), lit(0L)))
      .head().getLong(0)
    // repartition on the join keys unless the default plan already runs
    // the join well (the shared skip gate; s is checkpointed: cheap count)
    val bx = graft.core.Par.forSelfJoin(blocked, mass, 4L * s.count(),
      col("blk"), col("bv"))
    val firstShared = !(0 until 3).map { j =>
      (col("x.blk") > j) &&
        (block(col("x.simhash"), j) === block(col("y.simhash"), j))
    }.reduce(_ || _)
    bx.as("x").join(bx.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x._id") < col("y._id"))
      .where(firstShared)
      .select(col("x._id").as("a"), col("y._id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
