package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism guard for compute-bound passes.
  *
  * Local corpus files often arrive as ONE split (a single parquet row
  * group, a gzipped CSV), which pins every downstream projection/explode to
  * one core until the first shuffle — Spark cannot re-split a partition
  * mid-stage. Operators whose leading stage is CPU-heavy (regex scrubbing,
  * n-gram explosion, vector math) fan their input out to the session
  * default parallelism first; inputs that already have enough partitions
  * pass through untouched, so on a real cluster — where a 100 TB table
  * arrives as thousands of splits — this is a no-op, and the operators'
  * shuffle topology claims hold exactly as documented. The same guard
  * already existed ad hoc in Dedup.shingleHashes and SimHash; this is the
  * shared form. [[forSelfJoin]] is the matching guard for banded
  * self-joins, whose output dwarfs their input.
  */
object Par {

  /** `df`, repartitioned to the session default parallelism iff it
    * currently has fewer partitions (one narrow round-robin exchange of
    * exactly the columns the caller selected); unchanged otherwise.
    *
    * The partition count comes from the NON-adaptive physical plan's RDD
    * DAG, which is built without materializing anything. The obvious
    * probe — `df.rdd.getNumPartitions` — goes through
    * AdaptiveSparkPlanExec under AQE, which MATERIALIZES every query
    * stage below the probe point to answer: harmless for the usual
    * scan+project input, but an input carrying an upstream exchange would
    * silently execute that whole shuffle once just to be counted (and a
    * LocalRelation input gets constant-folded on the driver per probe).
    * If the DAG cannot be built outside AQE the input passes through
    * unchanged — losing a fan-out is harmless next to shrinking an
    * already-wide input or executing it early. */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case scala.util.control.NonFatal(_) => par }
    if (parts < par) df.repartition(par) else df
  }

  /** `exploded` (one row per (key, member) of a bucketed self-join),
    * ready to be joined with itself on `keys`: repartitioned on the keys
    * to mass / `rowsPerTask` tasks, or unchanged when the default AQE plan
    * already runs the join well. `mass` is the join's meet mass Σ C(df, 2)
    * and `explodedRows` the row count of `exploded`.
    *
    * Why repartition at all: AQE sizes the join's exchange by map-output
    * BYTES, and a banded/blocked table is a few MB, so the default join
    * coalesces to ~1 task streaming the whole meet volume. A user-numbered
    * repartition is never coalesced, the self-join reuses its
    * distribution (one exchange, ReuseExchange across both sides), and
    * the result stays a lazy plan.
    *
    * Why skip it: when the mass fits both the default parallelism and the
    * task count the DEFAULT plan would provide — estimated from
    * `explodedRows` × ~16 B/row against the AQE advisory partition size —
    * the default plan is already optimal and the finer blocks only cost
    * (round 14: q140 8.2 → 15.2 s, q143 6.7 → 8.3 s at sf10 with the
    * repartition always on). Comparing against the parallelism alone
    * (round 14) regressed q97 ~30 % at sf1 (skip 2.49 s vs repartition
    * 1.73-1.99 s, paired A/B/A/B at matched calib); with the byte
    * estimate (round 15) sf10 measured q140 8.7 s skip vs 10.0 s
    * repartition and q143/q153/q97 at parity. */
  def forSelfJoin(
      exploded: DataFrame, mass: Long, explodedRows: Long,
      keys: Column*): DataFrame = {
    val spark = exploded.sparkSession
    val rowsPerTask = 2L * 1000 * 1000
    val advisory = spark.conf
      .getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(64L * 1024 * 1024)
    val estDefaultTasks = math.max(1L, explodedRows * 16L / advisory)
    val skip = mass <= rowsPerTask *
      math.min(spark.sparkContext.defaultParallelism.toLong, estDefaultTasks)
    if (skip) exploded
    else exploded.repartition(
      GraftSession.iterPartitions(spark, mass, rowsPerTask), keys: _*)
  }
}
