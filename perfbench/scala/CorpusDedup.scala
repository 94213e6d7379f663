package graft.perfbench

import graft.Graft
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The paper's training-data pipeline: per-source near-duplicate removal
  * keeping the longest copy, union, curation (PII scrub, quality gate,
  * exact dedup, benchmark decontamination, chunking), sharded JSONL out,
  * then a vector index built and queried while appended to ([[AnnIndex]]).
  * One cycle is the whole pipeline; a run makes one, in a fresh JVM, as a
  * batch user would. */
final class CorpusDedup(ctx: Ctx) extends Workload(ctx) {
  private val m = ctx.manifest
  private val n = m.get("n").asInt
  private val tau = m.get("tau").asDouble
  private val sources = m.get("sources").elements().asScala.map(_.asText).toSeq
  private def ids(node: com.fasterxml.jackson.databind.JsonNode): Set[Long] =
    node.elements().asScala.map(_.asLong).toSet
  private val expectDedup = sources.map(s => s -> ids(m.get("expect").get("dedup").get(s))).toMap
  private val expectKept = ids(m.get("expect").get("survivors"))

  private def docs = spark.read.parquet(ctx.input(m.get("docs").asText))
  private def bench = spark.read.parquet(ctx.input(m.get("benchmark").asText)).select("text")
  private val score = length(col("text"))
  private def out(c: Int) = s"${ctx.work}/out/c$c/jsonl"
  private val budget = 1L << 20
  /** Not "id": dedupCorpusBy fails when the id column is named "id". */
  private val Id = "doc_id"

  private val tiers = scala.collection.mutable.Map.empty[String, Double]
  private val yields = scala.collection.mutable.Map.empty[String, Double]
  private var keepRatio = Double.NaN

  private val ann = new AnnIndex(this, ctx, m.get("ann"))

  override def minCycles: Int = 1

  override def pooled: Map[String, Double] = ann.pooled

  private def diff(got: Set[Long], want: Set[Long]) =
    s"${(got -- want).size} unexpected (${(got -- want).take(5)}), ${(want -- got).size} missing (${(want -- got).take(5)})"

  /** Traced twin of `dedupCorpusBy`: shingles, pairs and components are
    * each materialized at their span boundary; the keeper selection
    * repeats dedupCorpusBy's last step (longest member per component,
    * ties to the min id). */
  private def tracedDedup(s: String, df: DataFrame): DataFrame = {
    val sh = tr.span("operators.dedup.shingle") {
      val x = Dedup.shingleHashes(df, Id, "text", n).cache()
      x.count()
      x
    }
    val (tier, prefix, mass) = tr.span(s"operators.dedup.route.$s")(Dedup.jaccardRoute(sh, tau, 1 << 20))
    prefix.foreach(_.unpersist())
    tiers(s) = tier.toDouble
    val pairs = tr.span(s"operators.dedup.pairs.$s")(Dedup.ngramJaccardPairsPrefixFromHashes(sh, tau))
    val nPairs = pairs.count()
    yields(s) = if (mass > 0) nPairs.toDouble / mass else 0.0
    val comp = tr.span("operators.dedup.cc") {
      val x = Dedup.connectedComponents(pairs, "a", "b").localCheckpoint()
      x.count()
      x
    }
    sh.unpersist()
    tr.span("operators.dedup.select") {
      val members = df.select(col(Id).cast("long").as("id"), score.as("_score"))
        .join(broadcast(comp), Seq("id"))
      val winners = members.groupBy(col("comp"))
        .agg(max(struct(col("_score"), (-col("id")).as("_nid"), col("id").as("_win"))).as("_m"))
        .select(col("_m._win").as("_winner"))
      val losers = comp.select(col("id").as("_loser"))
        .join(broadcast(winners), col("_loser") === col("_winner"), "left_anti")
      val kept = df.join(broadcast(losers), col(Id).cast("long") === col("_loser"), "left_anti")
        .drop("_loser").cache()
      val got = kept.select(Id).collect().map(_.getLong(0)).toSet
      check(got == expectDedup(s), s"traced $s dedup survivors differ: ${diff(got, expectDedup(s))}")
      kept
    }
  }

  def cycle(c: Int): Map[String, Double] = {
    val path = out(c)
    deleteTree(out(c - 1))
    val (_, corpusS) = timed(op(s"c$c corpus job") {
      val all = docs
      val deduped = sources.map { s =>
        val part = all.where(col("source") === s).select(Id, "text")
        if (tr.enabled) tracedDedup(s, part)
        else Graft.dedupCorpusBy(part, Id, "text", score, n, tau)
      }
      val union = deduped.reduce(_ unionByName _)
      val curated =
        if (!tr.enabled) Graft.curateCorpus(union, Id, "text", bench)
        else tr.span("operators.curation") {
          val x = Graft.curateCorpus(union, Id, "text", bench).cache()
          x.count()
          x
        }
      tr.span("sinks.jsonl")(Graft.writeJsonl(curated, path, Seq(Id, "chunk_idx"), budget))
      if (tr.enabled) {
        keepRatio = curated.select(Id).distinct().count().toDouble / union.count()
        curated.unpersist()
        deduped.foreach(_.unpersist())
      }
    })
    // output check: the ids on disk are exactly the planted survivors
    op(s"c$c survivor check") {
      val got = Graft.readJsonl(spark, path)
        .select(get_json_object(col("value"), "$." + Id).cast("long").as("id"))
        .distinct().collect().map(_.getLong(0)).toSet
      check(got == expectKept, s"c$c curated survivors differ: ${diff(got, expectKept)}")
    }
    val (buildS, appendS, annS) = ann.run(c)
    Map("cycle_s" -> (corpusS + annS), "corpus_s" -> corpusS, "ann_s" -> annS,
      "ann_build_s" -> buildS, "ann_append_s" -> appendS)
  }

  override def layerExtra(spans: Seq[Span]): Map[String, Double] = {
    def sum(prefix: String)(f: Span => Double) = Layers.named(spans, prefix).map(f).sum
    ann.layerExtra(spans) ++ sources.flatMap { s =>
      Seq(
        s"operators.dedup.pairs_s.$s" -> sum(s"operators.dedup.pairs.$s")(_.wallS),
        s"operators.dedup.pairs_shuffle_mb.$s" ->
          sum(s"operators.dedup.pairs.$s")(x => Layers.mb(x.c.shuffleWriteBytes)),
        s"operators.dedup.tier.$s" -> tiers.getOrElse(s, Double.NaN),
        s"operators.dedup.pair_yield.$s" -> yields.getOrElse(s, Double.NaN))
    }.toMap ++ Map(
      "operators.dedup.shingle_s" -> sum("operators.dedup.shingle")(_.wallS),
      "operators.dedup.cc_s" -> sum("operators.dedup.cc")(_.wallS),
      "operators.dedup.spill_mb" -> sum("operators.dedup")(x => Layers.mb(x.c.spillBytes)),
      "operators.curation.s" -> sum("operators.curation")(_.wallS),
      "operators.curation.shuffle_mb" -> sum("operators.curation")(x => Layers.mb(x.c.shuffleWriteBytes)),
      "operators.curation.keep_ratio" -> keepRatio,
      "sinks.jsonl.s" -> sum("sinks.jsonl")(_.wallS))
  }
}
