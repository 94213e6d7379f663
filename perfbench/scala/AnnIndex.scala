package graft.perfbench

import graft.operators.{Similarity, VectorIndex}
import com.fasterxml.jackson.databind.JsonNode

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The similarity-search end of the corpus pipeline: an IVF-PQ (residual
  * OPQ) index built fresh, then queried while it is appended to — a query
  * pass, an append batch with vectors planted next to the queries, and a
  * second query pass, every probe collected before the next one. Probes
  * are several small Spark jobs each, so this phase is driver- and
  * scheduling-bound. */
final class AnnIndex(w: Workload, ctx: Ctx, m: JsonNode) {
  import w.{spark, tr}

  private val k = m.get("k").asInt
  private val nprobe = m.get("nprobe").asInt
  private val shortlist = m.get("shortlist").asInt
  private val clusters = m.get("clusters").asInt
  private val queries: Seq[Seq[Double]] =
    m.get("queries").elements().asScala.map(_.elements().asScala.map(_.asDouble).toSeq).toSeq
  private val batch = ctx.input(m.get("batch").asText)
  /** Exact top-10 per query before (0) and after (1) the append. */
  private val truth: Seq[Seq[Set[Long]]] = m.get("expect").get("top10").elements().asScala
    .map(_.elements().asScala.map(_.elements().asScala.map(_.asLong).toSet).toSeq).toSeq
  private val planted: Seq[(Int, Long)] = m.get("expect").get("planted").elements().asScala
    .map(p => (p.get(0).asInt, p.get(1).asLong)).toSeq
  private def base = spark.read.parquet(ctx.input(m.get("base").asText))

  val latMs = mutable.ArrayBuffer.empty[Double]
  val recalls = mutable.ArrayBuffer.empty[Double]
  private var indexMb = Double.NaN

  private def build(path: String): Unit = {
    val df = base
    val cents = tr.span("operators.similarity.kmeans")(Similarity.kMeans(df, "id", "vec", clusters, 4))
    val opq = tr.span("operators.opq.train") {
      VectorIndex.trainResidualOpq(df, "id", "vec", cents, m = 8, k = 32,
        lloydIters = 4, opqIters = 2, maxSample = 2048)
    }
    tr.span("operators.vectorindex.write") {
      VectorIndex.writeIvfPqOpq(df, "id", "vec", cents, opq, path, residual = true)
    }
  }

  private def queryPass(c: Int, path: String, state: Int): Map[Int, Array[Long]] =
    queries.zipWithIndex.flatMap { case (q, qi) =>
      val (res, t) = w.timed(w.op(s"c$c query $qi") {
        tr.span("operators.vectorindex.probe") {
          VectorIndex.ivfTopKPq(spark, path, "id", "vec", q, nprobe, k, shortlist)
            .select("id").collect().map(_.getLong(0))
        }
      })
      latMs += t * 1e3
      res.map { ids =>
        w.check(ids.length == k && ids.distinct.length == k, s"c$c query $qi returned ${ids.length} ids")
        recalls += ids.count(truth(state)(qi)).toDouble / k
        qi -> ids
      }
    }.toMap

  /** Build, query, append, query; returns (build s, append s, total s). */
  def run(c: Int): (Double, Double, Double) = {
    val path = s"${ctx.work}/index-c$c"
    w.deleteTree(s"${ctx.work}/index-c${c - 1}")
    val t0 = System.nanoTime()
    val (_, buildS) = w.timed(w.op(s"c$c index build")(build(path)))
    indexMb = Layers.mb(w.dirBytes(path).toDouble)
    queryPass(c, path, 0)
    val (_, appendS) = w.timed(w.op(s"c$c append") {
      tr.span("operators.vectorindex.append") {
        VectorIndex.appendIvfPq(spark.read.parquet(batch), "id", "vec", path)
      }
    })
    val got = queryPass(c, path, 1)
    // every vector planted next to a query must come back for that query
    planted.foreach { case (qi, id) =>
      got.get(qi).foreach(ids => w.check(ids.contains(id), s"c$c query $qi misses appended neighbour $id"))
    }
    (buildS, appendS, (System.nanoTime() - t0) / 1e9)
  }

  def pooled: Map[String, Double] = Map(
    "ann_query_p50_ms" -> Stats.percentile(latMs.toSeq, 50),
    "ann_queries" -> latMs.size.toDouble,
    "ann_recall_at_10" -> (if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size))

  def layerExtra(spans: Seq[Span]): Map[String, Double] = {
    def sum(prefix: String)(f: Span => Double) = Layers.named(spans, prefix).map(f).sum
    val probes = Layers.named(spans, "operators.vectorindex.probe")
    def p50(f: Span => Double) = Stats.median(probes.map(f))
    Map(
      "operators.similarity.kmeans_s" -> sum("operators.similarity.kmeans")(_.wallS),
      "operators.opq.train_s" -> sum("operators.opq.train")(_.wallS),
      "operators.vectorindex.write_s" -> sum("operators.vectorindex.write")(_.wallS),
      "operators.vectorindex.write_mb" -> indexMb,
      "operators.vectorindex.append_s" -> sum("operators.vectorindex.append")(_.wallS),
      "operators.vectorindex.probe.jobs" -> p50(_.c.jobs.toDouble),
      "operators.vectorindex.probe.driver_ms" -> p50(_.driverS * 1e3),
      "operators.vectorindex.probe.task_ms" -> p50(_.c.taskMs.toDouble),
      "operators.vectorindex.probe.rows_scanned" -> p50(_.c.recordsRead.toDouble),
      "operators.vectorindex.probe.mb_read" -> p50(s => Layers.mb(s.c.bytesRead)))
  }
}
