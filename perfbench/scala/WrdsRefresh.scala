package graft.perfbench

import graft.Graft
import graft.pipeline.Update
import graft.sinks.{JdbcSink, ParquetSink, PgCopy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The reference's own job: an incremental SAS → Parquet / PostgreSQL / CSV
  * refresh of a CRSP/Compustat-shaped library. The initial load (every
  * table stale) runs once; each cycle is then a scheduled refresh: a noop
  * pass (same stamps), a partial pass (a seeded quarter of the tables
  * restamped) and a read (as-of join of two refreshed Parquet outputs). */
final class WrdsRefresh(ctx: Ctx) extends Workload(ctx) {

  final case class Table(
      lib: String, name: String, fmt: String, file: String, bytes: Long, ddl: String,
      drop: Option[String], keep: Option[String], rename: Option[String],
      where: Option[String], colTypes: Map[String, String], sinks: Seq[String],
      stamp0: String, epoch0: Long, cycleStamps: Seq[String], cycleEpochs: Seq[Long],
      stale: Boolean, rows: Long, columns: Seq[String], nulls: Map[String, Long]) {
    /** The source stamp after refresh cycle `c` (-1: the initial load). */
    def stampAt(c: Int): String = if (c < 0 || !stale) stamp0 else cycleStamps(c)
    def epochAt(c: Int): Long = if (c < 0 || !stale) epoch0 else cycleEpochs(c)
  }

  private val m = ctx.manifest
  private def opt(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
    Option(n.get(k)).filter(!_.isNull).map(_.asText())

  val tables: Seq[Table] = m.get("tables").elements().asScala.map { t =>
    val ex = t.get("extract")
    val exp = t.get("expect")
    Table(
      t.get("lib").asText, t.get("name").asText, t.get("fmt").asText,
      ctx.input(t.get("file").asText), t.get("bytes").asLong, t.get("ddl").asText,
      opt(ex, "drop"), opt(ex, "keep"), opt(ex, "rename"), opt(ex, "where"),
      Option(ex.get("colTypes")).map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
        .getOrElse(Map.empty),
      t.get("sinks").elements().asScala.map(_.asText).toSeq,
      t.get("stamp0").asText, t.get("epoch0").asLong,
      t.get("cycle_stamps").elements().asScala.map(_.asText).toSeq,
      t.get("cycle_epochs").elements().asScala.map(_.asLong).toSeq,
      t.get("stale").asBoolean, exp.get("rows").asLong,
      exp.get("columns").elements().asScala.map(_.asText).toSeq,
      exp.get("nulls").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
  }.toSeq
  private val byName = tables.map(t => t.name -> t).toMap
  private val asof = m.get("asof")

  private val sock = ctx.pgSocket.getOrElse(throw new IllegalArgumentException("wrds_refresh needs --pg-socket"))
  val psql: Seq[String] = Seq("psql", "-X", "-h", sock, "-U", "nobody", "-d", "postgres")

  private val out = s"${ctx.work}/out"
  private def pqPath(t: Table) = s"$out/pq/${t.lib}/${t.name}"
  private def csvPath(t: Table) = s"$out/csv/${t.lib}/${t.name}"
  private def stagePath(t: Table, c: Int, pass: Int) = s"$out/stage/c$c/${t.lib}.${t.name}.p$pass"

  /** The user's source expression: SAS read + dataset options. */
  def source(t: Table): DataFrame = {
    val raw =
      if (t.fmt == "sas7bdat") Graft.readSas7bdat(spark, t.file)
      else Graft.readSasCsv(spark, t.file, StructType.fromDDL(t.ddl), fixMissing = true, fixCr = true)
    Graft.extract(raw, drop = t.drop, keep = t.keep, rename = t.rename, where = t.where,
      colTypes = t.colTypes)
  }

  private def update(t: Table, sink: String, stamp: String, c: Int, pass: Int,
      src: => DataFrame): Update.Outcome = sink match {
    case "parquet" => Graft.updateParquet(spark, src, pqPath(t), stamp)
    case "pg" => Graft.updatePg(src, JdbcSink.PgTarget("", "nobody", "", t.lib, t.name), stamp,
      psql, stagePath(t, c, pass))
    case "csv" => Graft.updateCsv(spark, src, csvPath(t), stamp)
  }

  /** Traced form of one `update*` call: the stamp check, the source and the
    * sink each in their own span, the source materialized at its boundary.
    * The sink span's call re-reads the stamp once more before writing. */
  private def tracedUpdate(t: Table, sink: String, stamp: String, c: Int, pass: Int): Update.Outcome = {
    val existing: Option[String] = tr.span(s"pipeline.check.$sink") {
      sink match {
        case "parquet" => Some(ParquetSink.getModified(spark, pqPath(t))).filter(_.nonEmpty)
        case "pg" => PgCopy.tableComment(psql, t.lib, t.name)
        case "csv" => Update.csvModified(csvPath(t))
      }
    }
    if (existing.contains(stamp)) Update.UpToDate
    else {
      val df = tr.span(s"sources.${if (t.fmt == "sas7bdat") "sas7bdat" else "sas_csv"}") {
        val d = source(t).cache()
        d.count()
        d
      }
      try tr.span(s"sinks.$sink")(update(t, sink, stamp, c, pass, df))
      finally { df.unpersist(); () }
    }
  }

  /** One pass over every (table, sink) with the sources stamped as after
    * cycle `c`; `want` is the expected outcome per table. Returns the
    * rebuilt count and each call's sink and wall. */
  private def pass(c: Int, pass: Int, want: Table => Update.Outcome): (Int, Seq[(String, Double)]) = {
    var rebuilt = 0
    val calls = for (t <- tables; sink <- t.sinks) yield {
      val stamp = t.stampAt(c)
      val (res, s) = timed(op(s"c$c pass$pass ${t.lib}.${t.name} -> $sink") {
        if (tr.enabled) tracedUpdate(t, sink, stamp, c, pass)
        else update(t, sink, stamp, c, pass, source(t))
      })
      res.foreach { o =>
        if (o == Update.Updated) rebuilt += 1
        check(o == want(t), s"c$c pass$pass ${t.lib}.${t.name} -> $sink: $o, expected ${want(t)}")
      }
      sink -> s
    }
    (rebuilt, calls)
  }

  private def asOf(c: Int): Option[Row5] = {
    val l = byName(asof.get("left").asText)
    val r = byName(asof.get("right").asText)
    val key = asof.get("key").asText
    op(s"c$c as-of join") {
      tr.span("plans.asof") {
        val left = spark.read.parquet(pqPath(l)).select(key, asof.get("left_time").asText, "prc")
        val right = spark.read.parquet(pqPath(r))
        val j = graft.operators.AsOfJoin.leftAsOfNative(left, right, key, key,
          asof.get("left_time").asText, asof.get("right_time").asText, Seq("rdq", "atq", "niq"))
        val row = j.agg(count(lit(1)), count(col("rdq")), count(col("atq")),
          sum(col("atq")), sum(col("niq"))).head()
        Row5(row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3), row.getDouble(4))
      }
    }
  }

  final case class Row5(rows: Long, matched: Long, atqNonNull: Long, sumAtq: Double, sumNiq: Double)

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private var initial: Map[String, Double] = Map.empty

  /** The initial load: every table into every sink, then every output
    * checked. */
  override def prepare(): Unit = {
    PgCopy.runSql(psql, "SELECT 1")
    val (_, calls) = pass(-1, 1, _ => Update.Updated)
    val loadS = calls.map(_._2).sum
    note(f"initial load $loadS%.3f s")
    tables.foreach(t => checkOutputs(t, -1))
    initial = Map(
      "refresh_load_s" -> loadS,
      "sinks.parquet.write_amp" ->
        tables.map(t => dirBytes(pqPath(t)).toDouble).sum / tables.map(_.bytes.toDouble).sum,
      "sinks.pg.staged_mb" -> Layers.mb(tables.map(t => dirBytes(stagePath(t, -1, 1)).toDouble).sum))
    deleteTree(s"$out/stage")
  }

  // the JIT is still warming over the first cycles; the median of four
  // sits past most of that ramp
  override def minCycles: Int = 4
  override def hasCycle(i: Int): Boolean = i < tables.head.cycleStamps.size

  override def pooled: Map[String, Double] = initial

  def cycle(c: Int): Map[String, Double] = {
    // pass 2: the sources are as the previous cycle left them
    val (noopRebuilt, noopCalls) = pass(c - 1, 2, _ => Update.UpToDate)
    val noopS = noopCalls.map(_._2).sum
    // pass 3: the stale quarter carries a newer stamp
    val (partialRebuilt, partialCalls) =
      pass(c, 3, t => if (t.stale) Update.Updated else Update.UpToDate)
    val partialS = partialCalls.map(_._2).sum
    val (got, asofS) = timed(asOf(c))
    // output checks, outside the timed passes
    got.foreach { g =>
      val e = asof.get("expect")
      check(g.rows == e.get("rows").asLong && g.matched == e.get("matched").asLong &&
        g.atqNonNull == e.get("atq_nonnull").asLong && close(g.sumAtq, e.get("sum_atq").asDouble) &&
        close(g.sumNiq, e.get("sum_niq").asDouble), s"c$c as-of checksum $g, expected $e")
    }
    tables.filter(_.stale).foreach(t => checkOutputs(t, c))
    deleteTree(s"$out/stage")
    val staleCalls = tables.filter(_.stale).map(_.sinks.size).sum
    val checkMs = Seq("parquet", "pg", "csv").map { s =>
      s"pipeline.check_ms.$s" -> Stats.median(noopCalls.filter(_._1 == s).map(_._2 * 1e3))
    }.toMap
    Map(
      "cycle_s" -> (noopS + partialS + asofS),
      "refresh_noop_ms" -> noopS * 1e3, "refresh_partial_s" -> partialS, "asof_s" -> asofS,
      "pipeline.rebuilt_ratio" -> partialRebuilt.toDouble / staleCalls,
      "pipeline.noop_rebuilt" -> noopRebuilt.toDouble) ++ checkMs
  }

  override def layerExtra(spans: Seq[Span]): Map[String, Double] = {
    def sum(prefix: String)(f: Span => Double) = Layers.named(spans, prefix).map(f).sum
    def p50(prefix: String) = Stats.median(Layers.named(spans, prefix).map(_.wallS * 1e3))
    Map(
      "sources.sas_csv.task_s" -> sum("sources.sas_csv")(_.taskS),
      "sources.sas_csv.mb_read" -> sum("sources.sas_csv")(s => Layers.mb(s.c.bytesRead)),
      "sources.sas7bdat.task_s" -> sum("sources.sas7bdat")(_.taskS),
      "sources.sas7bdat.mb_read" -> sum("sources.sas7bdat")(s => Layers.mb(s.c.bytesRead)),
      "sinks.parquet.s" -> sum("sinks.parquet")(_.wallS),
      "sinks.pg.s" -> sum("sinks.pg")(_.wallS),
      "sinks.pg.driver_s" -> sum("sinks.pg")(_.driverS),
      "sinks.csv.s" -> sum("sinks.csv")(_.wallS),
      "plans.asof.s" -> sum("plans.asof")(_.wallS),
      "plans.asof.shuffle_mb" -> sum("plans.asof")(s => Layers.mb(s.c.shuffleWriteBytes)),
      "plans.asof.rows_out" -> asof.get("expect").get("rows").asDouble,
      "pipeline.check_ms.parquet" -> p50("pipeline.check.parquet"),
      "pipeline.check_ms.pg" -> p50("pipeline.check.pg"),
      "pipeline.check_ms.csv" -> p50("pipeline.check.csv")) ++ initial
  }

  /** Row counts, special-missing null counts and stamps of every output,
    * read back independently of the sink that wrote it. */
  private def checkOutputs(t: Table, c: Int): Unit = {
    val where = s"c$c ${t.lib}.${t.name}"
    val stamp = t.stampAt(c)
    t.sinks.foreach {
      case "parquet" => op(s"$where parquet check") {
        val (cols, rows, nulls, kv) = footer(pqPath(t))
        check(cols == t.columns, s"$where parquet columns $cols, expected ${t.columns}")
        check(rows == t.rows, s"$where parquet rows $rows, expected ${t.rows}")
        t.columns.foreach { n =>
          check(nulls.get(n).contains(t.nulls(n)), s"$where parquet nulls($n) ${nulls.get(n)}, expected ${t.nulls(n)}")
        }
        check(kv.contains(stamp), s"$where parquet footer stamp $kv, expected $stamp")
      }
      case "pg" => op(s"$where pg check") {
        val q = t.columns.map(n => s"""count("$n")""").mkString(", ")
        val got = PgCopy.querySql(psql, s"""SELECT count(*), $q FROM "${t.lib}"."${t.name}"""")
          .split('|').map(_.toLong)
        check(got(0) == t.rows, s"$where pg rows ${got(0)}, expected ${t.rows}")
        t.columns.zipWithIndex.foreach { case (n, i) =>
          check(got(0) - got(i + 1) == t.nulls(n), s"$where pg nulls($n) ${got(0) - got(i + 1)}, expected ${t.nulls(n)}")
        }
        val comment = PgCopy.querySql(psql,
          s"""SELECT obj_description('"${t.lib}"."${t.name}"'::regclass)""")
        check(comment == stamp, s"$where pg comment '$comment', expected '$stamp'")
      }
      case "csv" => op(s"$where csv check") {
        val mtime = java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(csvPath(t))).toMillis / 1000
        check(mtime == t.epochAt(c), s"$where csv mtime $mtime, expected ${t.epochAt(c)}")
        val n = spark.read.option("header", "true").option("multiLine", "true").csv(csvPath(t)).count()
        check(n == t.rows, s"$where csv rows $n, expected ${t.rows}")
      }
    }
  }

  /** Columns, rows, per-column null counts (column statistics) and the
    * stamp key-value, read from the Parquet footers without Spark. */
  private def footer(dir: String): (Seq[String], Long, Map[String, Long], Option[String]) = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val parts = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .filter(x => x.getName.startsWith("part-") && x.getName.endsWith(".parquet")).toSeq
    val footers = parts.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter finally r.close()
    }
    val cols = footers.headOption.map(_.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq)
      .getOrElse(Nil)
    val blocks = footers.flatMap(_.getBlocks.asScala)
    val nulls = blocks.flatMap(_.getColumns.asScala)
      .groupMapReduce(_.getPath.toDotString)(_.getStatistics.getNumNulls)(_ + _)
    val kv = footers.headOption.flatMap(f => Option(f.getFileMetaData.getKeyValueMetaData.get("last_modified")))
    (cols, blocks.map(_.getRowCount).sum, nulls, kv)
  }
}
