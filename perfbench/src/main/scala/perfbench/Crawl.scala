package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl workloads: one op is a declared catalog query over the seeded
  * `documents` dir, collected. The first call builds the query's artifacts
  * (container stores, reference LM, drop list, standing refresh state) and
  * belongs to set-up, as does one untimed warm-up op. Each op's output is
  * kept once per distinct result so `run.py` can compare it with the DuckDB
  * replay of the query's oracle.
  */
object Crawl {

  sealed abstract class Kind(val query: String, val incremental: Boolean)
  case object Build extends Kind("x130_crawl_assembly_e2e", false)
  case object Refresh extends Kind("x131_crawl_assembly_refresh", true)

  def run(cfg: Main.Config, kind: Kind): Map[String, Any] = {
    val dir = cfg.input.getOrElse(sys.error("--input is required"))
    val query = graft.SparkEntry.queries(kind.query)
    val spans = new Spans

    val heap = new HeapPeak
    val t0 = Clock.nowMs
    val spark = Main.session(cfg.cores, cfg.work)
    val conf = Main.resolvedConf(spark)
    query(spark, dir).collect()

    val outputs = new Outputs
    def op(id: Int): Boolean = {
      val df = spans.span("query.build")(query(spark, dir))
      val rows = spans.span("query.drain")(df.collect())
      if (id >= 0) outputs.add(id, df.columns.toIndexedSeq, rows)
      if (kind.incremental && !rows.forall(_.getAs[Boolean]("incr_match")))
        throw new IllegalStateException("incr_match is false")
      true
    }

    val events = new Events
    // untimed warm-up: the op right after the first call reads a heap and a
    // JIT state that vary far more from run to run. A traced run warms up
    // with its first baseline op instead.
    if (!cfg.trace) op(-1)
    val setupS = (Clock.nowMs - t0) / 1000
    val baseline =
      if (cfg.trace) Main.timedLoop(0, spans, traced = false)(op) ++
        Main.timedLoop(0, spans, traced = false, firstId = 1)(op)
      else Nil
    val frontDoor = if (cfg.trace) Some(crawlStore(spark, dir, cfg.work)) else None
    if (cfg.trace) { spans.enabled = true; events.attach(spark) }
    val timed = Main.timedLoop(cfg.seconds, spans, cfg.trace, baseline.size,
      between = () => frontDoor.foreach(frontDoorSpans(spark, _, spans)))(op)
    if (cfg.trace) { events.settle(); events.detach(spark) }
    spark.stop()

    Map("setup_s" -> setupS, "conf" -> conf,
      "ops" -> Main.opRecords(baseline ++ timed),
      "heap_gcs" -> heap.close(),
      "query" -> kind.query,
      "oracle_sql" -> graft.SparkEntry.oracleSql(kind.query),
      "outputs" -> outputs.dump,
      "trace" -> (if (cfg.trace) events.dump ++ Map("spans" -> spans.dump) else Map.empty))
  }

  /** The distinct results ops produced, each with the ops that gave it. */
  final class Outputs {
    private val seen = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Seq[Any]], (Seq[String], scala.collection.mutable.Buffer[Int])]

    def add(op: Int, columns: Seq[String], rows: Array[Row]): Unit = synchronized {
      val values = rows.toSeq.map(_.toSeq.map(plain)).sortBy(_.mkString("\u0001"))
      seen.getOrElseUpdate(values, (columns, scala.collection.mutable.Buffer.empty))._2 += op
    }

    def dump: Seq[Map[String, Any]] = synchronized {
      seen.toSeq.map { case (rows, (cols, ops)) =>
        Map("columns" -> cols, "rows" -> rows, "ops" -> ops.toSeq)
      }
    }

    private def plain(v: Any): Any = v match {
      case null => null
      case x @ (_: Boolean | _: Int | _: Long | _: Double | _: String) => x
      case x: Float => x.toDouble
      case x: Short => x.toInt
      case x: java.math.BigDecimal => x.doubleValue
      case x => x.toString
    }
  }

  /** The benchmark's own container store over the input documents (three
    * fetches per page under URL variants that canonicalize together), for
    * the traced front-door spans. Written after set-up is timed.
    */
  private def crawlStore(spark: SparkSession, dir: String, work: String): String = {
    val d = col("doc_id")
    val page = (d - d % 3).cast("string")
    val url = when(d % 3 === 0, concat(lit("https://crawl.bench/p/"), page, lit("#top")))
      .when(d % 3 === 1, concat(lit("HTTPS://crawl.bench/p/"), page, lit("/")))
      .otherwise(concat(lit("https://www.Crawl.bench:443/p/"), page,
        lit("?utm_source=bench")))
    val http = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
      graft.ext.Extract.htmlWrap(d, col("text")))
    val path = s"$work/crawl-store"
    graft.sources.FileSources.writeWarc(
      spark.read.parquet(s"$dir/documents.parquet").filter(d.isNotNull)
        .select(graft.sources.FileSources.warcRecord(lit("response"), url,
          lit("2026-02-01T00:00:00Z"), lit("application/http; msgtype=response"),
          http, Some(concat(lit("<urn:bench:"), d.cast("string"), lit(">"))))
          .as("value"))
        .repartition(4),
      path)
    path
  }

  /** Read → URL dedup → keeper extraction, each step materialized inside
    * its own span so its time is its own.
    */
  private def frontDoorSpans(spark: SparkSession, store: String, spans: Spans): Unit = {
    val pages = spans.span("sources.read_warc") {
      graft.sources.FileSources.warcDocs(graft.sources.FileSources.readWarc(spark, store))
        .withColumn("fetch_id",
          regexp_extract(col("record_id"), "urn:bench:([0-9]+)", 1).cast("long"))
        .localCheckpoint(true)
    }
    val keepers = spans.span("ext.url_dedup") {
      graft.ext.Urls.urlDedup(pages.select(col("url"), col("fetch_id")), "url", "fetch_id")
        .select(col("keeper_id").as("fetch_id"))
        .localCheckpoint(true)
    }
    spans.span("ext.extract") {
      drain(pages.join(keepers, Seq("fetch_id"), "left_semi")
        .select(graft.ext.Extract.htmlToText(col("body")).as("text")))
    }
  }

  /** Materialize every column of `df` into one scalar. */
  def drain(df: DataFrame): Unit =
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
}
