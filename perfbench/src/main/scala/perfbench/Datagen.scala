package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

import graft.gen.RecordGen
import graft.health.ProgressBridge
import graft.streaming.StreamCounters
import graft.streaming.StreamCounters.{CounterEvent, ProgressStatus}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The paper's traffic loop: generator → wire → consumer → counter →
  * liveness, on the in-memory transport.
  *
  * Phase A (closed loop, one client): one op generates `Records` records,
  * encodes them to the wire format, parses them back and counts them per
  * (topic, partition) with the round trip's integrity booleans.
  *
  * Phase B (open loop): the feeder (the benchmark's main thread; the query
  * runs on its own) appends slices of a seeded pool of wire rows to a
  * `MemoryStream` every `PeriodMs` at `Rate` records/s, whatever the query
  * does; each row carries its due time in an `X-Due-Ms` header. The query parses the wire rows, turns each into a
  * `CounterEvent`, runs `StreamCounters.progressMonitor` (timeouts off:
  * their no-data batches busy-loop) and hands each batch to
  * `ProgressBridge.update`. A checker thread polls `ProgressBridge.check`;
  * a record's lag is the first check that counts it minus its due time.
  */
object Datagen {
  val Records = 200000L
  val Partitions = 4
  val Rate = 10000
  val PeriodMs = 10
  val PoolRows = 20000
  val WarmupFeedMs = 500
  /** Untimed feed before phase B: the stream's batches keep speeding up
    * for about 3 s of traffic while the JIT compiles their code. */
  val PhaseBWarmupMs = 2500
  val FirstCallRecords = 20000L
  /** Untimed phase-A ops in set-up: after the first the JIT still compiles
    * about a second of CPU per op. */
  val WarmupOps = 2
  /** The share of `--seconds` phase A gets; phase B has the rest. Phase B's
    * lag is steady over 4 s of traffic, while phase A needs three ops. */
  val PhaseAShare = 0.6
  val CheckEveryNs = 1000000L
  /** The monitor's pace. Batches of a fixed size keep the lag off the
    * feedback loop of an as-fast-as-possible trigger, where a slower
    * batch gathers more rows and is slower still. */
  val TriggerMs = 1000L

  final case class Header(key: String, value: Array[Byte])
  final case class Wire(topic: String, partition: Int, key: Array[Byte],
                        value: Array[Byte], headers: Seq[Header])

  /** The topics round-robin routing gives three topics, in id order. */
  private val Topics = Seq("console_datagen_000-consumer-a",
    "console_datagen_000-share-a", "console_datagen_000-streams-a")

  def phaseA(spark: SparkSession, seed: Long, n: Long): Array[Row] =
    RecordGen.parseWire(RecordGen.toWire(
        RecordGen.records(spark, n, seed, numPartitions = Partitions)))
      .groupBy("topic", "partition")
      .agg(count(lit(1)).as("cnt"),
        min(col("key.messageId").isNotNull && col("key.storeId").isNotNull &&
          col("key.operatorId").isNotNull).as("keys_ok"),
        min(to_timestamp(col("value.timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .isNotNull).as("ts_ok"),
        min(length(unbase64(col("value.payload"))) === 500).as("payload_ok"))
      .collect()

  /** Record i goes to topic i % 3 and partition i % 4: the count of each
    * (topic, partition) is the number of ids below n in one residue class
    * mod 12.
    */
  def checkPhaseA(rows: Array[Row], n: Long): Unit = {
    val expected = (0 until 12).map { r =>
      (Topics(r % 3), r % Partitions) -> (if (n > r) (n - r + 11) / 12 else 0L)
    }.filter(_._2 > 0).toMap
    val got = rows.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    if (got != expected) throw new IllegalStateException(s"counts $got != $expected")
    if (!rows.forall(r => r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5)))
      throw new IllegalStateException("an integrity boolean is false")
  }

  /** The phase-B query, its input, bridge and checker, for one session. */
  final class Liveness(spark: SparkSession, pool: Array[Wire], checkpoint: String,
                       spans: Spans) {
    import spark.implicits._
    private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    private implicit val session: SparkSession = spark
    // one partition per topic partition, however many slices a batch holds
    val input: MemoryStream[Wire] = MemoryStream[Wire](Partitions)
    val bridge = new ProgressBridge
    @volatile var sent = 0L
    /** (check time ms, records counted) at each change. */
    val checks = new ConcurrentLinkedQueue[(Double, Long)]()
    @volatile private var running = true
    /** Called with the stream's own session before each batch's collect. */
    @volatile var onBatchSession: SparkSession => Unit = _ => ()

    private val events: Dataset[CounterEvent] = RecordGen.parseWire(input.toDF())
      .select(lit("bench").as("cluster"), col("topic"), col("partition"),
        lit(1L).as("delta"),
        element_at(filter(col("headers"), h => h("key") === "X-Due-Ms"), 1)("value")
          .cast("string").cast("long").as("eventTimeMs"))
      .as[CounterEvent]

    val query: StreamingQuery = StreamCounters
      .progressMonitor(events, nowMs = () => System.currentTimeMillis(), enableTimeout = false)
      .writeStream.outputMode("update")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[ProgressStatus], _: Long) =>
        onBatchSession(b.sparkSession)
        val rows = b.collect().toSeq
        spans.span("health.bridge_update")(bridge.update(rows))
      }
      .start()

    /** The count the checker last recorded. */
    @volatile private var seen = -1L
    private val checker = new Thread(() => {
      while (running) {
        val r = spans.span("health.check")(bridge.check("bench")).data("records").toLong
        if (r != seen) { checks.add((Clock.nowMs, r)); seen = r }
        LockSupport.parkNanos(CheckEveryNs)
      }
    })
    checker.setDaemon(true)

    /** Start polling the bridge; phase B only, so the polls stay out of
      * phase A's CPU and spans. */
    def startChecker(): Unit = checker.start()

    /** Feed the pool open loop for `ms`; returns [due, sent, first, count]
      * per slice.
      */
    def feed(ms: Double): Seq[Seq[Double]] = {
      val slice = Rate * PeriodMs / 1000
      val start = Clock.nowMs + PeriodMs
      val out = Seq.newBuilder[Seq[Double]]
      var j = 0
      while (j.toDouble * PeriodMs < ms) {
        val due = start + j.toDouble * PeriodMs
        var now = Clock.nowMs
        while (now < due) { LockSupport.parkNanos(((due - now) * 1e6).toLong); now = Clock.nowMs }
        val dueHeader = Header("X-Due-Ms", due.toLong.toString.getBytes("UTF-8"))
        val first = sent
        val rows = (0 until slice).map { k =>
          val w = pool(((first + k) % pool.length).toInt)
          w.copy(headers = w.headers :+ dueHeader)
        }
        input.addData(rows)
        sent += slice
        out += Seq(due, Clock.nowMs, first.toDouble, slice.toDouble)
        j += 1
      }
      out.result()
    }

    /** Records the bridge counts; once the checker runs, the records its
      * last check counted. */
    def counted: Long =
      if (checker.isAlive) seen else bridge.check("bench").data("records").toLong

    /** Wait until every record sent is counted; false on timeout. */
    def drain(timeoutMs: Double): Boolean = {
      val deadline = Clock.nowMs + timeoutMs
      while (counted < sent && Clock.nowMs < deadline) Thread.sleep(5)
      counted == sent
    }

    def stop(): Unit = {
      running = false
      if (checker.isAlive) checker.join()
      query.stop()
    }
  }

  /** Session start, first phase-A call, pool, phase-B query start and a
    * warm-up feed.
    */
  private def setUp(cfg: Main.Config, spans: Spans)
      : (SparkSession, Liveness, Map[String, String]) = {
    val spark = Main.session(cfg.cores, cfg.work)
    checkPhaseA(phaseA(spark, cfg.seed, FirstCallRecords), FirstCallRecords)
    import spark.implicits._
    val pool = RecordGen.toWire(RecordGen.records(spark, PoolRows, cfg.seed + 1,
      numPartitions = Partitions)).as[Wire].collect()
    val live = new Liveness(spark, pool, s"${cfg.work}/stream-checkpoint", spans)
    live.feed(WarmupFeedMs)
    if (!live.drain(30000)) throw new IllegalStateException("warm-up feed not counted")
    (spark, live, Main.resolvedConf(spark))
  }

  def run(cfg: Main.Config): Map[String, Any] = {
    val spans = new Spans
    val heap = new HeapPeak
    val t0 = Clock.nowMs
    val (spark, live, conf) = setUp(cfg, spans)

    def op(id: Int): Boolean = {
      checkPhaseA(phaseA(spark, cfg.seed, Records), Records)
      true
    }
    // untimed: the first 200,000-record ops still run half-compiled code
    for (id <- -WarmupOps to -1) op(id)
    val setupS = (Clock.nowMs - t0) / 1000
    val events = new Events
    val baseline =
      if (cfg.trace) Main.timedLoop(0, spans, traced = false)(op) ++
        Main.timedLoop(0, spans, traced = false, firstId = 1)(op)
      else Nil
    if (cfg.trace) {
      spans.enabled = true
      events.attach(spark)
      // the stream runs its batches in a session of its own
      live.onBatchSession = events.watchQueries
    }

    val phaseAOps = Main.timedLoop(cfg.seconds * PhaseAShare, spans, cfg.trace,
      baseline.size)(op)

    live.startChecker()
    live.feed(PhaseBWarmupMs)
    if (!live.drain(30000)) throw new IllegalStateException("phase-B warm-up not counted")
    val checks0 = live.checks.size
    val feed = live.feed(cfg.seconds * (1 - PhaseAShare) * 1000)
    val drained = live.drain(30000)
    val last = live.bridge.check("bench")
    val phaseB = Map(
      "records" -> last.data("records").toLong, "sent" -> live.sent,
      "partitions" -> last.data("partitions").toInt, "up" -> last.up,
      "drained" -> drained,
      "ok" -> (drained && last.data("records").toLong == live.sent &&
        last.data("partitions").toInt == 12 && last.up))
    live.stop()
    val checks = live.checks.asScala.toSeq.drop(checks0 - 1)
      .map { case (t, r) => Seq(t, r.toDouble) }

    val extra = if (!cfg.trace) Map.empty[String, Any] else {
      val gen = genCosts(spark, cfg.seed, spans)
      events.settle(); events.detach(spark)
      spark.stop()
      val single = Main.session(1, cfg.work)
      val oneCore = Main.time(checkPhaseA(phaseA(single, cfg.seed, Records), Records))
      single.stop()
      Map("gen" -> gen, "local1_op_s" -> oneCore,
        "trace" -> (events.dump ++ Map("spans" -> spans.dump)))
    }
    if (!cfg.trace) spark.stop()

    Map("setup_s" -> setupS, "conf" -> conf,
      "ops" -> Main.opRecords(baseline ++ phaseAOps),
      "heap_gcs" -> heap.close(),
      "phase_b" -> phaseB, "feed" -> feed, "checks" -> checks) ++ extra
  }

  /** The incremental cost of each generator call: drain `records`, then
    * `toWire(records)`, then `parseWire(toWire(records))`, each in a span.
    */
  private def genCosts(spark: SparkSession, seed: Long, spans: Spans): Map[String, Double] = {
    val recs = RecordGen.records(spark, Records, seed, numPartitions = Partitions)
    def timed(name: String)(df: => org.apache.spark.sql.DataFrame): Double =
      Main.time(spans.span(name)(Crawl.drain(df)))
    val a = timed("gen.records")(recs)
    val b = timed("gen.to_wire")(RecordGen.toWire(recs))
    val c = timed("gen.parse_wire")(RecordGen.parseWire(RecordGen.toWire(recs)))
    Map("records_s" -> a, "to_wire_s" -> (b - a), "parse_wire_s" -> (c - b))
  }
}
