package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, time ops for `--seconds`, record
  * every op's output check, and write the raw measurements as JSON to
  * `--out`. `run.py` starts this program and turns the raw record into
  * metrics.
  *
  * Usage: perfbench.Main --workload <datagen|crawl-build|crawl-refresh>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   --out <file> [--input <dir>]
  */
object Main {

  /** What a workload hands back to the record. */
  final case class Op(id: Int, startMs: Double, endMs: Double, cpuS: Double,
                      jitS: Double, ok: Boolean, error: Option[String], traced: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cfg = Config(opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("cores").toInt, opt("work"), opt.get("input"))
    val cpuBefore = Probes.cpu()
    val bwBefore = Probes.bandwidth(cfg.cores)
    val body: Map[String, Any] = workload match {
      case "datagen" => Datagen.run(cfg)
      case "crawl-build" => Crawl.run(cfg, Crawl.Build)
      case "crawl-refresh" => Crawl.run(cfg, Crawl.Refresh)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = body ++ Map("workload" -> workload, "seed" -> cfg.seed,
      "cores" -> cfg.cores, "traced" -> cfg.trace,
      "probes" -> Map("cpu_before_s" -> cpuBefore, "bw_before_s" -> bwBefore,
        "cpu_after_s" -> Probes.cpu(), "bw_after_s" -> Probes.bandwidth(cfg.cores)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      mapper.writeValueAsString(record))
  }

  final case class Config(seed: Long, seconds: Double, trace: Boolean,
                          cores: Int, work: String, input: Option[String])

  /** The session `graft.Bench` builds (shuffle partitions = cores, AQE on
    * with Bench's default 8k coalescing floor, UTC, UI off), with no
    * environment overrides; scratch space stays under the run's own dir.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The resolved configuration the run measured. */
  def resolvedConf(spark: SparkSession): Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll

  /** Time a block; seconds. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Run `op` back to back, at least once, until `seconds` have passed (an
    * op that starts in time runs to its end). Ops that throw are recorded
    * as failed. `between` runs after each op, outside its window.
    */
  def timedLoop(seconds: Double, spans: Spans, traced: Boolean, firstId: Int = 0,
                between: () => Unit = () => ())(op: Int => Boolean): Seq[Op] = {
    val start = Clock.nowMs
    val ops = Seq.newBuilder[Op]
    var id = firstId
    while (id == firstId || Clock.nowMs - start < seconds * 1000) {
      spans.op = id
      val t0 = Clock.nowMs
      val cpu0 = cpuSeconds
      val jit0 = jitSeconds
      val (ok, err) =
        try (spans.span("op")(op(id)), None)
        catch { case e: Exception => (false, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      ops += Op(id, t0, Clock.nowMs, cpuSeconds - cpu0, jitSeconds - jit0, ok, err, traced)
      spans.op = -1
      between()
      id += 1
    }
    ops.result()
  }

  def opRecords(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map { o =>
    Map("id" -> o.id, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
      "wall_s" -> (o.endMs - o.startMs) / 1000, "cpu_s" -> o.cpuS, "jit_s" -> o.jitS,
      "ok" -> o.ok,
      "error" -> o.error.orNull, "traced" -> o.traced)
  }

  /** Process CPU seconds. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the JIT compiler threads have spent compiling (recorded beside
    * each op's CPU, not taken from it). */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
}

/** Post-GC heap occupancy, from the notifications every garbage collector
  * sends when a collection ends: the heap pools' usage after that GC,
  * stamped with the GC's end time. Every GC of the run is kept; the run
  * reports the highest reading inside its timed windows.
  */
final class HeapPeak {
  private val samples = new ConcurrentLinkedQueue[Seq[Double]]()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      samples.add(Seq(jvmStartMs + gc.getEndTime, used / (1024.0 * 1024.0)))
    }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stop listening; [end ms, MB] per GC. */
  def close(): Seq[Seq[Double]] = {
    emitters.foreach(_.removeNotificationListener(listener))
    samples.asScala.toSeq.sortBy(_.head)
  }
}

/** Fixed reference computations timed before and after each workload, so
  * a run on a contended box is flagged rather than silently counted: a
  * single-thread ALU loop, and one thread per core streaming its own slice
  * of an array larger than any last-level cache.
  */
object Probes {
  @volatile private var sink = 0L

  /** The second of two passes, so compilation stays out of the reading. */
  private def warm(body: => Unit): Double = { body; Main.time(body) }

  def cpu(): Double = warm {
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink += x
  }

  def bandwidth(threads: Int): Double = {
    val data = new Array[Long](32 << 20) // 256 MB
    java.util.Arrays.fill(data, 1L)
    val slice = data.length / threads
    warm {
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          var s = 0L
          var pass = 0
          while (pass < 8) {
            var i = t * slice
            val hi = i + slice
            while (i < hi) { s += data(i); i += 8 }
            pass += 1
          }
          synchronized { sink += s }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    }
  }
}
