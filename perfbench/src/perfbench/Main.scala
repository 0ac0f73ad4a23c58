package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload trickle_cdc|bulk_cdc|operator_suite
  *   --seed N --seconds S --trace 0|1 --cores N --work DIR --out DIR
  *   [--data DIR] [--size full|small]
  * }}}
  *
  * Writes `<out>/result.json`: set-up phase times, operation counts and
  * failures, end-to-end figures, per-layer figures (traced runs), and the
  * values the checks compare against DuckDB. All scratch data lives under
  * `--work`; the caller deletes it. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a("trace") == "1",
      cores = a("cores").toInt, work = a("work"), out = a("out"),
      data = a.getOrElse("data", ""), small = a.getOrElse("size", "full") == "small")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.build(cfg)
    val ctx = new Ctx(spark, cfg)
    ctx.setup("session_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    try {
      cfg.workload match {
        case "trickle_cdc"    => Trickle.run(ctx)
        case "bulk_cdc"       => Bulk.run(ctx)
        case "operator_suite" => Suite.run(ctx)
        case w                => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.layer("jvm.gc_ms", ctx.tracer.gcMs.toDouble)
      ctx.layer("jvm.jit_ms", ctx.tracer.jitMs.toDouble)
      ctx.layer("jvm.heap_peak_mb", ctx.tracer.heapPeakMb)
      ctx.write()
    } finally spark.stop()
  }
}

final case class Timed[T](value: T, ms: Double)

final case class Cfg(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: String, out: String, data: String,
    small: Boolean)

object Session {
  /** One fixed session shape for every workload: shuffle partitions and
    * every scratch path are pinned, so runs differ only by seed. */
  def build(cfg: Cfg): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", Shape.shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Fixed physical shape of every table the benchmark writes. */
object Shape {
  val shufflePartitions = 8
  val buckets = 8
}

/** Per-run state shared by the workloads: the session, the tracer, the
  * operation ledger and the result document. */
final class Ctx(val spark: SparkSession, val cfg: Cfg) {
  val tracer = new Tracer(spark, cfg.trace)
  private val mapper = new ObjectMapper()
  private val root: ObjectNode = mapper.createObjectNode()
  private val setupNode = root.putObject("setup")
  private val e2eNode = root.putObject("e2e")
  private val layerNode = root.putObject("layer")
  private val infoNode = root.putObject("info")
  val checks: ObjectNode = root.putObject("checks")
  /** Free-form per-run detail kept in result.json only. */
  val details: ObjectNode = root.putObject("details")
  private val failures = root.putArray("failures")
  private val attempted = mutable.LinkedHashMap.empty[String, Long]
  private val failed = mutable.LinkedHashMap.empty[String, Long]

  root.put("workload", cfg.workload)
  root.put("seed", cfg.seed)
  root.put("cores", cfg.cores)
  root.put("traced", cfg.trace)

  def setup(k: String, v: Double): Unit = setupNode.put(k, v)
  def e2e(k: String, v: Double): Unit = e2eNode.put(k, v)
  def layer(k: String, v: Double): Unit = layerNode.put(k, v)
  /** A figure shown in the run summary only (name, value, unit). */
  def info(k: String, v: Double, unit: String): Unit =
    infoNode.putObject(k).put("value", v).put("unit", unit)

  /** Ends set-up: waits for the JIT compile queue the warm-up filled to
    * drain (compile time growing by under 5 % of one thread for 0.5 s, at
    * most 8 s), then marks the start of the timed window. */
  def setupDone(): Unit = {
    val t0 = System.nanoTime()
    var last = tracer.jitMs
    var quiet = false
    while (!quiet && System.nanoTime() - t0 < 8e9) {
      Thread.sleep(500)
      val now = tracer.jitMs
      quiet = now - last < 25
      last = now
    }
    setupNode.put("settle_s", (System.nanoTime() - t0) / 1e9)
    setupNode.put("done_epoch_ms", System.currentTimeMillis())
  }

  /** Runs one counted operation of `kind`. A failure is recorded with its
    * first message line and yields None, so it is never timed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted(kind) = attempted.getOrElse(kind, 0L) + 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed(kind) = failed.getOrElse(kind, 0L) + 1
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures.addObject().put("op", kind)
          .put("message", msg.linesIterator.nextOption().getOrElse("").take(300))
        None
    }
  }

  /** Counts `n` operations of `kind` run inside one graft call, `bad` of
    * which failed (the call's own failure is recorded by `op`). */
  def count(kind: String, n: Long, bad: Long): Unit = {
    attempted(kind) = attempted.getOrElse(kind, 0L) + n
    if (bad > 0) failed(kind) = failed.getOrElse(kind, 0L) + bad
  }

  /** `op` plus its wall time in ms; only successful operations are timed. */
  def timedOp[T](kind: String)(body: => T): Option[Timed[T]] = {
    val t0 = System.nanoTime()
    op(kind)(body).map(r => Timed(r, (System.nanoTime() - t0) / 1e6))
  }

  def write(): Unit = {
    val att = root.putObject("attempted")
    attempted.foreach { case (k, v) => att.put(k, v) }
    val fl = root.putObject("failed")
    failed.foreach { case (k, v) => fl.put(k, v) }
    new File(cfg.out).mkdirs()
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(s"${cfg.out}/result.json"), root)
    if (cfg.trace) {
      val arr = mapper.createArrayNode()
      tracer.spans.foreach { s =>
        val n = arr.addObject().put("name", s.name)
        s.d.toMap.foreach { case (k, v) => n.put(k, v) }
      }
      mapper.writeValue(new File(s"${cfg.out}/trace.json"), arr)
    }
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
