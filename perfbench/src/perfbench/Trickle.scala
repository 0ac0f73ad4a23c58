package perfbench

import java.io.File

import scala.collection.mutable

import graft.cdc.{Engine, EventGen, MergeApply}
import graft.graph.{IncrementalSpec, Step, StepDag}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** trickle_cdc: a WAL of small one-file segments tailed by
  * `Engine.runStream` (Trigger.AvailableNow, one file per trigger, MOR,
  * compaction every K triggers). Each round appends K new segments and
  * drains them with one stream run on the same checkpoint; the `onBatch`
  * hook runs a `StepDag` with one incremental derived step (token counts
  * per url, the shape `IncBench` uses). Per-trigger fixed cost dominates. */
object Trickle {
  final case class Conf(eventsPerSegment: Int, k: Int, warmRounds: Int,
      nUrls: Long, nDomains: Int, minWords: Int, maxWords: Int)
  val full = Conf(eventsPerSegment = 1000, k = 4, warmRounds = 1,
    nUrls = 20000, nDomains = 200, minWords = 20, maxWords = 60)
  val small = full.copy(eventsPerSegment = 200)

  val tokensId = "derived/tokens"

  /** Token count per url; incremental from the pages change feed. */
  def tokensStep: Step = Step(tokensId, Seq("pages"), "v1",
    run = (_, in) => in("pages").select(col("url"),
      size(split(col("text"), " ")).cast("long").as("n_tok"), col("_lsn")),
    incremental = Some(IncrementalSpec.one("pages") { (_, feed, _) =>
      feed.select(col("_lsn").as("lsn"), col("_op").as("op"), col("url"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    }))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = if (ctx.cfg.small) small else full
    val base = s"${ctx.cfg.work}/trickle"
    val store = s"$base/lake"
    val wal = s"$base/wal"
    val ckpt = s"$base/checkpoint"
    val gen = EventGen.Config(nEvents = 0, nUrls = c.nUrls, nDomains = c.nDomains,
      seed = ctx.cfg.seed, skew = 2.0, minWords = c.minWords, maxWords = c.maxWords)
    new File(wal).mkdirs()

    var segments = 0
    /** Writes the next K segments (one parquet file each) into the WAL with
      * increasing modification times, so the file source takes them in
      * LSN order. */
    def appendRound(): Unit = {
      import spark.implicits._
      val lo = segments.toLong * c.eventsPerSegment
      val stage = s"$base/stage-$segments"
      spark.range(lo, lo + c.k.toLong * c.eventsPerSegment, 1L, c.k)
        .map(id => EventGen.genEvent(id, gen))
        .write.parquet(stage)
      val parts = new File(stage).listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      require(parts.length == c.k, s"expected ${c.k} segment files, got ${parts.length}")
      for (p <- parts) {
        val dst = new File(f"$wal/seg-$segments%06d.parquet")
        require(p.renameTo(dst), s"cannot move $p")
        dst.setLastModified(1700000000000L + segments * 1000L)
        segments += 1
      }
      deleteRecursively(new File(stage))
    }

    val table = Engine.createPagesTable(s"$store/pages", numBuckets = Shape.buckets)
    val dag = new StepDag(Seq(Step.external("pages"), tokensStep), store,
      numBuckets = Shape.buckets)
    val graphMs = mutable.Map.empty[Long, Double]

    /** One stream run over the K segments appended since the last one. */
    def round(): (Seq[StreamingQueryProgress], Double) = {
      val t0 = System.nanoTime()
      val q = ctx.tracer.span("stream.round") {
        val q = Engine.runStream(spark, wal, ckpt, table,
          trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1),
          mode = MergeApply.MergeOnRead, compactEvery = c.k,
          onBatch = stats => {
            val g0 = System.nanoTime()
            ctx.op("dag_run") {
              ctx.tracer.span("graph.run") { dag.run(spark) }
            }
            graphMs(stats.batchId) = (System.nanoTime() - g0) / 1e6
          })
        q.awaitTermination()
        q
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      System.err.println(f"[perfbench] stream round: ${ms}%.0f ms, triggers " +
        ps.map(p => p.durationMs.get("triggerExecution")).mkString(" "))
      (ps, ms)
    }

    /** One round as counted operations: K commits, plus the dirtiness
      * check that must find the derived step up to date afterwards. */
    def countedRound(): Option[(Seq[StreamingQueryProgress], Double)] = {
      val r = ctx.op("stream_round")(round())
      val done = r.map(_._1.size).getOrElse(0)
      ctx.count("commit", c.k, c.k - done)
      ctx.op("dag_check") {
        val dirty = ctx.tracer.span("graph.isDirty")(dag.isDirty(tokensId))
        require(!dirty, s"$tokensId still dirty after the stream round")
      }
      r
    }

    // ---- set-up: first segments, the derived step's full build, warm rounds
    val g0 = System.nanoTime()
    appendRound()
    ctx.setup("gen_s", (System.nanoTime() - g0) / 1e9)
    val w0 = System.nanoTime()
    countedRound() // its first DAG run is the derived step's full build
    for (_ <- 1 until c.warmRounds) { appendRound(); countedRound() }
    ctx.setup("warm_s", (System.nanoTime() - w0) / 1e9)
    ctx.setupDone()

    // ---- timed rounds
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val metaMs = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    while (roundMs.isEmpty || measured / 1000 < ctx.cfg.seconds) {
      appendRound()
      countedRound().foreach { case (ps, ms) =>
        progress ++= ps; roundMs += ms; measured += ms
      }
      ctx.timedOp("metadata_read") {
        ctx.tracer.span("lake.metadata")(table.metadata)
      }.foreach(t => metaMs += t.ms)
    }

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val fresh = progress.map(dur(_, "triggerExecution")).toSeq
    val isCompaction = (p: StreamingQueryProgress) => (p.batchId + 1) % c.k == 0
    val (compacting, plain) = progress.toSeq.partition(isCompaction)
    ctx.e2e("op_ms", Stats.geomean(fresh))
    val trig = ctx.details.putArray("trigger_ms")
    fresh.foreach(v => trig.add(v))
    ctx.e2e("round_s", Stats.median(roundMs.toSeq) / 1000)
    ctx.info("fresh_ms_p50", Stats.median(fresh), "ms")
    ctx.info("fresh_ms_compacting_p50",
      Stats.median(compacting.map(dur(_, "triggerExecution"))), "ms")
    ctx.info("triggers", fresh.size.toDouble, "count")
    ctx.info("lake_mb", dirBytes(new File(store)) / 1048576.0, "MB")

    if (ctx.cfg.trace) {
      ctx.layer("stream.latest_offset_ms", Stats.median(progress.map(dur(_, "latestOffset")).toSeq))
      ctx.layer("stream.get_batch_ms", Stats.median(progress.map(dur(_, "getBatch")).toSeq))
      ctx.layer("stream.planning_ms", Stats.median(progress.map(dur(_, "queryPlanning")).toSeq))
      ctx.layer("stream.wal_commit_ms", Stats.median(progress.map(dur(_, "walCommit")).toSeq))
      ctx.layer("stream.add_batch_ms", Stats.median(progress.map(dur(_, "addBatch")).toSeq))
      // merge time per trigger = addBatch minus the DAG step it hosts
      def mergeMs(ps: Seq[StreamingQueryProgress]) =
        ps.map(p => dur(p, "addBatch") - graphMs.getOrElse(p.batchId, 0.0))
      ctx.layer("cdc.merge_ms", Stats.median(mergeMs(plain)))
      ctx.layer("cdc.compact_ms", math.max(0.0,
        Stats.median(mergeMs(compacting)) - Stats.median(mergeMs(plain))))
      // per-commit Spark work: the stream rounds minus their DAG runs
      val rounds = ctx.tracer.spansNamed("stream.round").takeRight(roundMs.size)
      val graphs = ctx.tracer.spansNamed("graph.run").takeRight(progress.size)
      val commit = rounds.map(_.d).reduce(_ + _) - graphs.map(_.d).reduce(_ + _)
      Layers.commit(ctx, commit, progress.size, progress.map(_.numInputRows).sum)
      val g = graphs.map(_.d).reduce(_ + _)
      ctx.layer("graph.run_ms", Stats.median(graphs.map(_.d.wallMs)))
      ctx.layer("graph.jobs_per_run", g.jobs.toDouble / graphs.size)
      ctx.layer("graph.plan_ms_per_run", g.planMs.toDouble / graphs.size)
      ctx.layer("lake.meta_read_ms", Stats.median(metaMs.toSeq))
      ctx.layer("lake.meta_bytes", Layers.metadataBytes(s"$store/pages"))
      ctx.layer("lake.table_mb", dirBytes(new File(store)) / 1048576.0)
    }

    // ---- checks (untimed): final state, derived table, exactly-once, LSN ranges
    val ck = ctx.checks.putObject("cdc")
    ck.put("wal_glob", s"$wal/*.parquet")
    val segNode = ck.putArray("segments")
    (0 until segments).foreach(k => segNode.add(f"$wal/seg-$k%06d.parquet"))
    val states = ck.putObject("states")
    val stateDir = s"$base/check-state"
    table.read(spark).select("url", "_lsn", "text", "lang", "warc_ts", "html")
      .write.parquet(stateDir)
    states.put("mor_stream", stateDir)
    val tokDir = s"$base/check-tokens"
    dag.table(tokensId).read(spark).select("url", "n_tok").write.parquet(tokDir)
    ck.put("tokens_dir", tokDir)
    Checks.redeliver(ctx, ck, table, lastIngestBatch(table),
      spark.read.schema(Engine.eventSchema).parquet(f"$wal/seg-${segments - 1}%06d.parquet"))
    Checks.lsnRanges(ck, table)
  }

  private def lastIngestBatch(t: graft.lake.LakeTable): Long =
    t.metadata.lastBatch("cdc_ingest")

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
