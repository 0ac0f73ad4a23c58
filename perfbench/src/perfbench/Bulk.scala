package perfbench

import java.io.File

import scala.collection.mutable

import graft.cdc.{Engine, EventGen, MergeApply}
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** bulk_cdc: a WAL of a few large segments, replayed in rounds of four
  * phases on fresh tables:
  *  1. MOR replay with `Engine.replaySegments`, no intermediate compaction;
  *  2. full reconciled reads (`LakeTable.read` + an aggregate) interleaved
  *     with bucket-pruned key lookups, all against the delta backlog;
  *  3. `MergeApply.compact`;
  *  4. CoW replay of the same segments into a fresh table.
  * Per-row work dominates: the max-LSN aggregate, the semi join, the bucket
  * shuffle, the zstd parquet write and the CoW full-outer join. */
object Bulk {
  final case class Conf(segments: Int, eventsPerSegment: Long, nUrls: Long,
      nDomains: Int, minWords: Int, maxWords: Int, reads: Int, keysPerLookup: Int)
  val full = Conf(segments = 3, eventsPerSegment = 12000, nUrls = 12000,
    nDomains = 200, minWords = 20, maxWords = 60, reads = 3, keysPerLookup = 3)
  val small = full.copy(eventsPerSegment = 2000, reads = 2)

  /** Order-independent fingerprint of a pages state that DuckDB can
    * recompute exactly: row count and four integer sums. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(
      count(lit(1)), sum(col("_lsn")),
      sum(pmod(col("_lsn"), lit(9973L)) * length(col("text"))),
      sum(length(col("url")) * pmod(col("_lsn"), lit(101L))),
      sum(length(col("html")))).head()
    (0 until 5).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = if (ctx.cfg.small) small else full
    val base = s"${ctx.cfg.work}/bulk"
    val wal = s"$base/wal"
    val events = c.segments * c.eventsPerSegment
    val gen = EventGen.Config(nEvents = events, nUrls = c.nUrls, nDomains = c.nDomains,
      seed = ctx.cfg.seed, skew = 2.0, minWords = c.minWords, maxWords = c.maxWords)

    // one job writes the whole WAL: range partition k, one file, holds
    // segment k's LSNs
    val g0 = System.nanoTime()
    import spark.implicits._
    spark.range(0L, events, 1L, c.segments).map(id => EventGen.genEvent(id, gen))
      .write.parquet(wal)
    val segs = new File(wal).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.map(n => s"$wal/$n").toSeq
    require(segs.size == c.segments, s"expected ${c.segments} segment files, got ${segs.size}")
    ctx.setup("gen_s", (System.nanoTime() - g0) / 1e9)

    val ck = ctx.checks.putObject("cdc")
    ck.put("wal_glob", s"$wal/*.parquet")
    val segNode = ck.putArray("segments")
    segs.foreach(segNode.add)
    val fps = ck.putArray("fingerprints") // [what, values...]
    var checked = false // only the timed rounds replay the whole WAL
    def recordFp(what: String, fp: Seq[Long]): Unit = if (checked) {
      val a = fps.addArray().add(what)
      fp.foreach(v => a.add(v))
    }
    val lookupsNode = ck.putArray("lookups")

    var keySets: Seq[Seq[String]] = Nil
    var lookupBuckets: Seq[Set[Int]] = Nil

    final case class RoundStats(wallMs: Double, replayMs: Double, compactMs: Double,
        cowMs: Double, readMs: Seq[Double], lookupMs: Seq[Double])

    /** One round over `replayed` (a prefix of the WAL) with `nReads` reads
      * and lookups. */
    def round(r: Int, replayed: Seq[String], nReads: Int): Option[RoundStats] = {
      val dir = s"$base/round-$r"
      val mor = Engine.createPagesTable(s"$dir/mor/pages", numBuckets = Shape.buckets)
      if (keySets.isEmpty) {
        // lookup keys: a seeded sample of WAL urls, with their buckets as
        // the table computes them
        val keys = spark.read.schema(Engine.eventSchema).parquet(segs: _*)
          .select(col("url")).distinct()
          .orderBy(xxhash64(col("url"), lit(ctx.cfg.seed)))
          .limit(c.reads * c.keysPerLookup)
          .select(col("url"), mor.bucketExpr("url").as("b"))
          .collect().map(row => (row.getString(0), row.getInt(1))).toSeq
        keySets = keys.grouped(c.keysPerLookup).map(_.map(_._1)).toSeq
        lookupBuckets = keys.grouped(c.keysPerLookup).map(_.map(_._2).toSet).toSeq
      }
      val t0 = System.nanoTime()
      val replay = ctx.timedOp("replay") {
        ctx.tracer.span("cdc.replay")(Engine.replaySegments(spark, replayed, mor,
          mode = MergeApply.MergeOnRead, compactEvery = 0))
      }
      ctx.count("commit", replayed.size,
        if (replay.isDefined) 0 else replayed.size - ingestSnapshots(mor))
      val readMs = mutable.ArrayBuffer.empty[Double]
      val lookupMs = mutable.ArrayBuffer.empty[Double]
      if (replay.isDefined) {
        if (ctx.cfg.trace) {
          val files = mor.filesOf(mor.metadata.currentSnapshot.get)
          ctx.layer("lake.data_files", files.size.toDouble)
          ctx.layer("lake.delta_files", files.count(_.kind == "delta").toDouble)
          val scanned = lookupBuckets.map(bs => files.count(f => bs.contains(f.bucket)))
          ctx.layer("lake.lookup.files_scanned", Stats.mean(scanned.map(_.toDouble)))
        }
        for (i <- 0 until nReads) {
          ctx.timedOp("read") {
            ctx.tracer.span("lake.read")(fingerprint(mor.read(spark)))
          }.foreach { t => readMs += t.ms; recordFp("mor_backlog", t.value) }
          ctx.timedOp("lookup") {
            ctx.tracer.span("lake.lookup") {
              mor.read(spark, buckets = Some(lookupBuckets(i)))
                .filter(col("url").isin(keySets(i): _*))
                .select("url", "_lsn").collect()
            }
          }.foreach { t =>
            lookupMs += t.ms
            if (checked) {
              val n = lookupsNode.addObject()
              val ks = n.putArray("keys")
              keySets(i).foreach(k => ks.add(k))
              val rs = n.putArray("rows")
              t.value.foreach(row => rs.addArray().add(row.getString(0)).add(row.getLong(1)))
            }
          }
        }
      }
      val compact = ctx.timedOp("compact") {
        ctx.tracer.span("cdc.compact")(MergeApply.compact(spark, mor))
      }
      val cow = Engine.createPagesTable(s"$dir/cow/pages", numBuckets = Shape.buckets)
      val cowReplay = ctx.timedOp("cow_replay") {
        ctx.tracer.span("cdc.cow")(Engine.replaySegments(spark, replayed, cow,
          mode = MergeApply.CopyOnWrite))
      }
      ctx.count("commit", replayed.size,
        if (cowReplay.isDefined) 0 else replayed.size - ingestSnapshots(cow))
      val wallMs = (System.nanoTime() - t0) / 1e6
      // untimed: the compacted MOR state and the CoW state
      ctx.op("read")(recordFp("mor_compacted", fingerprint(mor.read(spark))))
      ctx.op("read")(recordFp("cow", fingerprint(cow.read(spark))))
      for (rp <- replay; cp <- compact; cw <- cowReplay)
        yield RoundStats(wallMs, rp.ms, cp.ms, cw.ms, readMs.toSeq, lookupMs.toSeq)
    }

    // ---- set-up: a warm-up round over the first two segments (every commit
    // shape: a first and a later commit in each mode) with one read and
    // one lookup
    val w0 = System.nanoTime()
    round(0, segs.take(2), nReads = 1)
    checked = true
    Trickle.deleteRecursively(new File(s"$base/round-0"))
    ctx.setup("warm_s", (System.nanoTime() - w0) / 1e9)
    ctx.setupDone()

    // ---- timed rounds
    val rounds = mutable.ArrayBuffer.empty[RoundStats]
    var r = 1
    var measured = 0.0
    while (r == 1 || measured / 1000 < ctx.cfg.seconds) {
      if (r > 1) Trickle.deleteRecursively(new File(s"$base/round-${r - 1}"))
      val t0 = System.nanoTime()
      round(r, segs, c.reads) match {
        case Some(s) => rounds += s; measured += s.wallMs
        case None    => measured += (System.nanoTime() - t0) / 1e6
      }
      r += 1
    }
    val last = s"$base/round-${r - 1}"

    val reads = rounds.flatMap(_.readMs).toSeq
    val ingest = rounds.map(s => events / ((s.replayMs + s.compactMs) / 1000)).toSeq
    val cowEps = rounds.map(s => events / (s.cowMs / 1000)).toSeq
    ctx.e2e("op_ms", Stats.geomean(reads))
    ctx.e2e("round_s", Stats.median(rounds.map(_.wallMs).toSeq) / 1000)
    ctx.info("ingest_eps", Stats.median(ingest), "1/s")
    ctx.info("cow_eps", Stats.median(cowEps), "1/s")
    ctx.info("read_ms_p50", Stats.median(reads), "ms")
    ctx.info("lookup_ms_p50", Stats.median(rounds.flatMap(_.lookupMs).toSeq), "ms")
    ctx.info("lake_mb", Trickle.dirBytes(new File(last)) / 1048576.0, "MB")
    ctx.info("rounds", rounds.size.toDouble, "count")

    if (ctx.cfg.trace) {
      def sumOf(name: String) = ctx.tracer.spansNamed(name).map(_.d).reduce(_ + _)
      def med(name: String)(f: Counters => Double) =
        Stats.median(ctx.tracer.spansNamed(name).map(s => f(s.d)))
      val nReplays = ctx.tracer.spansNamed("cdc.replay").size
      Layers.commit(ctx, sumOf("cdc.replay"), nReplays * c.segments, nReplays * events)
      ctx.layer("cdc.merge_ms", med("cdc.replay")(_.wallMs) / c.segments)
      ctx.layer("cdc.compact_ms", med("cdc.compact")(_.wallMs))
      ctx.layer("cdc.cow_ms", med("cdc.cow")(_.wallMs) / c.segments)
      ctx.layer("cdc.cow_jobs_per_commit", med("cdc.cow")(_.jobs.toDouble) / c.segments)
      ctx.layer("lake.read.jobs", med("lake.read")(_.jobs.toDouble))
      ctx.layer("lake.read.task_ms", med("lake.read")(_.taskMs.toDouble))
      ctx.layer("lake.read.shuffle_bytes", med("lake.read")(_.shuffleBytes.toDouble))
      ctx.layer("lake.lookup_ms", med("lake.lookup")(_.wallMs))
      val meta = (0 until 5).map { _ =>
        ctx.timedOp("metadata_read") {
          ctx.tracer.span("lake.metadata")(new LakeTable(s"$last/mor/pages").metadata)
        }.map(_.ms).getOrElse(0.0)
      }
      ctx.layer("lake.meta_read_ms", Stats.median(meta))
      ctx.layer("lake.meta_bytes", Layers.metadataBytes(s"$last/mor/pages"))
      ctx.layer("lake.table_mb", Trickle.dirBytes(new File(last)) / 1048576.0)
    }

    // ---- checks (untimed): full states of the last round, exactly-once, LSN ranges
    val mor = new LakeTable(s"$last/mor/pages")
    val cow = new LakeTable(s"$last/cow/pages")
    val states = ck.putObject("states")
    for ((name, t) <- Seq("mor_compacted" -> mor, "cow" -> cow)) {
      val d = s"$base/check-$name"
      t.read(spark).select("url", "_lsn", "text", "lang", "warc_ts", "html").write.parquet(d)
      states.put(name, d)
    }
    Checks.redeliver(ctx, ck, mor, c.segments - 1L,
      spark.read.schema(Engine.eventSchema).parquet(segs.last))
    Checks.lsnRanges(ck, mor)
  }

  private def ingestSnapshots(t: LakeTable): Int =
    t.metadata.snapshots.count(_.stepId == "cdc_ingest")
}
