package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.cdc.MergeApply
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame

/** Per-layer figures shared by the two CDC workloads. */
object Layers {
  /** Spark work per commit from the summed counters of `commits` commits
    * that applied `events` WAL events. */
  def commit(ctx: Ctx, d: Counters, commits: Int, events: Long): Unit = {
    val n = commits.toDouble
    ctx.layer("cdc.jobs_per_commit", d.jobs / n)
    ctx.layer("cdc.stages_per_commit", d.stages / n)
    ctx.layer("cdc.tasks_per_commit", d.tasks / n)
    ctx.layer("cdc.plan_ms_per_commit", d.planMs / n)
    ctx.layer("cdc.codegen_compiles_per_commit", d.codegenCompiles / n)
    ctx.layer("cdc.codegen_ms_per_commit", d.codegenMs / n)
    ctx.layer("cdc.task_ms_per_kevent", d.taskMs / (events / 1000.0))
    ctx.layer("cdc.shuffle_bytes_per_event", d.shuffleBytes.toDouble / events)
    ctx.layer("cdc.spill_bytes", d.spillBytes.toDouble)
    // share of the core-time base (wall × cores) no task was running in
    val base = d.wallMs * ctx.cfg.cores
    ctx.layer("cdc.idle_core_share", 1.0 - d.taskMs / base)
    ctx.layer("cdc.idle_core_base_ms", base)
  }

  /** Size of the table's current metadata file. */
  def metadataBytes(tableDir: String): Double = {
    val v = new String(Files.readAllBytes(
      Paths.get(s"$tableDir/metadata/version-hint.text"))).trim
    Files.size(Paths.get(s"$tableDir/metadata/v$v.metadata.json")).toDouble
  }
}

/** Properties checked on the lake tables after the timed window; the
  * verdicts are computed by the caller against DuckDB. */
object Checks {
  /** Re-delivers a committed batch: it must come back `skipped` and leave
    * the snapshot log unchanged. */
  def redeliver(ctx: Ctx, ck: ObjectNode, table: LakeTable, batchId: Long,
      batch: DataFrame): Unit = {
    val before = table.metadata
    ctx.op("redeliver") {
      val stats = MergeApply(ctx.spark, table, batch, batchId, stepId = "cdc_ingest")
      val after = table.metadata
      ck.putObject("redeliver")
        .put("batch_id", batchId)
        .put("skipped", stats.skipped)
        .put("snapshots_before", before.snapshots.size)
        .put("snapshots_after", after.snapshots.size)
        .put("current_before", before.currentSnapshotId.getOrElse(-1L))
        .put("current_after", after.currentSnapshotId.getOrElse(-1L))
    }
  }

  /** LSN range of every retained ingest snapshot, by batch id. */
  def lsnRanges(ck: ObjectNode, table: LakeTable): Unit = {
    val arr = ck.putArray("ingest_snapshots")
    table.metadata.snapshots.filter(_.stepId == "cdc_ingest").foreach { s =>
      arr.addObject().put("batch_id", s.batchId)
        .put("lsn_min", s.lsnMin).put("lsn_max", s.lsnMax)
    }
  }
}
