package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.IcebergTable
import graft.streaming.UpsertEnvelope

/** `upsert_stream`: a generated keyed upsert log `(key, value or tombstone,
  * offset)`, written as replay chunks, streamed with `Trigger.AvailableNow`
  * (one chunk per micro-batch) through `UpsertEnvelope.toChangelog`. A
  * `foreachBatch` sink applies each micro-batch's consolidated changes with
  * `IcebergTable.applyChangeSet`, keyed by batch id. Each round ingests the
  * whole log into a fresh table, re-applies a committed batch id (which must
  * be a no-op) and reads the table. */
object UpsertStream {
  private val Log = StructType(Seq("key", "value", "offset").map(StructField(_, LongType)))
  private val Table = StructType(Seq("key", "value").map(StructField(_, LongType)))

  def round(ctx: Ctx)(dir: String, work: String, r: Option[Int]): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._

    val table = new IcebergTable(spark, s"$work/table")
    table.create(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Table))
    def applyBatch(b: DataFrame, id: Long): Unit = {
      val net = b.groupBy("key", "value").agg(sum("diff").as("d")).filter(col("d") =!= 0)
      val newRows = net.filter(col("d") > 0).select("key", "value")
      val deleted = net.filter(col("d") < 0).select("key").except(newRows.select("key"))
      table.applyChangeSet(newRows, deleted, Seq("key"), batchId = id)
      ()
    }
    val upserts = spark.readStream.schema(Log).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/upsert/log")
      .select(col("key").as("_1"), col("value").as("_2"), col("offset").as("_3"))
      .as[(Long, Option[Long], Long)]
    val (query, ingestOp) = ctx.timed(r, "ingest", "stream") {
      val q = UpsertEnvelope.toChangelog(upserts).writeStream
        .option("checkpointLocation", s"$work/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[(Long, Long, Long)], id: Long) =>
          applyBatch(b.toDF("key", "value", "diff"), id)
        }
        .start()
      q.awaitTermination()
      q
    }
    val triggers = query.recentProgress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (p.batchId, start, p.durationMs.get("triggerExecution").longValue)
    }.toSeq

    // re-committing an applied batch id must change nothing
    val before = table.currentSnapshotId
    val (replayed, replayOp) = ctx.timed(r, "replay", "batch 0")(
      table.applyChangeSet(spark.range(3).select(col("id").as("key"), col("id").as("value")),
        spark.range(0).select(col("id").as("key")), Seq("key"), batchId = 0L))
    val replayNoOp = replayed.isEmpty && table.currentSnapshotId == before

    val (_, readOp) = ctx.timed(r, "read", "table")(
      table.read().write.format("noop").mode("overwrite").save())
    val finalDir = s"$work/table_final"
    table.read().write.mode("overwrite").parquet(finalDir)
    ctx.check(r, ingestOp, "upsert_batches", "batches" -> triggers.size)
    ctx.check(r, replayOp, "replay", "ok" -> replayNoOp)
    ctx.check(r, readOp, "upsert_final", "dir" -> finalDir)
    Map("microbatches" -> triggers.map { case (b, s, ms) =>
      Map("batch" -> b, "start_ms" -> s, "trigger_ms" -> ms) },
      "data_files" -> table.metadata.entries.count(_.content == "data"),
      "delete_files" -> table.metadata.entries.count(_.content == "equality-deletes"),
      "table_bytes" -> Main.diskBytes(Paths.get(s"$work/table")))
  }
}
