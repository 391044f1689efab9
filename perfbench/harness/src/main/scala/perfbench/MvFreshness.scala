package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.views.ViewCatalog

/** `mv_freshness`: a generated base relation maintained as an accumulable
  * grouped aggregate — `createMaterializedView`, then
  * `refreshIncrementalAccumulable` per change batch. Each round starts from
  * a fresh catalog, hydrates the view, applies the same fixed sequence of
  * change batches (after every commit it peeks at the batch's changed keys,
  * and separately at the NULL group), then recomputes with `refreshFull`. */
object MvFreshness {
  private def longs(names: String*) = StructType(names.map(StructField(_, LongType)))
  private val Base = longs("k", "v")
  private val Batch = longs("k", "v", "diff")

  /** Versions whose `tableAt(v-1) ⊎ deltaAt(v) = tableAt(v)` is checked:
    * a delta-only commit, a compacting commit (every 4th version) and the
    * closing full refresh (version batches + 1). */
  private def propertyVersions(batches: Int) = Seq(2, 4, batches + 1).filter(_ <= batches + 1).distinct

  def round(ctx: Ctx)(dir: String, work: String, r: Option[Int]): Map[String, Any] = {
    val spark = ctx.spark
    def read(schema: StructType, rel: String) = spark.read.schema(schema).parquet(s"$dir/agg/$rel")
    val meta = new ObjectMapper().readTree(Paths.get(dir, "agg", "meta.json").toFile)
    val batches = meta.get("batches").asInt
    val peekKeys = (1 to batches).map(b =>
      meta.get("keys").get(b - 1).elements().asScala.map(_.asLong: Any).toSeq)

    // the view's definition reads the base relation ⊎ the batches applied so
    // far, so `refreshFull` recomputes the current state
    var applied = 0
    val define = (_: org.apache.spark.sql.SparkSession) =>
      (1 to applied).foldLeft(read(Base, "base.parquet").withColumn("diff", lit(1L))) {
        (acc, b) => acc.unionByName(read(Batch, f"batch-$b%03d.parquet"))
      }.groupBy("k")
        .agg(sum("diff").as("support"), sum(col("v") * col("diff")).as("s"))
        .filter(col("support") > 0)

    val viewsDir = Paths.get(work, "views").toString
    val cat = new ViewCatalog(spark, viewsDir)
    ctx.timed(r, "hydrate", "agg")(cat.createMaterializedView("agg", define))

    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map((row: Row) => row.toSeq.map(v => v: Any))
    val commitOps = scala.collection.mutable.Map.empty[Int, Int]
    (1 to batches).foreach { b =>
      val delta = read(Batch, f"batch-$b%03d.parquet")
      commitOps(b) = ctx.timed(r, "commit", s"b$b")(
        cat.refreshIncrementalAccumulable("agg", delta, Seq("k"), Map("s" -> "v")))._2
      applied = b
      val (peek, peekOp) = ctx.timed(r, "peek", s"b$b")(
        rows(cat.table("agg").where(col("k").isin(peekKeys(b - 1): _*))))
      ctx.check(r, peekOp, "peek", "batch" -> b, "rows" -> peek)
      val (nullPeek, nullOp) = ctx.timed(r, "peek_null", s"b$b")(
        rows(cat.table("agg").where(col("k").isNull)))
      ctx.check(r, nullOp, "peek_null", "batch" -> b, "rows" -> nullPeek)
    }
    commitOps(batches + 1) = ctx.timed(r, "recompute", "agg")(cat.refreshFull("agg"))._2
    if (r.isEmpty) return Map.empty

    // outputs for the oracle, written after the timed operations
    val aggFinal = s"$work/agg_final"
    cat.table("agg").write.mode("overwrite").parquet(aggFinal)
    ctx.check(r, commitOps(batches + 1), "agg_final", "dir" -> aggFinal, "batches" -> batches)
    propertyVersions(batches).foreach { v =>
      val p = s"$work/property-v$v"
      cat.tableAt("agg", v - 1).write.mode("overwrite").parquet(s"$p/prev")
      cat.deltaAt("agg", v).write.mode("overwrite").parquet(s"$p/delta")
      cat.tableAt("agg", v).write.mode("overwrite").parquet(s"$p/cur")
      ctx.check(r, commitOps(v), "property", "version" -> v, "dir" -> p)
    }

    val snapshots = Files.list(Paths.get(viewsDir, "agg")).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("v=")).map(_.stripPrefix("v=").toInt).toSeq
    Map("view_bytes" -> Main.diskBytes(Paths.get(viewsDir)),
      "snapshot_writes" -> snapshots.size,
      "chain_len_max" -> (0 to batches + 1).map(v => v - snapshots.filter(_ <= v).max).max)
  }
}
