package perfbench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.views.{MaintainedJoinN, ViewCatalog}

/** `mv_join`: three generated relations in0(okey, a) ⋈ in1(okey, ckey) ⋈
  * in2(ckey, c) maintained as a `MaintainedJoinN`. Each round starts from a
  * fresh catalog, initializes the join, applies the same fixed sequence of
  * per-input change batches, then re-applies a committed batch id, which
  * must change nothing. */
object MvJoin {
  private def longs(names: String*) = StructType(names.map(StructField(_, LongType)))
  private val In = Seq(longs("okey", "a"), longs("okey", "ckey"), longs("ckey", "c"))

  def round(ctx: Ctx)(dir: String, work: String, r: Option[Int]): Map[String, Any] = {
    val spark = ctx.spark
    def read(schema: StructType, rel: String) = spark.read.schema(schema).parquet(s"$dir/join/$rel")
    val batches = new ObjectMapper().readTree(Paths.get(dir, "join", "meta.json").toFile)
      .get("batches").asInt
    def deltas(b: Int) = In.indices.map(i =>
      read(In(i).add("diff", LongType), f"batch-$b%03d-in$i.parquet"))

    val viewsDir = Paths.get(work, "views").toString
    val mj = new MaintainedJoinN(new ViewCatalog(spark, viewsDir), "j", 3,
      Seq(Seq("okey"), Seq("ckey")))
    ctx.timed(r, "hydrate", "join")(mj.initialize(In.indices.map(i => read(In(i), s"in$i.parquet"))))
    val lastOp = (1 to batches).map { b =>
      ctx.timed(r, "join", s"b$b")(mj.applyBatch(deltas(b), batchId = b.toLong))._2
    }.last
    val seq = mj.currentSeq
    val (replayed, replayOp) = ctx.timed(r, "replay", "b1")(mj.applyBatch(deltas(1), batchId = 1L))
    ctx.check(r, replayOp, "replay", "ok" -> (!replayed && mj.currentSeq == seq))
    if (r.isEmpty) return Map.empty

    val joinFinal = s"$work/join_final"
    mj.output.write.mode("overwrite").parquet(joinFinal)
    ctx.check(r, lastOp, "join_final", "dir" -> joinFinal, "batches" -> batches)
    Map("view_bytes" -> Main.diskBytes(Paths.get(viewsDir)))
  }
}
