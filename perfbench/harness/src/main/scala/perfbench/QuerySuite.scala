package perfbench

import scala.util.Try

import graft.functions.{CollectorQueries, FunctionQueries, PgFunctionQueries}
import graft.multimodal.MultimodalQueries
import graft.operators.{AggregateQueries, RelationalQueries, SqlQueries, WindowQueries}
import graft.similarity.SimilarityQueries
import graft.sources.{SinkQueries, SourceQueries}
import graft.streaming.{StreamExecQueries, StreamingQueries}
import graft.text.TextQueries
import graft.tpch.TpchQueries
import graft.views.ViewQueries

/** `query_suite`: `SparkEntry.queries` entries, one after another, each
  * forced through the `noop` sink. The untimed warm-up runs every
  * query once the same way; each timed round runs them all again. After the
  * rounds every query runs once more, untimed, writing its result for the
  * DuckDB oracle check. */
object QuerySuite {

  /** The inventories `SparkEntry` aggregates, by module. */
  val inventories: Seq[(String, Seq[graft.Q])] = Seq(
    "relational" -> RelationalQueries.defs, "window" -> WindowQueries.defs,
    "sql" -> SqlQueries.defs, "aggregate" -> AggregateQueries.defs,
    "function" -> FunctionQueries.defs, "collector" -> CollectorQueries.defs,
    "pg_function" -> PgFunctionQueries.defs, "tpch" -> TpchQueries.defs,
    "text" -> TextQueries.defs, "similarity" -> SimilarityQueries.defs,
    "multimodal" -> MultimodalQueries.defs, "streaming" -> StreamingQueries.defs,
    "stream_exec" -> StreamExecQueries.defs, "view" -> ViewQueries.defs,
    "source" -> SourceQueries.defs, "sink" -> SinkQueries.defs)

  def run(ctx: Ctx, names: Seq[String]): Map[String, Any] = {
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val inventoryOf = inventories.flatMap { case (inv, qs) => qs.map(_.name -> inv) }.toMap
    def run(name: String) = queries(name)(ctx.spark, ctx.in)

    def noop(name: String) = Try(run(name).write.format("noop").mode("overwrite").save())
    names.foreach(noop)
    val errors = scala.collection.mutable.Map.empty[String, String]
    ctx.rounds { _ =>
      names.foreach { n =>
        ctx.rec.timed("query", n)(noop(n))._1.failed.foreach(e => errors(n) = e.toString.take(500))
      }
    }
    // outputs for the oracle, written after the timed rounds
    names.foreach { n =>
      Try(run(n).coalesce(1).write.mode("overwrite").parquet(ctx.outDir(s"q/$n")))
        .failed.foreach(e => errors.getOrElseUpdate(n, e.toString.take(500)))
    }
    ctx.rec.ops.foreach { o =>
      ctx.rec.check(o.id, "query", "name" -> o.name, "dir" -> ctx.outDir(s"q/${o.name}"),
        "oracle" -> oracle.get(o.name), "error" -> errors.get(o.name))
    }
    Map("inventory" -> names.map(n => n -> inventoryOf.getOrElse(n, "other")).toMap)
  }
}
