package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its generated inputs, a scratch
  * directory for outputs the oracle step reads, and the recorder. */
final case class Ctx(spark: SparkSession, in: String, out: String, seconds: Double,
    rec: Recorder) {

  /** Whole rounds of the workload's operations until `seconds` have passed
    * since the first timed operation; always at least one round. */
  def rounds(body: Int => Unit): Unit = {
    var r = 0
    do { rec.inRound(r)(body(r)); r += 1 }
    while (System.currentTimeMillis() - rec.firstOpMs < seconds * 1000)
  }

  def outDir(name: String): String = Paths.get(out, name).toString

  /** The untimed warm-up round over the small inputs under `<in>/warm`,
    * then timed rounds over the real ones. `round(inputs, scratch, r)` gets
    * `r = None` for the warm-up. */
  def warmThenRounds(round: (String, String, Option[Int]) => Map[String, Any]): Map[String, Any] = {
    round(Paths.get(in, "warm").toString, outDir("warm"), None)
    val perRound = Seq.newBuilder[Map[String, Any]]
    rounds(r => perRound += round(in, outDir(s"r$r"), Some(r)))
    Map("rounds" -> perRound.result())
  }

  /** An operation of round `r`, timed unless `r` is the warm-up (None). */
  def timed[T](r: Option[Int], kind: String, name: String)(f: => T): (T, Int) =
    if (r.isDefined) rec.timed(kind, name)(f) else (f, -1)

  /** A check of an operation of round `r`; the warm-up checks nothing. */
  def check(r: Option[Int], op: Int, kind: String, spec: (String, Any)*): Unit =
    r.foreach(n => rec.check(op, kind, (("round" -> n) +: spec): _*))
}

/** Benchmark harness entry point, started by `perfbench/run.py`:
  * `--workload <name> --in <inputs> --out <scratch> --seconds <s>
  *  --trace <0|1> --cpus <n> [--queries <a,b,...>]`.
  * Writes `<scratch>/result.json`: the timed operations, the output checks
  * for the oracle step, machine context and, when traced, the per-op layer
  * attribution and spans. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = graft.GraftSession.create(s"local[${a("cpus")}]")
    val sessionMs = System.currentTimeMillis()
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val ctx = Ctx(spark, a("in"), a("out"), a("seconds").toDouble, new Recorder)
    val extra: Map[String, Any] = a("workload") match {
      case "query_suite" => QuerySuite.run(ctx, a("queries").split(",").toSeq)
      case "mv_freshness" => ctx.warmThenRounds(MvFreshness.round(ctx))
      case "mv_join" => ctx.warmThenRounds(MvJoin.round(ctx))
      case "upsert_stream" => ctx.warmThenRounds(UpsertStream.round(ctx))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calib = calibSpark(spark)
    tracer.foreach(_.drain())
    val rec = ctx.rec
    val trace = tracer.map { tr =>
      Map("per_op" -> Layers.perOp(rec.ops.toSeq, tr),
        "progress" -> Layers.progress(rec.ops.toSeq, tr),
        "spans" -> Layers.spans(rec.ops.toSeq, rec.rounds.toSeq, tr))
    }
    val result = Map(
      "session_ms" -> sessionMs,
      "first_op_ms" -> rec.firstOpMs,
      "ops" -> rec.ops.toSeq,
      "checks" -> rec.checks.toSeq,
      "rounds" -> rec.rounds.toSeq.map { case (r, s, e) => Map("round" -> r, "start_ms" -> s, "end_ms" -> e) },
      "calib_spark_s" -> calib,
      "extra" -> extra,
      "trace" -> trace)
    val om = new ObjectMapper().registerModule(DefaultScalaModule)
    om.writeValue(new File(ctx.outDir("result.json")), result)
    spark.stop()
  }

  /** Machine context, not a metric: a fixed shuffle plus aggregation over
    * `spark.range` that no engine operator takes part in. Second of two laps. */
  private def calibSpark(spark: SparkSession): Double = {
    def lap(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 10000000L, 1, 32).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    lap(); lap()
  }

  /** Bytes of all files under `p`. */
  def diskBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}
