package perfbench

import scala.jdk.CollectionConverters._

/** Attributes a traced run's listener events to the operations that caused
  * them and lays the result out as spans. Per operation it reports the
  * Catalyst phase times, the Spark jobs/stages/tasks with their bytes and
  * CPU, the union of job intervals, and the gap: wall time that is neither
  * planning nor job execution (work on the calling side between jobs). */
object Layers {

  /** Union length of intervals clipped to [lo, hi], in ms. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    c.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }

  /** The op each timestamp belongs to (ops are sequential; the first whose
    * window holds it wins on a shared millisecond). */
  private def owner(ops: Seq[Op])(t: Long): Option[Op] =
    ops.find(o => o.startMs <= t && t <= o.endMs)

  def perOp(ops: Seq[Op], tr: Tracer): Seq[Map[String, Any]] = {
    val own = owner(ops.sortBy(_.startMs)) _
    val jobs = tr.jobs.asScala.toSeq.groupBy(j => own(j.startMs).map(_.id))
    val stages = tr.stages.asScala.toSeq.groupBy(t => own(t).map(_.id))
    val tasks = tr.tasks.asScala.toSeq.groupBy(t => own(t.finishMs).map(_.id))
    val phases = tr.phases.asScala.toSeq.groupBy(p => own(p.startMs).map(_.id))
    val actions = tr.actions.asScala.toSeq.groupBy(t => own(t).map(_.id))
    ops.map { o =>
      val k = Some(o.id)
      val js = jobs.getOrElse(k, Nil)
      val ts = tasks.getOrElse(k, Nil)
      val ph = phases.getOrElse(k, Nil)
      def phase(n: String) = ph.filter(_.name == n).map(p => p.endMs - p.startMs).sum / 1e3
      val planning = phase("analysis") + phase("optimization") + phase("planning")
      val jobS = unionMs(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs) / 1e3
      Map[String, Any](
        "op" -> o.id,
        "plan.parsing_s" -> phase("parsing"),
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "plan.actions" -> actions.getOrElse(k, Nil).size,
        "exec.jobs" -> js.size,
        "exec.stages" -> stages.getOrElse(k, Nil).size,
        "exec.tasks" -> ts.size,
        "exec.job_s" -> jobS,
        "exec.gap_s" -> (o.seconds - planning - jobS),
        "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "exec.input_bytes" -> ts.map(_.inputBytes).sum,
        "exec.output_bytes" -> ts.map(_.outputBytes).sum,
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum,
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum,
        "exec.spill_bytes" -> ts.map(_.spillBytes).sum)
    }
  }

  /** Micro-batch progress of every streaming query, with the op it ran in. */
  def progress(ops: Seq[Op], tr: Tracer): Seq[Map[String, Any]] = {
    val own = owner(ops.sortBy(_.startMs)) _
    tr.progress.asScala.toSeq.sortBy(_.startMs).map { p =>
      Map[String, Any]("op" -> own(p.startMs).map(_.id).getOrElse(-1),
        "batch" -> p.batchId, "start_ms" -> p.startMs, "duration_ms" -> p.durationMs,
        "state_rows" -> p.stateRows, "state_memory_bytes" -> p.stateMemoryBytes,
        "state_commit_ms" -> p.stateCommitMs)
    }
  }

  /** Span tree: run → round → operation → {job, Catalyst phase, micro-batch}.
    * Every span has an id, a parent id (0 = the run), a name and its bounds. */
  def spans(ops: Seq[Op], rounds: Seq[(Int, Long, Long)], tr: Tracer): Seq[Map[String, Any]] = {
    var next = 0L
    def span(parent: Long, name: String, s: Long, e: Long): (Long, Map[String, Any]) = {
      next += 1
      (next, Map("id" -> next, "parent" -> parent, "name" -> name, "start_ms" -> s, "end_ms" -> e))
    }
    val own = owner(ops.sortBy(_.startMs)) _
    val out = Seq.newBuilder[Map[String, Any]]
    val roundIds = rounds.map { case (r, s, e) =>
      val (id, m) = span(0L, s"round $r", s, e); out += m; r -> id
    }.toMap
    val opIds = ops.map { o =>
      val (id, m) = span(roundIds.getOrElse(o.round, 0L), s"${o.kind} ${o.name}", o.startMs, o.endMs)
      out += m; o.id -> id
    }.toMap
    def child(t: Long, name: String, s: Long, e: Long): Unit =
      own(t).foreach(o => out += span(opIds(o.id), name, s, e)._2)
    tr.jobs.asScala.foreach(j => child(j.startMs, s"job ${j.id}", j.startMs, j.endMs))
    tr.phases.asScala.foreach(p => child(p.startMs, s"catalyst ${p.name}", p.startMs, p.endMs))
    tr.progress.asScala.foreach { p =>
      val e = p.startMs + p.durationMs.getOrElse("triggerExecution", 0L)
      child(p.startMs, s"microbatch ${p.batchId}", p.startMs, e)
    }
    out.result()
  }
}
