package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, derived from the spans, the jobs and
  * the stage records of the traced ops. Time figures are per op (summed
  * over the op's spans, averaged over traced ops) unless named otherwise. */
object Layers {
  /** Algorithms that have an `algo.<name>_ms` metric. */
  val AlgoNames = Seq("pagerank", "wcc", "cdlp", "sssp", "bfs", "lcc", "triangles",
    "louvain", "node2vec", "jaccard")
  val SelfLayers = Seq("op", "cypher", "catalyst", "exec", "algo", "vector")

  private def topSingleTaskStage(st: Seq[StageRec]): Long =
    st.filter(_.tasks == 1).map(_.runMs).maxOption.getOrElse(0L)

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** All spans of each traced op (op span, engine spans, planner phases, jobs). */
  def spansByOp(tracer: Tracer, ops: Seq[Main.OpRun]): Map[Int, Seq[Span]] = {
    val ids = ops.filter(_.traced).map(_.id).toSet
    (tracer.spans ++ tracer.jobs).filter(s => ids(s.op)).toSeq.groupBy(_.op)
  }

  def metrics(out: mutable.LinkedHashMap[String, (Double, String)], ctx: Ctx, tracer: Tracer,
              ops: Seq[Main.OpRun], loadS: Double, warmS: Double): Unit = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val byOp = spansByOp(tracer, ops)
    val self = byOp.values.flatMap(SelfTime.of).toSeq
    def selfOf(layer: String, name: String) = self.filter(s => s._1.layer == layer && s._1.name == name)
    val parse = ctx.parseMs.filter(p => byOp.contains(p._1))
    def parseOf(entry: String) = parse.filter(_._2 == entry).map(_._3).sum

    out("cypher.parse_ms") = (parse.map(_._3).sum / n, "ms")
    out("cypher.translate_ms") =
      (math.max(0.0, selfOf("cypher", "execute").map(_._2).sum - parseOf("execute")) / n, "ms")
    out("cypher.write_ms") = (math.max(0.0, selfOf("cypher", "write").map(_._2).sum - parseOf("write")) / n, "ms")
    out("cypher.calls") = (self.count(_._1.layer == "cypher") / n, "count")
    out("catalyst.optimize_ms") = (selfOf("catalyst", "optimize").map(_._1.ms).sum / n, "ms")
    out("catalyst.physical_ms") = (selfOf("catalyst", "physical").map(_._1.ms).sum / n, "ms")
    out("catalyst.plan_nodes") = (mean(ctx.planNodes.map(_.toDouble)), "count")

    val ids = traced.map(_.id).toSet
    val stages = tracer.stages.values.filter(r => ids(r.op)).toSeq
    val tasks = stages.map(_.tasks).sum
    out("exec.jobs_per_op") = (tracer.jobs.count(j => ids(j.op)) / n, "count")
    out("exec.stages_per_op") = (stages.size / n, "count")
    out("exec.tasks_per_op") = (tasks / n, "count")
    out("exec.nonempty_task_frac") = (if (tasks == 0) 0.0 else stages.map(_.nonempty).sum.toDouble / tasks, "frac")
    out("exec.task_cpu_ms") = (stages.map(_.cpuNs).sum / 1e6 / n, "ms")
    out("exec.sched_delay_ms") = (stages.map(_.schedMs).sum / n, "ms")
    out("exec.gc_ms") = (stages.map(_.gcMs).sum / n, "ms")
    out("exec.shuffle_read_mb") = (stages.map(_.shufRead).sum / 1e6 / n, "MB")
    out("exec.shuffle_write_mb") = (stages.map(_.shufWrite).sum / 1e6 / n, "MB")
    out("exec.spill_mb") = (stages.map(_.spill).sum / 1e6 / n, "MB")
    out("exec.driver_ms") = (traced.map { o =>
      val js = byOp.getOrElse(o.id, Nil).filter(_.layer == "exec")
        .filter(_.name == "job").map(j => (math.max(j.start, o.start), math.min(j.end, o.start + o.ms)))
        .filter(j => j._2 > j._1)
      o.ms - SelfTime.covered(js)
    }.sum / n, "ms")
    out("exec.storage_peak_mb") = (tracer.storagePeak / 1e6, "MB")

    out("model.load_s") = (loadS, "s")
    out("model.warmup_s") = (warmS, "s")

    AlgoNames.foreach { a =>
      out(s"algo.${a}_ms") = (mean(traced.filter(_.kind == a).map(_.ms)), "ms")
    }
    val algoOps = traced.filter(o => AlgoNames.contains(o.kind))
    out("algo.jobs_per_call") =
      (if (algoOps.isEmpty) 0.0 else algoOps.map(o => tracer.jobs.count(_.op == o.id)).sum.toDouble / algoOps.size, "count")
    // a gated call ran on the kernel route when one single-task stage took
    // at least half of its task time: the in-task kernel runs the whole
    // algorithm in one task, while a superstep loop spreads its work over
    // several stages per round (on small inputs AQE may coalesce each of
    // them to one task, but none dominates)
    val gated = traced.filter(o => Algo.Gated(o.kind))
    val kernel = gated.count { o =>
      val st = stages.filter(_.op == o.id)
      st.nonEmpty && topSingleTaskStage(st) * 2 >= st.map(_.runMs).sum
    }
    out("algo.kernel_route_frac") = (if (gated.isEmpty) 0.0 else kernel.toDouble / gated.size, "frac")
    out("vector.knn_ms") = (mean(traced.filter(_.kind == "knn").map(_.ms)), "ms")

    SelfLayers.foreach { l =>
      out(s"$l.self_ms") = (self.filter(_._1.layer == l).map(_._2).sum / n, "ms")
    }

    // same ops (parameters aside), traced against untraced
    def name(o: Main.OpRun) = o.key.takeWhile(_ != '#')
    val untraced = ops.filterNot(_.traced).groupBy(name)
    val pairs = traced.groupBy(name).toSeq.collect {
      case (k, t) if untraced.contains(k) => (mean(t.map(_.ms)), mean(untraced(k).map(_.ms)))
    }
    val base = pairs.map(_._2).sum
    out("trace.overhead_frac") = (if (base <= 0) 0.0 else pairs.map(_._1).sum / base - 1, "frac")
  }

  /** One JSON line per set-up step, then per traced op one line per span
    * with its self time and one summary line. */
  def writeSpans(path: String, ctx: Ctx, tracer: Tracer, ops: Seq[Main.OpRun]): Unit = {
    val byOp = spansByOp(tracer, ops)
    val sb = new StringBuilder
    tracer.spans.filter(_.op == -1).foreach { s => // set-up steps
      sb ++= Json.obj("op" -> -1, "layer" -> s.layer, "name" -> s.name, "ms" -> s.ms, "self_ms" -> s.ms).toString += '\n'
    }
    ops.filter(_.traced).foreach { o =>
      val spans = SelfTime.of(byOp.getOrElse(o.id, Nil))
      spans.foreach { case (s, selfMs) =>
        sb ++= Json.obj("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
          "start_ms" -> (s.start - o.start), "ms" -> s.ms, "self_ms" -> selfMs).toString += '\n'
      }
      val stages = tracer.stages.values.filter(_.op == o.id)
      sb ++= Json.obj("op" -> o.id, "key" -> o.key, "kind" -> o.kind, "wall_ms" -> o.ms, "ok" -> o.ok,
        "self_ms" -> Json.obj(SelfLayers.map(l => l -> spans.filter(_._1.layer == l).map(_._2).sum): _*),
        "parse_ms" -> ctx.parseMs.filter(_._1 == o.id).map(_._3).sum,
        "stages" -> stages.size, "tasks" -> stages.map(_.tasks).sum,
        "top_single_task_stage_ms" -> topSingleTaskStage(stages.toSeq),
        "task_run_ms" -> stages.map(_.runMs).sum).toString += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
