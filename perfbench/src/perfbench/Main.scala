package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Closed-loop benchmark driver: one client thread on local[nproc].
  *
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --root DIR --out FILE [--scale full|tiny]
  *
  * Reads the inputs gen.py wrote under DIR/data (or generates the power-law
  * graph of algo_dist from the seed), sets up (session, graph load, warm-up),
  * runs whole cycles of the workload's op mix until S seconds have passed, checks every result and writes one JSON record to
  * FILE. With --trace 1 ops alternate between traced and untraced; the
  * per-layer figures come from the traced ops and the ratio of the two
  * kinds gives the tracing overhead. Exit code 1 when a check failed. */
object Main {
  val Workloads = Seq("snb_read", "snb_mixed", "algo_kernel", "algo_dist")

  /** splitmix64 finalizer: seeded parameter draws. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, out: String, tiny: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m("root"), m("out"), m.getOrElse("scale", "full") == "tiny")
  }

  def session(cpus: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .config("spark.sql.maxPlanStringLength", "32768")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class OpRun(id: Int, key: String, kind: String, traced: Boolean,
                         start: Double, ms: Double, ok: Boolean, error: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadavg()
    val data = s"${a.root}/data"

    // ---- setup: session start, graph load, parameter domains, warm-up ----
    val tSession = System.nanoTime()
    val spark = session(cpus, a.root)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    if (a.trace) spark.sparkContext.addSparkListener(tracer)
    val ctx = new Ctx(spark, tracer)

    val vertices = if (a.tiny) 20000L else 40000L
    val w: Workload = a.workload match {
      case "snb_read" => new SnbRead(ctx, data, a.seed)
      case "snb_mixed" => new SnbMixed(ctx, data, a.seed)
      case "algo_kernel" => new AlgoKernel(ctx, data, a.seed)
      case "algo_dist" => new AlgoDist(ctx, vertices, a.seed)
    }
    /** Run a set-up step; traced runs keep it as a span of the set-up (op -1). */
    def setupStep(layer: String, name: String)(body: => Unit): Double = {
      val t0 = tracer.now()
      body
      val t1 = tracer.now()
      if (a.trace) tracer.spans += Span(-1, layer, name, t0, t1)
      (t1 - t0) / 1000
    }
    val loadS = setupStep("model", "load")(w.load())
    val prepS = setupStep("op", "prepare")(w.prepare())

    val runs = mutable.ArrayBuffer.empty[OpRun]
    val digests = mutable.LinkedHashMap.empty[String, String]
    var nextId = 0
    def runOp(op: Op, traced: Boolean): OpRun = {
      val id = nextId; nextId += 1
      ctx.opId = id
      if (traced) tracer.begin(id)
      val t0 = tracer.now()
      val (ok, err) =
        try {
          val d = op.run()
          digests.get(op.key) match {
            case Some(prev) if prev != d => (false, s"digest $d differs from first run's $prev")
            case _ => digests(op.key) = d; (true, "")
          }
        } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      val t1 = tracer.now()
      if (traced) {
        tracer.spans += Span(id, "op", op.key, t0, t1)
        tracer.end()
        ctx.flushParse()
      }
      val r = OpRun(id, op.key, op.kind, traced, t0, t1 - t0, ok, err)
      if (!ok) System.err.println(s"[perfbench] FAILED ${op.key}: $err")
      runs += r
      r
    }

    val warmS = setupStep("model", "warmup")(w.warmup.foreach(runOp(_, traced = false)))
    val setupS = sessionS + loadS + prepS + warmS
    // the warm-up pass runs every op shape once
    val warmDigest = Digest.hex(digests.toSeq.sortBy(_._1).map { case (k, d) => s"$k=$d" }.mkString(";"))

    // ---- measurement: whole cycles until --seconds have passed ----
    val measured = mutable.ArrayBuffer.empty[OpRun]
    val tRun = tracer.now()
    var c = 1
    val minCycles = if (a.trace) 2 else 1
    while (c - 1 < minCycles || tracer.now() - tRun < a.seconds * 1000) {
      // traced runs trace every other op, the other half in the next cycle,
      // so each op is traced once per two cycles and the untraced twin of
      // a traced op runs as often before it as after it
      w.cycle(c).zipWithIndex.foreach { case (op, i) =>
        measured += runOp(op, traced = a.trace && (i + c) % 2 == 1)
      }
      c += 1
    }
    val elapsedS = (tracer.now() - tRun) / 1000
    if (a.trace) tracer.drain()
    val loadAfter = loadavg()

    // ---- results ----
    val failed = runs.filterNot(_.ok)
    val pinned = Pinned.lookup(a.workload, a.tiny, a.seed)
    val digestOk = pinned.forall(_ == warmDigest)
    if (!digestOk) System.err.println(s"[perfbench] result digest $warmDigest != pinned ${pinned.get}")
    val correct = failed.isEmpty && digestOk

    def pct(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
    /** Highest percentile with >= 10 samples beyond it → (value, percentile).
      * Below 21 samples no such percentile lies above the median, and the
      * maximum (percentile 100) is reported instead. */
    def tail(xs: Seq[Double]): (Double, Double) = {
      val s = xs.sorted
      if (s.isEmpty) (0.0, 0.0)
      else if (s.size < 21) (s.last, 100.0)
      else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }
    val base = if (a.trace) measured.filter(_.traced) else measured
    val lat = base.map(_.ms).toSeq
    val reads = base.filter(_.kind == "read").map(_.ms).toSeq
    val writes = base.filter(_.kind == "write").map(_.ms).toSeq
    val (tailV, tailP) = tail(lat)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (measured.size / elapsedS, "ops/s")
      metrics("lat_p50_ms") = (pct(lat, 0.5), "ms")
      metrics("lat_tail_ms") = (tailV, "ms")
    } else {
      Layers.metrics(metrics, ctx, tracer, measured.toSeq, loadS, warmS)
      metrics("op.read_p50_ms") = (pct(reads, 0.5), "ms")
      metrics("op.read_tail_ms") = (tail(reads)._1, "ms")
      metrics("op.write_p50_ms") = (pct(writes, 0.5), "ms")
      metrics("op.write_tail_ms") = (tail(writes)._1, "ms")
      Layers.writeSpans(s"${a.out}.spans.jsonl", ctx, tracer, measured.toSeq)
    }

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "scale" -> (if (a.tiny) "tiny" else "full"),
      "correct" -> correct, "attempted" -> runs.size, "failed" -> failed.size,
      "fail_frac" -> failed.size.toDouble / runs.size,
      "failures" -> failed.take(20).map(f => s"${f.key}: ${f.error}"),
      "result_digest" -> warmDigest, "pinned_digest" -> pinned.getOrElse(""),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "lat_samples" -> lat.size, "lat_tail_percentile" -> tailP,
      "read_p50_ms" -> pct(reads, 0.5), "read_tail_ms" -> tail(reads)._1,
      "write_p50_ms" -> pct(writes, 0.5), "write_tail_ms" -> tail(writes)._1,
      "setup" -> Json.obj("session_s" -> sessionS, "load_s" -> loadS, "params_s" -> prepS,
        "warmup_s" -> warmS),
      "by_op" -> Json.obj(measured.groupBy(_.key.takeWhile(_ != '#')).toSeq.sortBy(_._1).map { case (k, rs) =>
        k -> Json.obj("n" -> rs.size, "mean_ms" -> rs.map(_.ms).sum / rs.size)
      }: _*),
      "measured" -> Json.obj("ops" -> measured.size, "cycles" -> (c - 1), "elapsed_s" -> elapsedS),
      "machine" -> Json.obj("nproc" -> cpus, "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version, "seed" -> a.seed))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), record + "\n")
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Warm-up result digests of the default seed, pinned per workload and
  * scale. A change to a workload's ops or inputs must re-pin its digests. */
object Pinned {
  val DefaultSeed = 1L
  private val full = Map(
    "snb_read" -> "949d1429c083bb6d", "snb_mixed" -> "e7ae804db2c45bc3",
    "algo_kernel" -> "b927cbb0ae68848f", "algo_dist" -> "9f4021551a200ec8")
  private val tiny = Map(
    "snb_read" -> "3e91393df83bae09", "snb_mixed" -> "a5ad125a999e97f2",
    "algo_kernel" -> "8d75041e164048e5", "algo_dist" -> "5f895df0ead6a529")
  def lookup(workload: String, isTiny: Boolean, seed: Long): Option[String] =
    if (seed != DefaultSeed) None else (if (isTiny) tiny else full).get(workload)
}

/** Minimal JSON rendering for the run record. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    override def toString: String = fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = new Obj(fields)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
  def render(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
