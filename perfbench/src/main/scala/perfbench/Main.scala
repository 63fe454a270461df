package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    outDir: String,
    corrupt: Boolean,
    selftest: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    Args(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      outDir = kv.getOrElse("out", "perfbench/out"),
      corrupt = kv.getOrElse("corrupt", "0") == "1",
      selftest = kv.get("selftest"))
  }
}

/** What a run hands every workload: the session, the op recorder, the
  * tracer, and the correctness-check plumbing. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  @volatile var rec = new Recorder
  /** Traced ops set a job group on their thread (single-caller workloads). */
  var jobGroups = true
  /** check name → (attempted, failed); a check is one comparison of an
    * engine output against the benchmark's own expected value. */
  private val checkCounts = mutable.LinkedHashMap[String, (Long, Long)]()

  /** One timed operation. Traced, it is a root span, and its Spark jobs
    * carry the op's request id as their job group. */
  def op(kind: String)(body: => Boolean): Unit = rec.op(kind) {
    tracer.root(kind) {
      if (!tracer.on || !jobGroups) body
      else {
        val sc = spark.sparkContext
        sc.setJobGroup(s"op-${tracer.currentReq}", kind, interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      }
    }
  }

  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)

  /** The expected value a check compares against. With `--corrupt 1`
    * every expected value is perturbed, so every check must fail — the
    * benchmark's test of its own checks. */
  def expect(v: BigDecimal): BigDecimal = if (args.corrupt) v + BigDecimal("0.0001") else v
  def expect(v: Double): Double = if (args.corrupt) v + 1.0 else v
  def expect(v: Long): Long = if (args.corrupt) v + 1 else v
  /** An expected empty cell reads as 1.0 when corrupted. */
  def expectOpt(v: Option[Double]): Option[Double] =
    if (args.corrupt) Some(v.getOrElse(0.0) + 1.0) else v

  /** Record the outcome of check `name`; returns `ok`. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    checkCounts.synchronized {
      val (a, f) = checkCounts.getOrElse(name, (0L, 0L))
      checkCounts(name) = (a + 1, if (ok) f else f + 1)
    }
    if (!ok) rec.fail(s"check $name failed: $detail")
    ok
  }

  def checks: Map[String, (Long, Long)] = checkCounts.synchronized(checkCounts.toMap)
}

/** A benchmark workload. `setup` runs `setupReps` times: once before the
  * ops, which run on what it built, and the rest after the end-of-run
  * checks, so that nothing a rebuild leaves behind is resident while the
  * ops run. `run` is the closed loop until the deadline. */
trait Workload {
  def name: String
  /** Sizes, op mix, loop type — recorded in the run's artifact. */
  def describe: Map[String, Any]
  /** Generate the seeded inputs and the expected values (untimed, once). */
  def prepare(ctx: Ctx): Unit = ()
  /** One set-up pass; returns named phase times in seconds. */
  def setup(ctx: Ctx): Map[String, Double]
  def run(ctx: Ctx, deadlineNs: Long): Unit
  /** End-of-run checks (after the timed window). */
  def verify(ctx: Ctx): Unit
  /** Engine counters (e.g. the cube's cell-request counters) right now. */
  def counters: Map[String, Double] = Map.empty
  /** How many set-ups a run makes (their median is `setup_s`). */
  def setupReps: Int = 3
  /** How long the untimed warm-up loop runs before the timed window. */
  def warmupSeconds: Double
  /** Whether the timed ops run on one calling thread, so job groups can
    * attribute Spark jobs to single ops. */
  def singleCaller: Boolean = true
  def close(): Unit = ()
  /** Fingerprints of the generated inputs, for the determinism self-test. */
  def inputFingerprint(ctx: Ctx): Map[String, String]
}

object Main {
  val Workloads: Map[String, Long => Workload] = Map(
    "serving_mixed" -> (s => new ServingMixed(s)),
    "dedup_lsh" -> (s => new DedupLsh(s)))

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val make = Workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload '${args.workload}' (${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    new java.io.File(args.outDir).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    // the one setting the engine's own mains make (its tests use 4):
    // shuffle partitions = cores. Spark's default 200 turns each read of a
    // cached cube into a 200-task job. Nothing else is tuned.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args, new Tracer(args.trace))
    val w = make(args.seed)
    ctx.jobGroups = w.singleCaller
    val code =
      try args.selftest match {
        case Some("inputs") => selftestInputs(ctx, w); 0
        case Some(other) => System.err.println(s"unknown self-test '$other'"); 2
        case None => runWorkload(ctx, w, cpus, sessionS)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${args.workload} aborted: $e")
          e.printStackTrace()
          1
      } finally {
        try w.close() catch { case _: Throwable => () }
        spark.stop()
      }
    sys.exit(code)
  }

  private def selftestInputs(ctx: Ctx, w: Workload): Unit = {
    val fp = w.inputFingerprint(ctx)
    writeFile(s"${ctx.args.outDir}/inputs-${w.name}-${ctx.args.seed}.json",
      Json.obj(fp.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  private def runWorkload(ctx: Ctx, w: Workload, cpus: Int, sessionS: Double): Int = {
    val args = ctx.args
    val spark = ctx.spark
    val p0 = System.nanoTime()
    w.prepare(ctx)
    System.err.println(f"[perfbench] ${w.name}: inputs and expected values ${(System.nanoTime() - p0) / 1e9}%.2f s")
    // ---- set-up: the first, cold one; the ops run on what it built -----
    val s0 = System.nanoTime()
    val phases = w.setup(ctx)
    val s1 = System.nanoTime()
    // from process start to ready, less the benchmark's own input generation
    val coldS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - (s0 - p0) / 1e9
    // before any op runs: afterwards the heap also holds Spark's status
    // records of every job run so far, which grow with the op count
    val setupHeapMb = Stats.liveHeapMb()
    System.err.println(f"[perfbench] ${w.name}: session ${sessionS}%.2f s, set-up ${(s1 - s0) / 1e9}%.2f s, " +
      f"process start to ready ${coldS}%.2f s")

    // ---- warm-up: the same loop, untimed --------------------------------
    val warmRec = ctx.rec
    val warmS = w.warmupSeconds
    val w0 = System.nanoTime()
    w.run(ctx, w0 + (warmS * 1e9).toLong)
    System.err.println(f"[perfbench] ${w.name}: warm-up ${(System.nanoTime() - w0) / 1e9}%.2f s")
    val warmFailures = warmRec.failureMessages
    val warmFailed = warmRec.all.count(!_.ok)

    // ---- the timed window -----------------------------------------------
    val probe = if (args.trace) Some(new SparkProbe) else None
    probe.foreach { p => p.register(spark); p.settle() }
    val clock = new Clock
    ctx.rec = new Recorder
    val c0 = w.counters
    val gc0 = Stats.gcMs()
    val wallStart = System.nanoTime()
    w.run(ctx, wallStart + args.seconds * 1000000000L)
    val wallEnd = System.nanoTime()
    val gc1 = Stats.gcMs()
    val c1 = w.counters
    probe.foreach(_.settle())
    val samples = ctx.rec.all
    val wallS = (wallEnd - wallStart) / 1e9

    // ---- end-of-run checks ----------------------------------------------
    // attempted = every op (warm-up and timed) + every end-of-run check;
    // a check made inside an op fails that op, so it is not counted twice
    val timedRec = ctx.rec
    ctx.rec = new Recorder
    val before = ctx.checks
    val v0 = System.nanoTime()
    w.verify(ctx)
    System.err.println(f"[perfbench] ${w.name}: end-of-run checks ${(System.nanoTime() - v0) / 1e9}%.2f s")
    val endChecks = ctx.checks.map { case (k, (a, f)) =>
      val (a0, f0) = before.getOrElse(k, (0L, 0L)); k -> (a - a0, f - f0) }
    val failures = warmFailures ++ timedRec.failureMessages ++ ctx.rec.failureMessages
    val checks = ctx.checks
    val attempted = warmRec.all.size + samples.size + endChecks.values.map(_._1).sum
    val failed = warmFailed + samples.count(!_.ok) + endChecks.values.map(_._2).sum +
      ctx.rec.all.count(!_.ok)
    val correct = failed == 0 && samples.nonEmpty
    probe.foreach(_.unregister(spark))

    // ---- the remaining set-ups; the median of all is the metric ----------
    val setups = ((s1 - s0) / 1e9) +: (2 to w.setupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(setups)
    System.err.println(s"[perfbench] ${w.name}: set-ups " + setups.map(x => f"$x%.2f").mkString(", ") + " s")

    // ---- metrics ----------------------------------------------------------
    val byKind = samples.groupBy(_.kind).toSeq.sortBy(_._1)
    val kindRows = byKind.map { case (k, ss) =>
      val ms = ss.map(_.ms)
      k -> (ss.size, Stats.median(ms), Stats.quantile(ms, 0.9))
    }
    val opsPerS = samples.size / wallS
    val p50 = Stats.median(samples.map(_.ms))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ops_per_s", opsPerS, "op/s"),
      Metric("setup_heap_mb", setupHeapMb, "MB"))

    val spans = ctx.tracer.all
    val layer = probe.map { p =>
      LayerReport.metrics(w, samples, spans, p, clock, wallStart, wallEnd, cpus,
        (gc1 - gc0).toDouble, c0, c1, opsPerS, p50)
    }
    val metrics = if (args.trace) layer.get else e2e

    // ---- artifact + result line --------------------------------------------
    val tag = s"${w.name}-${args.seed}-trace${if (args.trace) 1 else 0}"
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> Json.num(args.seed.toDouble),
      "seconds" -> Json.num(args.seconds.toDouble),
      "cpus" -> Json.num(cpus.toDouble),
      "describe" -> Json.any(w.describe),
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "setup_phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "setup_cold_s" -> Json.num(coldS),
      "window_s" -> Json.num(wallS),
      "lat_p50_ms" -> Json.num(p50),
      "peak_rss_mb" -> Json.num(Stats.peakRssMb()),
      "ops" -> Json.obj(kindRows.map { case (k, (n, a, b)) =>
        k -> Json.obj(Seq("n" -> Json.num(n.toDouble), "p50_ms" -> Json.num(a),
          "p90_ms" -> Json.num(b))) }),
      "checks" -> Json.obj(checks.toSeq.sortBy(_._1).map { case (k, (a, f)) =>
        k -> Json.obj(Seq("attempted" -> Json.num(a.toDouble), "failed" -> Json.num(f.toDouble))) }),
      "failures" -> Json.arr(failures.take(50).map(Json.str)),
      "calls" -> Json.obj(LayerReport.callTable(spans)),
      "end_to_end" -> Json.obj(e2e.map(m => m.name -> Json.num(m.value))),
      "per_layer" -> Json.obj(layer.getOrElse(Nil).map(m => m.name -> Json.num(m.value)))))
    writeFile(s"${args.outDir}/$tag.json", artifact)
    if (args.trace) writeSpans(s"${args.outDir}/$tag-spans.jsonl", spans, probe.get, clock)

    System.err.println(s"[perfbench] ${w.name}: ${samples.size} ops in ${"%.2f".format(wallS)} s, " +
      s"failed $failed, checks ${checks.values.map(_._1).sum} (failed ${checks.values.map(_._2).sum})")
    kindRows.foreach { case (k, (n, a, b)) =>
      System.err.println(f"[perfbench]   $k%-14s n=$n%6d p50=$a%10.3f ms p90=$b%10.3f ms") }
    failures.take(10).foreach(f => System.err.println(s"[perfbench]   FAIL $f"))

    val result = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    writeFile(s"${args.outDir}/result.json", result)
    0
  }

  private def writeSpans(path: String, spans: Vector[Span], probe: SparkProbe, clock: Clock): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.obj(Seq("span" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
          "req" -> Json.num(s.reqId.toDouble), "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
          "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble))))
      }
      probe.jobsIn(0L, Long.MaxValue).foreach { j =>
        w.println(Json.obj(Seq("job" -> Json.num(j.id.toDouble), "group" -> Json.str(j.group),
          "start_ns" -> Json.num(clock.toNs(j.startMs).toDouble),
          "end_ns" -> Json.num(clock.toNs(j.endMs).toDouble),
          "stages" -> Json.num(j.stages.toDouble), "tasks" -> Json.num(j.tasks.toDouble),
          "task_ms" -> Json.num(j.taskMs.toDouble))))
      }
    } finally w.close()
  }

  def writeFile(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s) finally w.close()
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** Minimal JSON writer (values are rendered with all their digits). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case i: Int => num(i.toDouble)
    case l: Long => num(l.toDouble)
    case b: Boolean => bool(b)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> any(x) }.sortBy(_._1))
    case s: Seq[_] => arr(s.map(any))
    case other => str(other.toString)
  }
}
