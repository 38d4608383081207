package perfbench

import scala.collection.mutable
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run: set up, then a closed loop of iterations with one
  * caller (one cold, a few untimed warm-ups, then the timed ones), then two
  * more set-ups for the set-up median, then the result.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <checkout> --cores <N> --out <result.json>
  * perfbench.Main --record <keys.tsv> --root <checkout> --cores <N> key...
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` records spans
  * and listener counts on alternate timed iterations and reports the
  * per-layer split plus the tracing overhead. The last stdout line is the
  * result object; the full self-describing record goes to `--out`. */
object Main {

  val SetupRepeats = 3
  /** Untimed warm iterations after the cold one. On a quiet 4-core host
    * the first three warm iterations are 5-40% slower than the later ones,
    * which still creep down by a few percent each (JIT). */
  val WarmUps = 3
  /** Timed iterations a run makes at least, however short `--seconds`. */
  val MinTimed = 4

  def workloadFor(name: String): Workload = name match {
    // not a WINS volume: sized so a warm iteration takes about 4 s
    case "wins_publish" => new WinsPublish(rowsPerTable = 5000)
    case "registry_heavy" => new Registry(name, Registry.heavy)
    case "registry_light" => new Registry(name, Registry.light)
    case "stream_arrivals" => new StreamArrivals(batches = 4)
    case "registry_stream" => new Mixed(name,
      Seq(new Registry("registry_light", Registry.lightShort), new StreamArrivals(batches = 2)))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def parse(args: Array[String]): (Map[String, String], Seq[String]) = {
    val flags = mutable.LinkedHashMap[String, String]()
    val rest = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      if (args(i).startsWith("--") && i + 1 < args.length) {
        flags(args(i).drop(2)) = args(i + 1); i += 2
      } else { rest += args(i); i += 1 }
    }
    (flags.toMap, rest.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = parse(args)
    val root = flags.getOrElse("root", ".")
    val cores = flags.getOrElse("cores", "4")
    if (flags.contains("record")) record(root, cores, flags("record"), rest)
    else {
      val ok = run(flags, root, cores)
      if (!ok) sys.exit(1)
    }
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")

  /** (steal, total) jiffies of all CPUs so far: on a virtual machine the
    * share of CPU time the host took away. (0, 0) where unreadable. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  final class StreamRecorder extends StreamingQueryListener {
    @volatile var iter = -1
    /** (iteration, batch duration ms, input rows) per non-empty batch. */
    val progress = mutable.ArrayBuffer[(Int, Long, Long)]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) progress += ((iter, p.batchDuration, p.numInputRows))
    }
  }

  private def run(flags: Map[String, String], root: String, cores: String): Boolean = {
    val wlName = flags("workload")
    val seed = flags("seed").toLong
    val seconds = flags("seconds").toDouble
    val traced = flags.getOrElse("trace", "0") == "1"
    val work = flags("work")
    val wl = workloadFor(wlName)
    val loadStart = loadavg()
    val jiffiesStart = cpuJiffies()
    lazy val ctx: Ctx = new Ctx(seed, work, s"$root/perfbench/data/sf0.01",
      s"$root/perfbench/expected/registry.tsv", new Tracer(false, ctx.spark.sparkContext))

    // ---- set-up in a fresh session; the cold iteration 0 and the warm
    // loop run on it, as a fresh process would run them, so one-off costs
    // per session land in iteration 0. Two more set-ups, each in a fresh
    // session, are timed after the loop (in a warm JVM), and setup_s is the
    // median of the three.
    val setupTimes = mutable.ArrayBuffer[Double]()
    val sessionStarts = mutable.ArrayBuffer[Double]()
    def setUp(r: Int): Unit = {
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = graft.tools.LocalSession.build(cores)
      sessionStarts += (System.nanoTime() - t0) / 1e9
      ctx.spark.read.parquet(s"${ctx.fixtures}/lineitem.parquet").limit(100).count()
      wl.setup(ctx, s"$work/setup-$r")
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    setUp(0)
    val sc = ctx.spark.sparkContext
    val jobs = new JobRecorder
    val streams = new StreamRecorder
    if (traced) {
      sc.addSparkListener(jobs)
      ctx.spark.streams.addListener(streams)
    }

    // ---- the closed loop
    final case class Iter(i: Int, traced: Boolean, out: IterOutcome, startMs: Long, endMs: Long)
    val iters = mutable.ArrayBuffer[Iter]()
    val persistedLeft = mutable.ArrayBuffer[Int]()
    val spanLog = mutable.ArrayBuffer[Span]()
    val extras = mutable.ArrayBuffer[Map[String, Double]]()
    val loop0 = System.nanoTime()
    // One cold iteration and WarmUps warm-ups, none of them in iter_s;
    // then timed iterations until --seconds have passed since the first
    // timed one and at least MinTimed ran. In a traced run the timed
    // iterations alternate untraced and traced, starting untraced, so each
    // traced iteration follows an untraced one.
    val untimed = 1 + WarmUps
    var timed0 = loop0
    def timedElapsed = (System.nanoTime() - timed0) / 1e9
    while (iters.size < untimed + MinTimed || timedElapsed < seconds) {
      val i = iters.size
      if (i == untimed) timed0 = System.nanoTime()
      val on = traced && i >= untimed && (i - untimed) % 2 == 1
      val tr = new Tracer(on, sc)
      val c = new Ctx(seed, work, ctx.fixtures, ctx.expected, tr)
      c.spark = ctx.spark
      tr.iter = i
      streams.iter = i
      val s0 = System.currentTimeMillis()
      val out = wl.iteration(c, i, persistedLeft += _)
      val s1 = System.currentTimeMillis()
      if (traced) jobs.settle(sc)
      iters += Iter(i, on, out, s0, s1)
      if (on) {
        spanLog ++= tr.spans
        extras += wl.layerExtras
      }
    }
    val (inRows, inBytes) = wl.inputSize(ctx)
    (1 until SetupRepeats).foreach(setUp)
    val peakRss = vmHwmMb()

    // ---- end-to-end
    val iterSecs = iters.map(_.out.seconds)
    val timed = iters.drop(untimed)
    val plainTimed = timed.filterNot(_.traced).map(_.out.seconds)
    val allUnits = iters.flatMap(_.out.units)
    val attempted = allUnits.size
    val failed = allUnits.count(!_.ok)
    // the tail of the timed iterations' units. With a handful of timed
    // iterations it is far from p90 (the percentile is recorded), so it is
    // printed but not a result metric.
    val tail = Stats.tail(timed.flatMap(_.out.units).map(_.seconds).toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupTimes.toSeq), "s"),
      "iter_s" -> (Stats.median(plainTimed.toSeq), "s"),
      "peak_rss_mb" -> (peakRss, "MB"))
    val failedRatio = failed.toDouble / attempted

    // ---- per-layer (traced iterations only)
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    var selfBySpan = Map.empty[String, Double]
    var constructShare = 0.0
    if (traced) {
      val tracedIters = iters.filter(_.traced)
      val spans = spanLog.toSeq
      val allJobs = jobs.snapshot
      def perIter(f: Iter => Double): Seq[Double] = tracedIters.map(f).toSeq
      def med(f: Iter => Double) = Stats.median(perIter(f))
      def avg(f: Iter => Double) = Stats.mean(perIter(f))
      def spansOf(it: Iter) = spans.filter(_.iter == it.i)
      def dur(it: Iter, name: String) =
        spansOf(it).filter(_.name == name).map(_.dur).sum / 1e9
      val jobsByIter: Map[Int, Seq[JobRecorder#Job]] = tracedIters.map { it =>
        val ids = spansOf(it).map(s => s.id -> s).toMap
        it.i -> allJobs.filter { j =>
          j.start >= it.startMs && j.start <= it.endMs &&
            !(j.span >= 0 && ids.get(j.span).exists(_.name.startsWith("bench.")))
        }
      }.toMap
      def spanNameOf(it: Iter, j: JobRecorder#Job): String =
        spansOf(it).find(_.id == j.span).map(_.name).getOrElse("")
      def jobsUnder(it: Iter, name: String) = jobsByIter(it.i).filter(j => spanNameOf(it, j) == name)
      def jobMs(js: Seq[JobRecorder#Job]) = js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0
      def sourcesJobs(it: Iter) =
        jobsByIter(it.i).filter(j => spanNameOf(it, j) == "sources.load" || j.site == "tables")
      def sinkJobs(it: Iter) =
        jobsByIter(it.i).filter(j => spanNameOf(it, j) == "sinks.publish" || j.site == "sinks")
      def totals(js: Seq[JobRecorder#Job], f: JobRecorder#Totals => Long) = js.map(j => f(j.totals)).sum.toDouble
      val n = cores.toDouble
      val mb = 1048576.0
      def put(k: String, v: Double, u: String) = layer(k) = (v, u)

      put("session.start_s", Stats.median(sessionStarts.toSeq), "s")
      put("sources.load_s", med(it =>
        if (spansOf(it).exists(_.name == "sources.load")) dur(it, "sources.load")
        else jobMs(sourcesJobs(it))), "s")
      put("sources.jobs", avg(it => sourcesJobs(it).size), "count")
      put("pipeline.run_table_s", med(dur(_, "pipeline.run_table")), "s")
      put("pipeline.jobs", avg(jobsUnder(_, "pipeline.run_table").size), "count")
      def extra(k: String) = Stats.mean(extras.flatMap(_.get(k)).toSeq)
      put("pipeline.cache_mem_mb", extra("pipeline.cache_mem_mb"), "MB")
      put("pipeline.cache_disk_mb", extra("pipeline.cache_disk_mb"), "MB")
      put("qa.kept_rows", extra("qa.kept_rows"), "count")
      put("qa.rejected_rows", extra("qa.rejected_rows"), "count")
      put("sinks.publish_s", med(it =>
        if (spansOf(it).exists(_.name == "sinks.publish")) dur(it, "sinks.publish")
        else jobMs(sinkJobs(it))), "s")
      put("sinks.jobs", avg(sinkJobs(_).size), "count")
      put("sinks.files", avg(it => totals(sinkJobs(it), _.outFiles)), "count")
      put("sinks.bytes_mb", avg(it => totals(sinkJobs(it), _.outBytes)) / mb, "MB")
      put("operators.construct_s", med(dur(_, "operators.construct")), "s")
      put("operators.construct_jobs", avg(jobsUnder(_, "operators.construct").size), "count")
      put("plans.plan_s", med(dur(_, "plans.plan")), "s")
      put("exec.run_s", med(it => dur(it, "exec.run") + dur(it, "stream.batch")), "s")
      put("exec.jobs", avg(it =>
        jobsUnder(it, "exec.run").size + jobsByIter(it.i).count(_.span < 0)), "count")
      def busy(it: Iter) = Stats.unionLength(jobsByIter(it.i).map(j => (j.start, j.end))) / 1000.0
      put("spark.job_busy_s", med(busy), "s")
      put("spark.driver_gap_s", med(it => it.out.seconds - busy(it)), "s")
      put("spark.stages", avg(it => totals(jobsByIter(it.i), _.stages)), "count")
      put("spark.tasks", avg(it => totals(jobsByIter(it.i), _.tasks)), "count")
      put("spark.task_run_s", med(it => totals(jobsByIter(it.i), _.runNs) / 1e9), "s")
      put("spark.task_cpu_s", med(it => totals(jobsByIter(it.i), _.cpuNs) / 1e9), "s")
      put("spark.gc_s", med(it => totals(jobsByIter(it.i), _.gcNs) / 1e9), "s")
      put("spark.core_util", med(it =>
        totals(jobsByIter(it.i), _.runNs) / 1e9 / (it.out.seconds * n)), "1")
      put("spark.shuffle_write_mb", avg(it => totals(jobsByIter(it.i), _.shuffleWrite)) / mb, "MB")
      put("spark.shuffle_read_mb", avg(it => totals(jobsByIter(it.i), _.shuffleRead)) / mb, "MB")
      put("spark.spill_mb", avg(it => totals(jobsByIter(it.i), _.spill)) / mb, "MB")
      put("spark.task_failures", avg(it => totals(jobsByIter(it.i), _.failures)), "count")
      val prog = streams.synchronized(streams.progress.toSeq)
        .filter(p => tracedIters.exists(_.i == p._1))
      put("stream.batches", if (tracedIters.isEmpty) 0.0
        else prog.size.toDouble / tracedIters.size, "count")
      put("stream.batch_s", if (prog.isEmpty) 0.0 else Stats.median(prog.map(_._2 / 1000.0)), "s")
      put("stream.add_batch_s", extra("stream.add_batch_s"), "s")
      put("stream.rows_per_s", if (prog.isEmpty) 0.0
        else prog.map(_._3).sum / (prog.map(_._2).sum / 1000.0), "1/s")
      put("persisted_left", Stats.mean(persistedLeft.map(_.toDouble).toSeq), "count")
      put("staging_debris", wl.debris.toDouble, "count")
      put("out_mb", wl.outBytes / mb, "MB")
      put("failed_ratio", failedRatio, "1")
      val tracedMed = Stats.median(tracedIters.map(_.out.seconds).toSeq)
      put("trace.overhead_s", tracedMed - Stats.median(plainTimed.toSeq), "s")
      // ROADMAP aim 1: heavy keys spend most of their wall in construction
      constructShare = layer("operators.construct_s")._1 / tracedMed
      val self = Span.selfTimes(spans)
      selfBySpan = spans.groupBy(_.name).map { case (k, ss) =>
        k -> ss.map(s => self(s.id)).sum / 1e9 / math.max(1, tracedIters.size)
      }
    }

    ctx.spark.stop()
    val loadEnd = loadavg()
    val jiffiesEnd = cpuJiffies()
    val stealShare = {
      val total = jiffiesEnd._2 - jiffiesStart._2
      if (total > 0) (jiffiesEnd._1 - jiffiesStart._1).toDouble / total else Double.NaN
    }
    val metrics = if (traced) layer else e2e
    // ---- human-readable lines, then the record
    println(s"[perfbench] workload=$wlName seed=$seed trace=${if (traced) 1 else 0} " +
      s"iterations=${iters.size} units=$attempted failed=$failed cores=$cores")
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-26s $v%14.6f $u") }
    if (constructShare > 0) println(f"[perfbench] operators.construct_s is ${constructShare * 100}%.1f%% of the traced iteration")
    if (!traced) {
      // printed and recorded, not result metrics: a single cold sample, a
      // tail below p90, and two values that are 0 on some workloads
      println(f"[perfbench] ${"first_iter_s"}%-26s ${iterSecs.head}%14.6f s")
      tail.foreach(t => println(
        f"[perfbench] ${"unit_tail_s"}%-26s ${t.value}%14.6f s (p${t.percentile}%.0f of ${t.samples} timed units)"))
      println(f"[perfbench] ${"failed_ratio"}%-26s $failedRatio%14.6f 1")
      println(f"[perfbench] ${"out_mb"}%-26s ${wl.outBytes / 1048576.0}%14.6f MB")
    }
    allUnits.filterNot(_.ok).take(5).foreach(u => println(s"[perfbench] FAILED ${u.name}: ${u.note}"))

    val record = Json.obj(
      "workload" -> wlName, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "commit" -> flags.getOrElse("commit", "unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> cores.toInt,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "cpu_steal_share" -> stealShare,
      "input_rows" -> inRows, "input_bytes" -> inBytes,
      "setup_samples" -> setupTimes.toSeq,
      "session_start_samples" -> sessionStarts.toSeq,
      "iterations" -> iters.map(_.out.seconds).toSeq,
      "first_iter_s" -> iterSecs.head,
      "iterations_traced" -> iters.map(_.traced).toSeq,
      "untimed_iterations" -> untimed,
      "iter_samples" -> plainTimed.size,
      "unit_tail_s" -> tail.map(_.value).getOrElse(Double.NaN),
      "unit_tail_percentile" -> tail.map(_.percentile).getOrElse(Double.NaN),
      "unit_tail_samples" -> tail.map(_.samples).getOrElse(0),
      "attempted" -> attempted, "failed" -> failed, "failed_ratio" -> failedRatio,
      "out_mb" -> wl.outBytes / 1048576.0,
      "units" -> allUnits.map(u => Json.obj("name" -> u.name, "s" -> u.seconds, "ok" -> u.ok)).toSeq,
      "failures" -> allUnits.filterNot(_.ok).map(u => s"${u.name}: ${u.note}").toSeq,
      "span_self_s" -> Json.obj(selfBySpan.toSeq.sortBy(_._1): _*),
      "construct_share_of_traced_iter" -> constructShare,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(flags("out")),
      Json.render(record).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val last = Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    println(Json.render(last))
    System.out.flush()
    true
  }


  /** Record the digest of each key from the current code: run every key
    * twice in a fresh session and keep it only if both runs agree. */
  private def record(root: String, cores: String, out: String, keys: Seq[String]): Unit = {
    val dir = s"$root/perfbench/data/sf0.01"
    val spark = graft.tools.LocalSession.build(cores)
    val ctx = new Ctx(0L, s"$root/.bench_build", dir, "", new Tracer(false, spark.sparkContext))
    ctx.spark = spark
    def digest(k: String) = RowHash.digest(graft.SparkEntry.queries(k)(spark, dir))
    val lines = keys.map { k =>
      val a = digest(k); ctx.release()
      val b = digest(k); ctx.release()
      require(a == b, s"$k: unstable digest $a vs $b")
      println(s"[record] $k $a")
      s"$k\t$a"
    }
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ("# registry key -> rows:hash of its result on perfbench/data/sf0.01\n" +
        lines.mkString("", "\n", "\n")).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the result records. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.fields.map { case (k, x) => str(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
