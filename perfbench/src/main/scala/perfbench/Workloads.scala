package perfbench

import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Orchestration, Pipeline, Schemas, Sources}
import graft.engine.Pipeline.{CalcRule, Enrich, QaRules}

/** What one timed unit produced: its wall time and whether its output
  * passed the correctness check. */
final case class UnitOutcome(name: String, seconds: Double, ok: Boolean, note: String = "")

/** One iteration: its timed wall time (set-up checks and cleanup excluded)
  * and its units. */
final case class IterOutcome(seconds: Double, units: Seq[UnitOutcome])

/** Everything a workload needs at run time. `work` is this run's scratch
  * directory inside the checkout; `fixtures` the committed seed-42 tables. */
final class Ctx(
    val seed: Long, val work: String, val fixtures: String, val expected: String,
    val tracer: Tracer) {
  var spark: SparkSession = _

  /** Persistent RDDs still registered, then everything released: the
    * cleanup every unit gets, outside the timed window. An RDD whose owner
    * is releasing it at the same moment (a stopped stream's index) may
    * already be gone; that is not an error of the unit. */
  def release(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.catalog.clearCache()
    left
  }
}

trait Workload {
  def name: String
  /** Generate and land inputs; build indexes and references. Runs once per
    * set-up repetition, each time into a fresh directory. */
  def setup(ctx: Ctx, dir: String): Unit
  /** One iteration. `leftAfter` receives the persistent-RDD count the
    * bench found after each unit, before its own cleanup. Checks and
    * cleanup run under `bench.*` spans, outside the timed window. */
  def iteration(ctx: Ctx, i: Int, leftAfter: Int => Unit): IterOutcome
  /** Input rows and bytes, for the result record. */
  def inputSize(ctx: Ctx): (Long, Long)
  /** Bytes at rest the workload's sinks wrote in the last iteration. */
  def outBytes: Long = 0L
  /** Staging debris found after the last iteration. */
  def debris: Int = 0
  /** Per-layer values only the workload sees, for the last (traced)
    * iteration. */
  def layerExtras: Map[String, Double] = Map.empty
}

object Disk {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }
  }

  def bytes(dir: String): Long =
    walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Staging leftovers: `.tmp` / `.old` siblings a publish should never
    * leave behind. */
  def debris(dir: String): Int =
    walk(dir).count { p =>
      val n = p.getFileName.toString
      n.endsWith(".tmp") || n.endsWith(".old")
    }

  /** Row count from the parquet footer of one file: no Spark job. */
  def parquetRows(spark: SparkSession, file: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  def delete(dir: String): Unit =
    walk(dir).reverse.foreach(p => Files.deleteIfExists(p): Unit)
}

// ---------------------------------------------------------------- wins

/** The paper's workload: ingest -> transform -> QA with reject routing ->
  * staged publish, for the five WINS feature classes. */
final class WinsPublish(rowsPerTable: Int) extends Workload {
  val name = "wins_publish"
  private var in: String = _
  private var truth: WinsGen.Truth = _
  private var rows = 0L
  private var lastOut = 0L
  private var lastDebris = 0
  private var extras = Map.empty[String, Double]

  def setup(ctx: Ctx, dir: String): Unit = {
    val gen = WinsGen.generate(ctx.seed, rowsPerTable)
    truth = WinsGen.truth(gen)
    in = s"$dir/input"
    gen.all.foreach { t =>
      ctx.spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.parquet(s"$in/${t.name}.parquet")
    }
    rows = gen.all.map(_.rows.size.toLong).sum
  }

  def inputSize(ctx: Ctx): (Long, Long) = (rows, Disk.bytes(in))
  override def outBytes: Long = lastOut
  override def debris: Int = lastDebris
  override def layerExtras: Map[String, Double] = extras

  private def load(ctx: Ctx, name: String, schema: org.apache.spark.sql.types.StructType) =
    ctx.tracer.span("sources.load") {
      val df = Sources.loadValidated(ctx.spark, in, name)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
      val want = schema.fields.map(f => f.name -> f.dataType).toSeq
      require(got == want, s"$name: landed schema $got, declared $want")
      df
    }

  /** The reference rules per feature class (SURVEY §3.3, PipelineSpec). */
  private def runOne(ctx: Ctx, s: WinsGen.Spec, pod: DataFrame): Pipeline.TableResult = {
    val download = load(ctx, s.name, s.schema)
    val template = ctx.spark.createDataFrame(
      java.util.Collections.emptyList[Row](), s.schema)
    val (calc, blanks, enrich) = s match {
      case WinsGen.Rrr => (
        Seq(CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RV%"), lit("EA83030000")),
          CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RS%"), lit("EA83040000"))),
        Seq("TRRR_TAG"),
        Some(Enrich(pod, "TRRR_TAG", "PNTS_CODE", Seq(col("PNTS_DESCR")),
          Map("DESCRIPTION" -> "PNTS_DESCR"))))
      case WinsGen.Nth => (
        Seq(CalcRule("FEATURE_CODE", lit(true), lit("GA24850000"))),
        Seq("TNTH_TAG"),
        Some(Enrich(pod, "TNTH_TAG", "PNTS_CODE", Seq(col("PNTS_DESCR")),
          Map("STREAM_NAME" -> "SRCE_GAZETTED"))))
      case WinsGen.Flooded => (
        Seq(CalcRule("FEATURE_CODE", lit(true), lit("GB11350000"))), Nil, None)
      case _ => (Nil, Seq("TWRK_TAG", "FEATURE_CODE"), None)
    }
    val qa = s.tagCol.filter(_ => s.qa).map { tc =>
      QaRules(Seq(tc), WinsGen.dupReason(tc), pod, tc, "PNTS_CODE", WinsGen.refReason(tc))
    }
    ctx.tracer.span("pipeline.run_table") {
      Pipeline.runTable(s.name, download, template, calc, blanks, enrich, qa)
    }
  }

  def iteration(ctx: Ctx, i: Int, leftAfter: Int => Unit): IterOutcome = {
    val staging = s"${ctx.work}/staging"
    val silent = new Orchestration.Notifier {
      def notify(success: Boolean, subject: String, body: String): Unit = ()
    }
    val units = Seq.newBuilder[UnitOutcome]
    var reports = Seq.empty[Pipeline.RunReport]
    val it0 = System.nanoTime()
    val (ok, log) = Orchestration.reportedRun(silent, "WINS") { log =>
      val pod = load(ctx, WinsGen.PodName, Schemas.waterPodTable)
      val results = WinsGen.specs.map { s =>
        val t0 = System.nanoTime()
        val r = runOne(ctx, s, pod)
        units += UnitOutcome(s.name, (System.nanoTime() - t0) / 1e9, ok = true)
        s.name -> r
      }
      // what runTable's QA caches hold just before the publish releases them
      val cached = if (ctx.tracer.enabled) ctx.spark.sparkContext.getRDDStorageInfo.toSeq else Nil
      extras = Map(
        "pipeline.cache_mem_mb" -> cached.map(_.memSize).sum / 1048576.0,
        "pipeline.cache_disk_mb" -> cached.map(_.diskSize).sum / 1048576.0)
      val t0 = System.nanoTime()
      reports = ctx.tracer.span("sinks.publish") {
        Pipeline.runAndPublish(results, staging)
      }
      units += UnitOutcome("publish", (System.nanoTime() - t0) / 1e9, ok = true)
      reports.foreach(Orchestration.logReport(log, _))
    }
    val seconds = (System.nanoTime() - it0) / 1e9
    ctx.tracer.span("bench.check")(check(ctx, staging, ok, log, reports, units.result(), leftAfter))
      .pipe(IterOutcome(seconds, _))
  }

  private def check(
      ctx: Ctx, staging: String, ok: Boolean, log: String,
      reports: Seq[Pipeline.RunReport], units: Seq[UnitOutcome],
      leftAfter: Int => Unit): Seq[UnitOutcome] = {
    leftAfter(ctx.release())
    lastDebris = Disk.debris(ctx.work)
    lastOut = Disk.bytes(staging)
    val expectedDirs = (WinsGen.specs.map(_.name) :+ "rejects").toSet
    val dirs = Option(new java.io.File(staging).list()).map(_.toSet).getOrElse(Set.empty)
    val published =
      ok && dirs == expectedDirs && lastDebris == 0 &&
        expectedDirs.forall(d => new java.io.File(s"$staging/$d/_SUCCESS").exists())
    val byName = reports.map(r => r.table -> r).toMap
    val rejectRows = reports.map(_.rejectsByReason.values.sum).sum
    extras ++= Map(
      "qa.kept_rows" -> reports.map(_.keptRows).sum.toDouble,
      "qa.rejected_rows" -> rejectRows.toDouble)
    // rows at rest per published table, in one job
    val onDisk = published && {
      val counts = expectedDirs.toSeq
        .map(d => ctx.spark.read.parquet(s"$staging/$d").select(lit(d).as("t")))
        .reduce(_ union _).groupBy("t").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      WinsGen.specs.forall(s => counts.getOrElse(s.name, 0L) == truth.kept(s.name)) &&
        counts.getOrElse("rejects", 0L) == rejectRows
    }
    units.map {
      case u if u.name == "publish" =>
        u.copy(ok = onDisk, note = if (onDisk) "" else
          s"published=$published dirs=$dirs debris=$lastDebris run_ok=$ok ${if (!ok) log.takeRight(300) else ""}")
      case u =>
      val r = byName.get(u.name)
      val counts = r.exists(x =>
        x.keptRows == truth.kept(u.name) && x.rejectsByReason == truth.rejects(u.name) &&
          x.inputRows == rowsPerTable)
      u.copy(ok = counts, note = if (counts) "" else
        s"report=$r truth=(${truth.kept(u.name)},${truth.rejects(u.name)})")
    }
  }
}

// ---------------------------------------------------------------- registry

/** A fixed list of registry keys over the committed fixture tables. The
  * seed only orders the visits. */
final class Registry(val name: String, keys: Seq[String]) extends Workload {
  private var order: Seq[String] = keys
  private var expected: Map[String, Digest] = Map.empty
  private var dir: String = _

  def setup(ctx: Ctx, d: String): Unit = {
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown registry keys: ${unknown.mkString(", ")}")
    dir = ctx.fixtures
    expected = Registry.readExpected(ctx.expected)
    val missing = keys.filterNot(expected.contains)
    require(missing.isEmpty, s"no recorded digest for: ${missing.mkString(", ")}")
    order = new scala.util.Random(ctx.seed).shuffle(keys)
  }

  def inputSize(ctx: Ctx): (Long, Long) = {
    val files = graft.engine.Tables.names.map(t => s"$dir/$t.parquet")
      .filter(new java.io.File(_).exists())
    (files.map(Disk.parquetRows(ctx.spark, _)).sum, files.map(new java.io.File(_).length).sum)
  }

  /** One visit: construct, plan, execute + digest. */
  def visit(ctx: Ctx, key: String): (Double, Digest) = {
    val fn = graft.SparkEntry.queries(key)
    val t0 = System.nanoTime()
    val d = ctx.tracer.span("unit") {
      val df = ctx.tracer.span("operators.construct")(fn(ctx.spark, dir))
      ctx.tracer.span("plans.plan")(df.queryExecution.executedPlan)
      ctx.tracer.span("exec.run")(RowHash.digest(df))
    }
    ((System.nanoTime() - t0) / 1e9, d)
  }

  def iteration(ctx: Ctx, i: Int, leftAfter: Int => Unit): IterOutcome = {
    val units = order.map { key =>
      val t0 = System.nanoTime()
      val out =
        try {
          val (s, d) = visit(ctx, key)
          UnitOutcome(key, s, d == expected(key),
            if (d == expected(key)) "" else s"digest $d, recorded ${expected(key)}")
        } catch {
          case e: Throwable =>
            UnitOutcome(key, (System.nanoTime() - t0) / 1e9, ok = false,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      ctx.tracer.span("bench.cleanup")(leftAfter(ctx.release()))
      out
    }
    IterOutcome(units.map(_.seconds).sum, units)
  }
}

object Registry {
  /** `key<TAB>rows:hash` lines. */
  def readExpected(path: String): Map[String, Digest] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty)
      .filterNot(_.startsWith("#")).map { l =>
        val Array(k, d) = l.split("\t")
        k -> Digest.parse(d)
      }.toMap

  /** Construction-dominated keys (ROADMAP aim 1, direction 3). */
  val heavy = Seq("pipeline_pretrain", "pipeline_docs", "dedup_resolve",
    "decontam_multi", "dedup_substring_strip", "substring_report",
    "media_neardup_verify", "agg_stats", "ivf_pq_compact")

  /** Cheap keys, each under 0.5 s at sf0.1 in the committed history; at
    * least one per operator module plus the engine's own relational ops. */
  val light = Seq(
    "filter_like", "join_inner", // engine (graft.engine.Ops)
    "fuzzy_join",        // Fuzzy
    "embed_centroids",   // Similarity
    "text_quality",      // TextAnalysis
    "dedup_exact",       // Dedup
    "nb_train",          // Classify
    "join_range",        // Temporal
    "sample_fixed",      // Curation
    "tumbling_counts",   // Events
    "k_anonymity",       // Privacy
    "topk_diverse",      // TopK
    "fd_audit",          // Profile
    "multimodal_meta")   // MultiModal

  /** The ten cheapest light keys at sf0.01 (medians of timed units on a
    * 4-core host, 0.11-0.29 s each, 2.2 s in all): what registry_stream
    * runs, to fit a run's time budget. Fuzzy, Classify and Profile, and
    * the second engine key, stay in registry_light. */
  val lightShort: Seq[String] =
    light.filterNot(Set("join_inner", "fuzzy_join", "nb_train", "fd_audit"))
}

// ---------------------------------------------------------------- stream

/** `DocStreams.stripArrivalsSink` over the fixture documents: the seed
  * splits them into a stored corpus and `batches` arrival micro-batches. */
final class StreamArrivals(batches: Int) extends Workload {
  val name = "stream_arrivals"
  private val k = 16
  private val w = 8
  private val minShared = 3
  private var fps: DataFrame = _
  private var grams: DataFrame = _
  private var arrivals: Seq[Seq[(Long, String)]] = Nil
  /** Reference digest of each batch's rows (doc_id, text, n_removed). */
  private var reference: Seq[Digest] = Nil
  private var nDocs = 0L
  private var lastOut = 0L
  private var addTimes = Seq.empty[Double]

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val docs = Sources.loadValidated(spark, ctx.fixtures, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    nDocs = docs.length
    val rnd = new scala.util.Random(ctx.seed)
    val shuffled = rnd.shuffle(docs.toSeq)
    val nCorpus = docs.length * 3 / 5
    import spark.implicits._
    val corpus = shuffled.take(nCorpus).toDF("doc_id", "text")
    arrivals = shuffled.drop(nCorpus).grouped(
      math.max(1, (docs.length - nCorpus + batches - 1) / batches)).toSeq
    // the corpus indexes, built as StreamingSpec builds them and landed
    graft.operators.Dedup.winnowFingerprints(corpus, "doc_id", "text", k = k, w = w)
      .write.parquet(s"$dir/fps")
    corpus.select(col("doc_id").as("id"),
      explode(graft.plans.WinnowMinima.minima(col("text"), k, 1)).as("h"))
      .write.parquet(s"$dir/grams")
    fps = spark.read.parquet(s"$dir/fps")
    grams = spark.read.parquet(s"$dir/grams")
    // the reference: each batch's rows (doc_id, text, n_removed) from the
    // batch operator over the same stored indexes
    val ref = graft.operators.Dedup.stripAgainstCorpus(
      arrivals.flatten.toDF("doc_id", "text"), fps, grams, "doc_id", "text",
      k = k, w = w, minShared = minShared)
      .select("doc_id", "text", "n_removed").collect()
    val refById = ref.map(r => r.getLong(0) -> RowHash.rowHash(r)).toMap
    reference = arrivals.map(b => Digest(b.size.toLong, b.map(x => refById(x._1)).sum))
  }

  def inputSize(ctx: Ctx): (Long, Long) =
    (nDocs, new java.io.File(s"${ctx.fixtures}/documents.parquet").length)
  override def outBytes: Long = lastOut
  override def layerExtras: Map[String, Double] =
    if (addTimes.isEmpty) Map.empty else Map("stream.add_batch_s" -> Stats.median(addTimes))

  def iteration(ctx: Ctx, i: Int, leftAfter: Int => Unit): IterOutcome = {
    val spark = ctx.spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = s"${ctx.work}/stream-$i/table"
    val ckpt = s"${ctx.work}/stream-$i/ckpt"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val adds = Seq.newBuilder[Double]
    val it0 = System.nanoTime()
    val q = ctx.tracer.span("stream.start") {
      graft.streaming.DocStreams.stripArrivalsSink(
        mem.toDF().toDF("doc_id", "text"), fps, grams, "doc_id", "text",
        table, ckpt, k = k, w = w, minShared = minShared)
    }
    val outcomes =
      try arrivals.indices.map { b =>
        val t0 = System.nanoTime()
        ctx.tracer.span("stream.batch") {
          ctx.tracer.span("stream.add_batch")(mem.addData(arrivals(b)))
          adds += (System.nanoTime() - t0) / 1e9
          q.processAllAvailable()
        }
        val s = (System.nanoTime() - t0) / 1e9
        leftAfter(spark.sparkContext.getPersistentRDDs.size)
        UnitOutcome(s"batch$b", s, ok = true)
      }
      finally ctx.tracer.span("stream.stop") { q.stop(); q.awaitTermination() }
    val seconds = (System.nanoTime() - it0) / 1e9
    addTimes = adds.result()
    ctx.tracer.span("bench.check")(check(ctx, i, table, outcomes)).pipe(IterOutcome(seconds, _))
  }

  private def check(ctx: Ctx, i: Int, table: String, outcomes: Seq[UnitOutcome]): Seq[UnitOutcome] = {
    val spark = ctx.spark
    ctx.release()
    lastOut = Disk.bytes(table)
    // check: each landed batch equals the batch reference
    val got: Map[Int, Digest] =
      try spark.read.parquet(table).select("batch_id", "doc_id", "text", "n_removed")
        .collect().groupBy(_.getAs[Number]("batch_id").intValue).map { case (id, rs) =>
          id -> Digest(rs.length.toLong,
            rs.map(r => RowHash.rowHash(Row(r.getLong(1), r.getString(2), r.getLong(3)))).sum)
        }
      catch { case _: Throwable => Map.empty }
    Disk.delete(s"${ctx.work}/stream-$i")
    outcomes.map { u =>
      val b = u.name.stripPrefix("batch").toInt
      val good = got.get(b).contains(reference(b))
      u.copy(ok = good, note = if (good) "" else s"landed ${got.get(b)} vs reference ${reference(b)}")
    }
  }
}

// ---------------------------------------------------------------- mixed

/** Several workloads back to back in one iteration: each part's units keep
  * their own names and checks, and the iteration's time is the sum of the
  * parts' timed windows. */
final class Mixed(val name: String, parts: Seq[Workload]) extends Workload {
  def setup(ctx: Ctx, dir: String): Unit = parts.foreach(p => p.setup(ctx, s"$dir/${p.name}"))

  def iteration(ctx: Ctx, i: Int, leftAfter: Int => Unit): IterOutcome = {
    val outs = parts.map(_.iteration(ctx, i, leftAfter))
    IterOutcome(outs.map(_.seconds).sum, outs.flatMap(_.units))
  }

  /** The largest part's input: the parts here read the same committed
    * fixture tables, so a sum would count them twice. */
  def inputSize(ctx: Ctx): (Long, Long) = parts.map(_.inputSize(ctx)).maxBy(_._2)
  override def outBytes: Long = parts.map(_.outBytes).sum
  override def debris: Int = parts.map(_.debris).sum
  override def layerExtras: Map[String, Double] = parts.map(_.layerExtras).reduce(_ ++ _)
}
