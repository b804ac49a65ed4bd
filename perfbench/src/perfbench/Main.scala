package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    scale: Double, corrupt: String, runDir: String, resultsDir: String, truthDir: String,
    sourceId: String, heap: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("scale", "1.0").toDouble, m.getOrElse("corrupt", ""), m("run-dir"),
      m("results-dir"), m("truth-dir"), m.getOrElse("source-id", "unknown"),
      m.getOrElse("heap", "unknown"))
  }
}

object Stats {
  /** Nearest-rank quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** Median, the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    * it, or the maximum when there are fewer than twenty samples.
    */
  def tail(xs: Seq[Double]): (Double, String) =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10) match {
      case Some(p) => (quantile(xs, p / 100.0), s"p$p")
      case None => (xs.max, "max")
    }
}

/** Run-wide state handed to a workload: the session, the tracer and the
  * operation accounting (every call into graft goes through [[op]]).
  */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  val tracer = new Tracer
  val cacheMeter = new CacheMeter
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val warehouse: String = new File(args.runDir, "warehouse").getAbsolutePath

  /** One operation: counted, traced as `span`, and on exception recorded
    * as failed (message kept) instead of ending the run.
    */
  def op[T](span: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(span)(body))
    catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"$span: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
        failures += msg
        System.err.println(s"perfbench: operation failed: $msg")
        None
    }
  }

  /** A benchmark phase around module calls (the parent span of their spans). */
  def phase[T](name: String)(body: => T): T = tracer.span(name)(body)

  def newSession(): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", new File(args.runDir, "local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    cacheMeter.reset()
    s.sparkContext.addSparkListener(cacheMeter)
    s
  }

  def stopSession(): Unit = if (spark != null) {
    tracer.disarm()
    spark.catalog.clearCache()
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = null
  }
}

/** Outcome of a workload's output checks. `recall` is the share of the
  * benchmark's own exact answer the workload found, for a workload whose
  * answer the checks do not already pin down; None for the others.
  */
final case class Checked(recall: Option[Double], problems: Seq[String], detail: Map[String, Any])

/** One part of a closed-loop workload: one client; each batch is issued
  * after the previous one returned.
  */
trait Workload {
  def ctx: Ctx
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.args.seed
  def scale: Double = ctx.args.scale
  def sized(n: Int, min: Int = 1): Int = math.max(min, math.round(n * scale).toInt)

  /** Input generation and cached ground truth, driver-side and untimed. */
  def prepare(): Unit
  /** A small pass over every operation of the workload, on its own
    * tables (`rep` numbers the set-up repetition); counted in set-up time.
    */
  def warmup(rep: Int): Unit
  /** Session-side input materialization (untimed). */
  def load(): Unit
  /** Index or signature build (`build_s`). */
  def build(): Unit
  /** Batch i of the closed loop; returns items completed. */
  def batch(i: Int): Long
  def batchKind(i: Int): String
  /** The write cycle (`write_s`), after the batches. */
  def write(): Unit
  /** Checks every recorded output against the benchmark's own answer;
    * `corrupt` names one of [[corruptions]] to damage first ("" for none).
    */
  def check(corrupt: String): Checked
  def corruptions: Seq[String]
  /** Catalog tables whose files count as `index_mb`. */
  def tables: Seq[String]
  def inputSizes: Map[String, Any]
}

/** A listed workload: its parts in one closed loop of `batches` batches
  * and one write cycle. Batch i issues batch i of every part, one after
  * the other (a request that spans the parts), and the write cycle runs
  * each part's write. Items are summed over the parts; `recall` comes
  * from the one part that reports it.
  */
final class Composite(val ctx: Ctx, parts: Seq[Workload], val batches: Int) extends Workload {
  def prepare(): Unit = parts.foreach(_.prepare())
  def warmup(rep: Int): Unit = parts.foreach(_.warmup(rep))
  def load(): Unit = parts.foreach(_.load())
  def build(): Unit = parts.foreach(_.build())
  def batchKind(i: Int): String = parts.map(_.batchKind(i)).mkString("+")
  def batch(i: Int): Long = {
    val done = parts.map(_.batch(i))
    if (done.exists(_ < 0)) -1L else done.sum
  }
  def write(): Unit = parts.foreach(_.write())
  def check(corrupt: String): Checked = {
    val cs = parts.map(_.check(corrupt))
    val recalls = cs.flatMap(_.recall)
    require(recalls.size == 1, s"${recalls.size} parts report a recall, not one")
    Checked(recalls.headOption, cs.flatMap(_.problems),
      parts.zip(cs).map { case (p, c) => p.getClass.getSimpleName -> c.detail }.toMap)
  }
  def corruptions: Seq[String] = parts.flatMap(_.corruptions)
  def tables: Seq[String] = parts.flatMap(_.tables)
  def inputSizes: Map[String, Any] =
    parts.map(p => p.getClass.getSimpleName -> p.inputSizes).toMap
}

object Main {
  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val ctx = new Ctx(args)
    val w = args.workload match {
      case "serve" => new Composite(ctx, Seq(new VectorServe(ctx), new TextRetrieval(ctx)), 4)
      case "curate" => new Composite(ctx, Seq(new DedupCuration(ctx), new MediaTriage(ctx)), 1)
    }
    val loadBefore = loadAvg()
    val tr = ctx.tracer
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def lap(name: String): Unit = { val t = System.nanoTime(); phases(name) = (t - mark) / 1e9; mark = t }
    val code = try {
      w.prepare()
      lap("prepare")

      // set-up: session start + function registration + warm-up pass,
      // four times (the median is the mean of the middle two); the last
      // session serves the run
      val setups = (0 until 4).map { rep =>
        ctx.stopSession()
        val t0 = System.nanoTime()
        ctx.spark = ctx.newSession()
        if (args.trace) tr.arm(ctx.spark.sparkContext)
        tr.span("session.register")(graft.GraftFunctions.register(ctx.spark))
        ctx.phase("setup")(w.warmup(rep))
        (System.nanoTime() - t0) / 1e9
      }
      lap("setup")
      w.load()
      lap("load")

      val tb = System.nanoTime()
      ctx.phase("build")(w.build())
      val buildS = (System.nanoTime() - tb) / 1e9
      lap("build")

      // closed loop: a fixed number of batches and one write cycle, so the
      // mix of batch kinds and writes never depends on speed; every metric
      // comes from these
      val lat = mutable.ArrayBuffer[(String, Double)]()
      var items = 0L
      val t0 = System.nanoTime()
      (0 until w.batches).foreach { i =>
        val kind = w.batchKind(i)
        val tBatch = System.nanoTime()
        val done = ctx.phase("batch")(w.batch(i))
        if (done >= 0) { items += done; lat += ((kind, (System.nanoTime() - tBatch) / 1e9)) }
      }
      val tw = System.nanoTime()
      ctx.phase("write")(w.write())
      val writeS = (System.nanoTime() - tw) / 1e9
      val elapsed = (System.nanoTime() - t0) / 1e9
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      val cachePeak = ctx.cacheMeter.peak
      val indexBytes = w.tables.map(t => dirBytes(new File(ctx.warehouse, t.toLowerCase))).sum
      // `seconds` is a floor on the loop's length, not its measure: a faster
      // program fills the rest with read batches (checked, untraced) that
      // no metric sees
      tr.disarm()
      val floor = mutable.ArrayBuffer[Double]()
      val deadline = t0 + (args.seconds * 1e9).toLong
      var i = w.batches
      while (System.nanoTime() < deadline) {
        val tf = System.nanoTime()
        ctx.phase("floor")(w.batch(i))
        floor += (System.nanoTime() - tf) / 1e9
        i += 1
      }
      // traced runs: batch 0 again untraced, traced, untraced; the traced
      // latency over the mean untraced one is the tracing overhead (a rough
      // figure; the sandwich cancels a linear warming trend)
      val probe = if (!args.trace) Nil else Seq(false, true, false).map { on =>
        if (on) tr.arm(ctx.spark.sparkContext) else tr.disarm()
        val tp = System.nanoTime()
        val done = ctx.phase("probe")(w.batch(0))
        if (done >= 0) (System.nanoTime() - tp) / 1e9 else Double.NaN
      }
      tr.disarm()
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)

      lap("loop")
      val checked = w.check("")
      // self-test mode: damage one output per check and demand that it trips
      val missed = if (args.corrupt != "all") Nil else w.corruptions.filter { c =>
        val tripped = w.check(c).problems.nonEmpty
        System.err.println(s"perfbench: corrupted '$c' output ${if (tripped) "detected" else "NOT detected"}")
        !tripped
      }
      lap("check")
      val latencies = lat.map(_._2).toSeq
      val (tailV, tailP) = if (latencies.nonEmpty) Stats.tail(latencies) else (0.0, "none")
      val okFrac = (ctx.attempted - ctx.failed).toDouble / math.max(1L, ctx.attempted)
      val e2e: Seq[(String, Double, String)] = Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("build_s", buildS, "s"),
        ("items_per_s", items / elapsed, "1/s"),
        ("batch_p50_s", if (latencies.isEmpty) 0.0 else Stats.median(latencies), "s"),
        ("batch_tail_s", tailV, "s"),
        ("write_s", writeS, "s"),
        ("recall", checked.recall.get, "ratio"),
        ("index_mb", indexBytes / 1e6, "MB"),
        ("cache_peak_mb", cachePeak / 1e6, "MB"),
        ("op_ok_frac", okFrac, "ratio"))
      val layers: Seq[(String, Double, String)] = if (!args.trace) Nil else {
        val overhead = probe match {
          case Seq(a, on, b) if a > 0 && on > 0 && b > 0 => on / ((a + b) / 2) - 1.0
          case _ => 0.0
        }
        tr.layerMetrics().toSeq.map { case (k, (v, u)) => (k, v, u) }.sortBy(_._1) :+
          (("trace.overhead_frac", overhead, "ratio"))
      }
      val correct = checked.problems.isEmpty && missed.isEmpty
      val shown = if (args.trace) layers else e2e
      val metricsJson = shown.map { case (k, v, u) =>
        s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

      val record = Map[String, Any](
        "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "scale" -> args.scale, "corrupt" -> args.corrupt,
        "correct" -> correct, "problems" -> checked.problems.take(50),
        "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures.toSeq,
        "end_to_end" -> e2e.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "per_layer" -> layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "batch_tail_percentile" -> tailP, "batches" -> latencies.size,
        "batch_latencies" -> lat.map { case (k, d) => Seq(k, d) }.toSeq, "trace_probe_s" -> probe,
        "write_s" -> writeS, "floor_batch_latencies" -> floor.toSeq, "setup_reps_s" -> setups,
        "check_detail" -> checked.detail, "phase_s" -> phases.toMap,
        "spans" -> (if (args.trace) tr.spanRecords() else Nil),
        "provenance" -> Map(
          "source_id" -> args.sourceId, "nproc" -> ctx.cores, "heap" -> args.heap,
          "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
          "java" -> System.getProperty("java.version"),
          "spark" -> org.apache.spark.SPARK_VERSION,
          "scala" -> scala.util.Properties.versionNumberString,
          "seed" -> args.seed, "input_sizes" -> w.inputSizes,
          "load_before" -> loadBefore, "load_after" -> loadAvg(),
          "load_ok" -> (loadBefore >= 0 && loadBefore < ctx.cores * 0.5)))
      val recFile = new File(args.resultsDir,
        s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}-${System.currentTimeMillis()}.json")
      Files.write(recFile.toPath, Json.render(record).getBytes(StandardCharsets.UTF_8))
      System.err.println(s"perfbench: record ${recFile.getPath}")
      checked.problems.take(20).foreach(p => System.err.println(s"perfbench: CHECK FAILED: $p"))

      // drop this run's tables and caches before the session ends
      ctx.spark.catalog.listTables().collect().foreach(t => ctx.spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      ctx.stopSession()
      println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $metricsJson}""")
      if (correct) 0 else 3
    } catch {
      case e: Throwable =>
        System.err.println("perfbench: run aborted")
        e.printStackTrace()
        try ctx.stopSession() catch { case NonFatal(_) => }
        1
    }
    System.out.flush()
    sys.exit(code)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}
