package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options, passed by perfbench/run.py. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    input: Path,
    tables: Path,
    catalog: Path,
    scratch: Path,
    out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String): Path = Paths.get(m(k)).toAbsolutePath
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, p("input"), p("tables"),
      p("catalog"), p("scratch"), p("out"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile (numpy's default) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest whole percentile with at least ten samples above it:
    * (percentile, value, sample count). Below 20 samples no such
    * percentile at or above the median exists, and the maximum is reported
    * as percentile 100. */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val n = xs.size
    if (n < 20) (100, if (xs.isEmpty) Double.NaN else xs.max, n)
    else {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      (pct, quantile(xs, pct / 100.0), n)
    }
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
  /** CPU seconds so far per OS thread group (thread name without digits),
    * JIT compiler and GC threads included */
  def threadCpu: Seq[(String, Double)] = {
    val tick = 100.0
    val tasks = new java.io.File("/proc/self/task").listFiles().toSeq
    tasks.flatMap { t =>
      scala.util.Try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        name.replaceAll("[0-9]+", "#") -> (f(11).toDouble + f(12).toDouble) / tick
      }.toOption
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }.toSeq.sortBy(-_._2).take(12)
  }
  /** peak resident set (VmHWM) in MB */
  def peakRssMb: Double = status("VmHWM")
  /** current resident set (VmRSS) in MB */
  def rssMb: Double = status("VmRSS")
  private def status(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One operation: a single closed-loop call into the engine. */
final case class OpRecord(
    layer: String,
    ok: Boolean,
    seconds: Double,
    cpuS: Double,
    gcS: Double,
    span: Option[Span],
    totals: Option[SparkTotals],
    plans: Seq[PlanStats])

final case class PassRecord(ops: Seq[OpRecord], traced: Boolean) {
  def ok: Boolean = ops.nonEmpty && ops.forall(_.ok)
  def seconds: Double = ops.map(_.seconds).sum
  def cpuS: Double = ops.map(_.cpuS).sum
}

/** Runs operations one at a time and keeps the failure count. An operation
  * that throws or whose output fails its check is counted as failed and
  * never contributes a timing. */
final class Ctx(val spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  private val current = mutable.ArrayBuffer.empty[OpRecord]

  def op[R](layer: String, plan: Boolean = true)(build: => DataFrame)(act: DataFrame => R)(
      check: R => Option[String]): Option[R] = {
    attempted += 1
    tracer.foreach(_.take())
    val cpu0 = Proc.cpuS
    val gc0 = Proc.gcS
    val t0 = System.nanoTime()
    var opSpan: Option[Span] = None
    val res: Either[String, R] = try {
      tracer match {
        case None => Right(act(build))
        case Some(tr) =>
          val s = tr.begin(layer, "op")
          opSpan = Some(s)
          try {
            val df = tr.span("build", "build")(build)
            if (plan) tr.span("plan", "plan")(df.queryExecution.executedPlan)
            Right(tr.span("execute", "execute")(act(df)))
          } finally tr.end(s)
      }
    } catch { case NonFatal(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.cpuS - cpu0
    val gc = Proc.gcS - gc0
    val (tot, plans) = tracer.map(_.take()) match {
      case Some((t, p)) => (Some(t), p)
      case None => (None, Nil)
    }
    val verdict = res.flatMap { v =>
      try check(v).toLeft(v)
      catch { case NonFatal(e) => Left(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    verdict match {
      case Left(msg) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $layer: ${msg.take(500)}")
        current += OpRecord(layer, ok = false, secs, cpu, gc, opSpan, tot, plans)
        None
      case Right(v) =>
        current += OpRecord(layer, ok = true, secs, cpu, gc, opSpan, tot, plans)
        Some(v)
    }
  }

  def runPass(body: => Unit): PassRecord = {
    current.clear()
    body
    PassRecord(current.toList, tracer.isDefined)
  }
}

/** A benchmark workload. `setup` builds the program state that the timed
  * passes use; `prepareChecks` computes expectations off the clock. */
trait Workload {
  /** input documents one pass processes */
  def docsPerPass: Long

  /** parquet file the generic warm-up reads */
  def warmupParquet: String
  def setup(spark: SparkSession): Unit
  def prepareChecks(spark: SparkSession): Unit = ()
  def pass(ctx: Ctx): Unit
  /** traced-run extras: per-layer values measured outside the passes */
  def layerProbe(ctx: Ctx): Map[String, Double] = Map.empty
}

object Session {
  def create(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", o.scratch.resolve("warehouse").toString)
      .config("spark.local.dir", o.scratch.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        o.scratch.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def warmup(s: SparkSession, parquet: String): Unit = {
    s.range(1000000).select(sum(col("id"))).collect()
    s.read.parquet(parquet).select(count(lit(1))).collect()
  }
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val line = try run(o) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(3)
    }
    Files.writeString(o.out, line + "\n")
    System.exit(0)
  }

  private def workload(o: Opts): Workload = o.workload match {
    case "pipeline_tokenize" => new PipelineWorkload(o)
    case "dedup_neardup" => new DedupWorkload(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def run(o: Opts): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl = workload(o)
    // the one set-up, measured from JVM start: class loading, session
    // start and first codegen are part of it
    val spark = Session.create(o)
    Session.warmup(spark, wl.warmupParquet)
    wl.setup(spark)
    val setupS = sinceStart
    val phases = mutable.LinkedHashMap("setup" -> setupS)
    val rssAt = mutable.LinkedHashMap("setup" -> (Proc.rssMb, Proc.peakRssMb))
    def mark(name: String): Unit = {
      phases(name) = sinceStart - phases.values.sum
      rssAt(name) = (Proc.rssMb, Proc.peakRssMb)
    }
    wl.prepareChecks(spark)
    mark("prepare_checks")
    val ctx = new Ctx(spark)
    // three untimed passes: the first still compiles query code and much
    // of Spark, and pass times keep falling, as the JIT compiles more, until
    // about the fourth
    (1 to 3).foreach(_ => ctx.runPass(wl.pass(ctx))) // checked, not timed
    mark("warm")

    val untraced = mutable.ArrayBuffer.empty[PassRecord]
    val traced = mutable.ArrayBuffer.empty[PassRecord]
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val timedStart = System.nanoTime()
    var i = 0
    // the timed phase lasts --seconds of wall time, output checks included
    def enough: Boolean = (System.nanoTime() - timedStart) / 1e9 >= o.seconds &&
      untraced.nonEmpty && (tracer.isEmpty || traced.nonEmpty)
    while (!enough) {
      // untraced and traced passes alternate U T T U U T ... so warm-up
      // drift does not favour one side
      val useTrace = tracer.isDefined && (i % 4 == 1 || i % 4 == 2)
      if (useTrace) { tracer.get.attach(); ctx.tracer = tracer }
      val p = ctx.runPass(wl.pass(ctx))
      if (useTrace) {
        ctx.tracer = None
        tracer.get.detach()
        traced += p
      } else untraced += p
      i += 1
    }
    mark("timed_passes")
    val probe = tracer.map { tr =>
      tr.attach(); ctx.tracer = Some(tr)
      val r = wl.layerProbe(ctx)
      ctx.tracer = None; tr.detach()
      r
    }.getOrElse(Map.empty)

    mark("probe")
    val rss = Proc.peakRssMb
    val e2eU = endToEnd(untraced.toSeq, wl, setupS, rss)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => EndToEnd.map { case (k, u) => (k, e2eU(k), u) }
      case Some(tr) =>
        val e2eT = endToEnd(traced.toSeq, wl, setupS, rss)
        val layer = Layers.perLayer(tr, traced.toSeq, untraced.toSeq, o.cores,
          e2eU, e2eT, probe, ctx)
        tr.writeJson(o.scratch.resolve("spans.json"))
        Layers.Names.map { case (k, u) =>
          (k, layer.getOrElse(k, 0.0), u)
        }
    }
    val allPasses = untraced ++ traced
    val correct = ctx.failed == 0 && allPasses.exists(_.ok)
    writeProvenance(o, spark, allPasses.toSeq, phases.toSeq, rssAt.toSeq)
    spark.stop()
    val m = metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(if (v.isNaN) 0.0 else v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(m)))
  }

  def endToEnd(passes: Seq[PassRecord], wl: Workload, setupS: Double,
      rss: Double): Map[String, Double] = {
    val good = passes.filter(_.ok)
    Map(
      "setup_s" -> setupS,
      "docs_per_s" -> wl.docsPerPass / Stats.median(good.map(_.seconds)),
      "cpu_s" -> Stats.median(good.map(_.cpuS)),
      "peak_rss_mb" -> rss)
  }

  private def writeProvenance(o: Opts, spark: SparkSession,
      passes: Seq[PassRecord], phases: Seq[(String, Double)],
      rssAt: Seq[(String, (Double, Double))]): Unit = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k.startsWith("spark.local") || k.startsWith("spark.driver.") }
    val rt = Runtime.getRuntime
    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "trace" -> o.trace.toString,
      "git_sha" -> Json.str(sys.env.getOrElse("PERFBENCH_GIT_SHA", "unknown")),
      "engine_src_digest" -> Json.str(sys.env.getOrElse("PERFBENCH_SRC_DIGEST", "unknown")),
      "cores" -> o.cores.toString,
      "heap_max_mb" -> (rt.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "phase_wall_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "phase_rss_mb" -> Json.obj(rssAt.map { case (k, (rss, hwm)) =>
        k -> Json.obj(Seq("rss" -> Json.num(rss), "hwm" -> Json.num(hwm))) }),
      "thread_cpu_s" -> Json.obj(Proc.threadCpu.map { case (k, v) => k -> Json.num(v) }),
      "passes" -> passes.map { p =>
        Json.obj(Seq("traced" -> p.traced.toString, "ok" -> p.ok.toString,
          "seconds" -> Json.num(p.seconds), "cpu_s" -> Json.num(p.cpuS),
          "ops" -> Json.obj(p.ops.map(r => r.layer -> Json.num(r.seconds)))))
      }.mkString("[", ",", "]"),
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))
    Files.writeString(o.scratch.resolve("provenance.json"), Json.obj(fields) + "\n")
  }
}
