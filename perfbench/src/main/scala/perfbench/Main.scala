package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the tracer, its scratch directory,
  * the seed, and the tally of attempted and failed operations. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long) {
  var attempted = 0L
  var failed = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.span(layer, name)(body)

  /** Run one operation; it fails if it throws or its check returns false. */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $what threw: $e")
          e.printStackTrace(System.err)
          false
      }
    if (!ok) failed += 1
    ok
  }

  /** A failed output check is reported and makes its operation fail. */
  def expect(what: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) System.err.println(s"[perfbench] check failed: $what: $detail")
    ok
  }
}

/** One workload: seeded inputs, untimed set-up, and a timed round. */
trait Workload {
  /** Generate the inputs under `dir`; returns their digest. */
  def generate(ctx: Ctx, dir: Path): String
  /** The untimed program set-up over the last generated inputs. */
  def setUp(ctx: Ctx): Unit = ()
  /** Whether set-up ends with an untimed warm-up round. Batch jobs that pay
    * their cold start on every run (an ingest, a periodic index
    * maintenance job) are timed from cold instead. */
  def warmUp: Boolean
  /** One round of timed work (its own checks run untimed inside it). */
  def round(ctx: Ctx): Unit
  /** Forget samples taken so far (the warm-up round's). */
  def reset(): Unit
  /** Rounds completed since the last reset. */
  def rounds: Int
  /** Latencies behind `op_p50_s`. */
  def opSeconds: Seq[Double]
  /** Work items and the seconds they took, behind `items_per_s`. */
  def items: (Double, Double)
  /** The workload's own metric names for the report: (name, value, unit, n). */
  def named: Seq[(String, Double, String, Int)]
  /** Per-layer values only the workload can measure. */
  def layerExtras(ctx: Ctx): Map[String, Double]
}

object Main {
  val Cores = 4
  val SetupReps = 3

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_s" -> "s",
    "items_per_s" -> "1/s", "driver_live_heap_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, t0Ns: Long)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")).toAbsolutePath,
      m.get("--t0-ns").map(_.toLong).getOrElse(System.currentTimeMillis() * 1000000L))
  }

  def workload(name: String): Workload = name match {
    case "cohort_query" => new CohortQuery
    case "ann_index_stream" => new AnnIndexStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Live heap after full collections, giving Spark's asynchronous
    * cleaner time to drop what the last round released. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload)
    Files.createDirectories(a.work)
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() * 1000000L - a.t0Ns) / 1e9
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val counters = new SpanCounters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, tracer, a.work, a.seed)
    try run(a, w, ctx, counters, sessionS)
    finally spark.stop()
  }

  private def run(a: Args, w: Workload, ctx: Ctx, counters: SpanCounters,
      sessionS: Double): Unit = {
    val spark = ctx.spark
    // set-up: the inputs several times (the digests double as the
    // same-seed-same-bytes check), then the program set-up and, where the
    // workload asks for it, one warm-up round on the last inputs
    val gen = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val dir = a.work.resolve(s"inputs-$r")
      val d = w.generate(ctx, dir)
      val s = (System.nanoTime() - t) / 1e9
      if (r < SetupReps - 1) deleteTree(dir)
      (d, s)
    }
    val digests = gen.map(_._1)
    val t1 = System.nanoTime()
    w.setUp(ctx)
    val t2 = System.nanoTime()
    if (w.warmUp) w.round(ctx)
    val t3 = System.nanoTime()
    val setupS = sessionS + Stats.median(gen.map(_._2)) + (t3 - t1) / 1e9
    println(f"setup session=$sessionS%.3fs inputs=${gen.map(g => f"${g._2}%.3f").mkString("/")}s " +
      f"program=${(t2 - t1) / 1e9}%.3fs warm-up=${(t3 - t2) / 1e9}%.3fs")
    val deterministic = digests.distinct.size == 1
    if (!deterministic) System.err.println(s"[perfbench] input digests differ: $digests")
    w.reset()
    val setupFailed = ctx.failed
    ctx.attempted = 0; ctx.failed = 0

    val phases = new PhaseTimes
    if (a.trace) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.listenerManager.register(phases)
    }
    // whole rounds while time remains, so every run measures whole rounds
    val wall0 = ctx.tracer.now()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    ctx.span("bench", "timed") {
      while (System.nanoTime() < deadline) w.round(ctx)
    }
    val wall1 = ctx.tracer.now()
    val heap = liveHeapMb()

    val (items, itemSecs) = w.items
    val rounds = math.max(1, w.rounds)
    val ops = w.opSeconds
    val named = Seq(("setup_s", setupS, "s", SetupReps),
      ("op_p50_s", Stats.median(ops), "s", ops.size),
      ("items_per_s", items / itemSecs, "1/s", rounds)) ++ w.named ++
      Seq(("failed_ops_ratio", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio", ctx.attempted.toInt),
        ("driver_live_heap_mb", heap, "MB", 1))
    named.foreach { case (n, v, u, k) => println(f"metric $n%-28s $v%14.6f $u%-12s n=$k") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map("setup_s" -> setupS, "op_p50_s" -> Stats.median(ops),
          "items_per_s" -> items / itemSecs, "driver_live_heap_mb" -> heap)
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      }
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val layers = Layers.report(ctx, w, counters, phases, rounds, wall0, wall1)
        val spansOut = a.work.getParent.resolve("spans")
        Files.createDirectories(spansOut)
        val dump = spansOut.resolve(s"${a.workload}-seed${a.seed}.jsonl")
        Layers.dumpSpans(ctx.tracer.spans.toSeq, a.workload, a.seed, dump)
        println(s"spans ${ctx.tracer.spans.size} written to ${a.work.getParent.getFileName}/spans/${dump.getFileName}")
        layers
      }
    metrics.foreach { case (n, _, u) =>
      require(Stats.validName(n) && Stats.validUnit(u), s"bad metric $n [$u]")
    }
    val correct = deterministic && setupFailed == 0 && ctx.failed == 0 && ctx.attempted > 0
    val body = metrics.map { case (n, v, u) =>
      s"${Stats.quote(n)}: {\"value\": ${Stats.num(v)}, \"unit\": ${Stats.quote(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    System.out.flush()
  }
}
