package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one JVM.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <scratch dir>
  *   perfbench.Main --selftest
  * }}}
  *
  * The last stdout line is the result JSON; the line before it, tagged
  * `perfbench-detail`, carries the per-workload figures under the
  * names the benchmark's documentation uses.
  */
object Main {

  val SetupRepeats = 3
  val MinRounds = 2

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) sys.exit(SelfTest.run())
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    if (!Workload.names.contains(name)) {
      System.err.println(s"unknown workload '$name'")
      sys.exit(2)
    }
    val t0 = System.nanoTime()
    val spark = session(work)
    phase("session", t0)
    val code = try run(spark, name, seed, seconds, trace, work)
      finally spark.stop()
    sys.exit(code)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    // short status-store retention: the live heap stops growing with
    // the number of jobs run within the warm-up
    val s = graft.GraftSession.builder(cores).appName("perfbench")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        work.resolve("graft").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def phase(what: String, t0: Long): Double = {
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench phase: $what%s $s%.2f s")
    s
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path): Int = {
    val tracer = new Tracer(spark)
    val tally = new Tally
    val w = Workload(name, Ctx(spark, seed, work, tracer, tally, trace))

    // unmeasured warm-up: a cold set-up and one round, so the JIT has
    // compiled the set-up's code before it is timed, then the measured
    // set-ups, then the rest of the warm-up rounds on the last set-up's
    // state, so every run starts its loop equally warm
    val tw = System.nanoTime()
    w.setup()
    w.round(0)
    phase("warm-up", tw)
    val setups = (0 until SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      phase("setup", t0)
    }
    val tw2 = System.nanoTime()
    val warmup = w.warmupRounds
    (1 until warmup).foreach(w.round)
    phase("warm-up", tw2)
    tracer.samples.clear()
    w.reset()
    var r = warmup

    // closed loop with one client: rounds back to back until the time
    // is up, at least two, and whole cycles of the workload's table
    // states. Traced runs go by blocks of one cycle in the order
    // untraced, traced, traced, untraced, and end on a whole group of
    // four blocks: every table state is met both ways, and a steady
    // drift of op times over the loop (the JIT still compiling) cancels
    // out of the tracing overhead.
    var heapPeak = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val group = if (trace) 4 * w.cycle else w.cycle
    def done = r - warmup
    while (elapsed < seconds || done < MinRounds || done % group != 0) {
      if (trace) tracer.attach(Set(1, 2)((r - warmup) / w.cycle % 4))
      tracer.round = r
      w.round(r)
      heapPeak = math.max(heapPeak, Tracer.liveHeapBytes())
      r += 1
    }
    tracer.attach(false)
    phase("loop", t0)
    System.err.println("perfbench walls: " + tracer.samples
      .filter(_.layer == w.primary).map(s => f"${s.wallS}%.3f").mkString(" "))
    val rounds = done
    val tf = System.nanoTime()
    w.finish()
    phase("final checks", tf)

    val loop = tracer.samples.filter(s => w.loopLayers(s.layer)).toSeq
    val detail = mutable.LinkedHashMap[String, Double]()
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      val prim = loop.filter(_.layer == w.primary).map(_.wallS)
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("op_mean_s") = (Stats.mean(prim), "s")
      metrics("work_per_s") = (Workload.rate(loop, w.workLayers), "1/s")
      metrics("heap_peak_mb") = (heapPeak / 1048576.0, "MB")
      detail ++= w.detail(loop)
    } else {
      metrics ++= Layers.perLayer(w, tracer, rounds)
      detail ++= Layers.byModule(w, tracer)
    }
    detail("fail_ratio") = tally.failRatio
    detail("rounds") = rounds.toDouble
    detail("setup_repeats") = SetupRepeats.toDouble

    tally.failures.foreach(f => System.err.println(s"perfbench check: $f"))
    println("perfbench-detail " + Json.obj(detail.toSeq.map {
      case (k, v) => k -> Json.num(v) }))
    val correct = tally.failed == 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    if (correct) 0 else 1
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
