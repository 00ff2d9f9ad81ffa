package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{CdcEngine, Compaction, WatermarkStore}
import graft.operators.{Curation, Dedup, QualityModel}

/** What a workload shares with the runner. `work` is the run's scratch
  * directory inside the checkout.
  */
final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    tracer: Tracer, tally: Tally, traceRun: Boolean)

/** A closed-loop steady-state workload with one client: `round` is one
  * iteration of the loop, and every call into the program inside it
  * goes through `ctx.tracer.op`.
  */
abstract class Workload(val ctx: Ctx) {
  /** Layer of the headline op, whose mean wall is `op_mean_s`. */
  def primary: String

  /** Layers that belong to the steady-state loop (the busy time);
    * traced-only diagnostics are left out.
    */
  def loopLayers: Set[String]

  /** Layers whose calls count the rows or documents of `work_per_s`. */
  def workLayers: Set[String]

  /** One complete set-up; the runner keeps the state of the last. */
  def setup(): Unit

  def round(r: Int): Unit

  /** Drop what the warm-up rounds measured. */
  def reset(): Unit = ()

  /** The table state round `r` starts from, where rounds cycle through
    * states (a delta chain compacted every other round); the tracing
    * overhead compares traced and untraced rounds of the same state.
    */
  def state(r: Int): Int = 0

  /** Rounds in one cycle of table states; a run measures whole cycles. */
  def cycle: Int = 1

  /** Unmeasured warm-up rounds: one before the measured set-ups, the
    * rest after them.
    */
  def warmupRounds: Int = 3

  /** Checks that need the whole run (final table state). */
  def finish(): Unit = ()

  /** Per-workload figures for the detail line, from the measured rounds. */
  def detail(measured: Seq[Sample]): Seq[(String, Double)] = Nil

  protected def spark: SparkSession = ctx.spark
  protected def tr: Tracer = ctx.tracer
  protected def tally: Tally = ctx.tally

  /** Run one checked op: a throw counts as a failed op. */
  protected def checked(what: String)(f: => Seq[Option[String]]): Unit =
    try tally.record(f: _*)
    catch { case e: Exception => tally.error(what, e) }
}

object Workload {
  val names = Seq("mor_mixed", "curate_corpus")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "mor_mixed" => new MorMixed(ctx)
    case "curate_corpus" => new CurateCorpus(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Units handled by `layers` per second of the loop's busy time. */
  def rate(m: Seq[Sample], layers: Set[String]): Double =
    m.filter(s => layers(s.layer)).map(_.units).sum / m.map(_.wallS).sum

  /** Mean and sample count, and the p50 and p90 when the percentile
    * rule allows them (at least ten samples beyond the rank).
    */
  def latency(name: String, xs: Seq[Double]): Seq[(String, Double)] =
    if (xs.isEmpty) Seq(s"${name}_n" -> 0.0)
    else Seq(s"${name}_mean_s" -> Stats.mean(xs),
      s"${name}_n" -> xs.size.toDouble) ++
      Stats.percentile(xs, 0.5).map(p => s"${name}_p50_s" -> p) ++
      Stats.percentile(xs, 0.9).map(p => s"${name}_p90_s" -> p)

  def walls(m: Seq[Sample], layer: String): Seq[Double] =
    m.filter(_.layer == layer).map(_.wallS)
}

/** A maintained `users` table served through the `graft` catalog,
  * with the model that checks it.
  */
abstract class UsersTable(ctx: Ctx) extends Workload(ctx) {
  def rows: Long
  def feed: Boolean
  val buckets = 8

  val table = "graft.db.users"
  def dir: String = ctx.work.resolve("graft/db/users").toString
  def dirPath: Path = Paths.get(dir)
  var model: Gen.Model = _
  var clock: Long = 0L
  lazy val wmDir: String = ctx.work.resolve("wm").toString
  lazy val outDir: String = ctx.work.resolve("out").toString
  lazy val engine = new CdcEngine(spark, () => spark.table(table), wmDir,
    outDir)
  lazy val wm = new WatermarkStore(spark, wmDir)

  def seedTable(): Unit = {
    Compaction.init(Gen.users(spark, rows, ctx.seed), dir, Seq("id"),
      "updated_at", "is_deleted", buckets, Nil, feed)
    model = Gen.seededModel(ctx.seed, rows, (rows * 2 + 100000L).toInt)
    clock = Gen.baseMicros(ctx.seed) + Gen.HourMicros
  }

  def liveCount(): Long =
    spark.sql(s"SELECT count(*) FROM $table").head().getLong(0)

  override def finish(): Unit = checked("final count") {
    Seq(Checks.count("final table count", model.live, liveCount()))
  }

  def tableBytesPerRow: Double =
    Tracer.dirBytes(dirPath).toDouble / math.max(1L, model.live)

  /** Reads back an export's CSV outside the timed region: rows per
    * value of the first column (the operation for delta exports).
    */
  def csvFirstColumnCounts(file: String): Map[String, Long] = {
    val p = Paths.get(outDir, file)
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val it = Files.lines(p)
    try it.skip(1).forEach { line =>
      val c = line.indexOf(',')
      counts(if (c < 0) line else line.substring(0, c)) += 1
    }
    finally it.close()
    Files.deleteIfExists(p)
    counts.toMap
  }

  def watermarkMicros(consumer: String): Option[Long] =
    engine.watermark(consumer).map(Gen.micros)

  def changelog(b: Gen.Batch): DataFrame = {
    val sp = spark
    import sp.implicits._
    b.rows(model).toDF()
  }
}

/** Merge-on-read table with the change feed on, maintained and served
  * at once. Each round merges a fresh changelog, exports it to a
  * downstream consumer, drains the feed with an AvailableNow stream and
  * answers catalog reads; every even round compacts, so reads alternate
  * between a one- and a two-delta chain and every run, the warm-up
  * included, compacts.
  */
final class MorMixed(ctx: Ctx) extends UsersTable(ctx) {
  val rows: Long = 50000L
  val feed = true
  val primary = "catalog.read"
  val loopLayers = Set("cdc.merge", "cdc.export", "streaming.drain",
    "cdc.compact", "catalog.read")
  val workLayers = Set("cdc.merge")
  override def state(r: Int): Int = r % 2
  override def cycle: Int = 2
  override def warmupRounds: Int = 2
  private val batchRows = 200
  // a fresh stream checkpoint per set-up, drained before the first
  // round on that table
  private var setups = 0
  private def ckpt = ctx.work.resolve(s"feed-ckpt-$setups").toString
  private var caughtUp = false
  /** Merge start to the end of the delta export that carries the batch. */
  val chain = ArrayBuffer.empty[Double]

  /** Kind, plan seconds, exec seconds and rows returned of every read,
    * in the order of the `catalog.read` samples.
    */
  val reads = ArrayBuffer.empty[(String, Double, Double, Long)]
  override def reset(): Unit = { reads.clear(); chain.clear() }

  def setup(): Unit = {
    seedTable()
    wm.upsert("downstream", Gen.ts(Gen.baseMicros(ctx.seed)))
    setups += 1
    caughtUp = false
  }

  /** Drain every published feed batch; returns rows per change type. */
  private def drain(): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.groupBy(col("_change_type")).count().collect().foreach { r =>
        counts(r.getString(0)) += r.getLong(1)
      }
    spark.readStream.format("graft.streaming.FeedBatchSource")
      .option("path", dir).option("emitRows", "true").load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
      .awaitTermination()
    counts.toMap
  }

  private def query(kind: String, sql: String): Array[Row] =
    tr.op(primary) {
      val t0 = System.nanoTime()
      val df = spark.sql(sql)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val out = df.collect()
      reads += ((kind, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9,
        out.length.toLong))
      out
    }

  private def versions(rs: Array[Row]): Seq[Long] =
    rs.toSeq.map(r => Gen.micros(r.getTimestamp(1)))

  def round(r: Int): Unit = {
    if (!caughtUp) { drain(); caughtUp = true } // the set-up's feed
    clock += 1000000L
    val b = Gen.batch(model, ctx.seed, r, batchRows, clock)
    val log = changelog(b)
    checked("merge") {
      val t0 = System.nanoTime()
      tr.op("cdc.merge", Some(dirPath))(
        Compaction.merge(spark, dir, log, emitFeed = true,
          mergeOnRead = true))
      Gen.apply(model, b)
      tr.count(b.size)
      val job = tr.op("cdc.export")(engine.deltaExport("downstream"))
      tr.count(job.rowsExported)
      chain += (System.nanoTime() - t0) / 1e9
      Seq(Checks.export("delta downstream", b.inserts.size + b.updates.size,
          job.rowsExported, Some(clock), watermarkMicros("downstream")),
        Checks.ops("delta downstream ops", Checks.deltaOfBatch(b),
          csvFirstColumnCounts(job.outputFilename)))
    }
    checked("drain") {
      val got = tr.op("streaming.drain")(drain())
      tr.count(got.values.sum)
      Seq(Checks.ops("drained feed", Checks.feedOfBatch(b), got))
    }
    val recent = b.updates ++ b.inserts ++ b.deletes
    (0 until 8).foreach { i =>
      val h = Gen.hash(ctx.seed, r, 5000000L + i)
      val id =
        if (i % 2 == 0) recent(Gen.below(h, recent.size).toInt)
        else Gen.below(h, model.nextId)
      checked("point lookup") {
        val rs = query("point",
          s"SELECT id, updated_at FROM $table WHERE id = $id")
        Seq(Checks.point(model, id, versions(rs)))
      }
    }
    (0 until 1).foreach { i =>
      val ids = (0 until 50).map(j =>
        Gen.below(Gen.hash(ctx.seed, r, 6000000L + i * 100 + j),
          model.nextId)).distinct
      checked("in lookup") {
        val rs = query("in", s"SELECT id, updated_at FROM $table " +
          s"WHERE id IN (${ids.mkString(",")})")
        val got = rs.map(x => x.getLong(0) -> Gen.micros(x.getTimestamp(1)))
          .toMap
        val want = ids.filter(model.isLive)
          .map(id => id -> model.version(id.toInt)).toMap
        Seq(Checks.ops("in lookup versions",
          want.map { case (k, v) => k.toString -> v },
          got.map { case (k, v) => k.toString -> v }))
      }
    }
    (0 until 2).foreach { i =>
      val since = if (i == 0) clock - 3000000L
        else Gen.baseMicros(ctx.seed) - Gen.DayMicros
      checked("range count") {
        val rs = query("range", s"SELECT count(*) FROM $table " +
          s"WHERE updated_at > timestamp_micros($since)")
        Seq(Checks.count(s"range count since $since",
          model.countNewerThan(since), rs.head.getLong(0)))
      }
    }
    checked("aggregate") {
      val rs = query("agg",
        s"SELECT count(*), max(updated_at) FROM $table")
      Seq(Checks.count("live rows", model.live, rs.head.getLong(0)),
        Checks.count("max updated_at", model.maxVersion,
          Gen.micros(rs.head.getTimestamp(1))))
    }
    if (r % 2 == 0) checked("compact") {
      tr.op("cdc.compact", Some(dirPath))(Compaction.compact(spark, dir))
      Nil
    }
  }

  override def detail(m: Seq[Sample]): Seq[(String, Double)] = {
    val rd = Workload.walls(m, primary)
    Workload.latency("read", rd) ++
      Workload.latency("merge", Workload.walls(m, "cdc.merge")) ++
      Workload.latency("export", Workload.walls(m, "cdc.export")) ++
      Workload.latency("change_to_export", chain.toSeq) ++
      Workload.latency("drain", Workload.walls(m, "streaming.drain")) ++
      Workload.latency("compact", Workload.walls(m, "cdc.compact")) ++
      Seq("change_rows_per_s" -> Workload.rate(m, workLayers),
        "table_bytes_per_row" -> tableBytesPerRow)
  }
}

/** Fresh planted-duplicate corpus per round, curated through
  * `Curation.curateObserved` with a trained quality-model tier. The
  * set-up trains that model with `QualityModel.train` on seeded
  * labelled documents. Traced runs also time the public `Dedup` phases
  * on each round's corpus, in every round so traced and untraced rounds
  * follow the same history.
  */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  val primary = "operators.curate"
  val loopLayers = Set("operators.curate")
  val workLayers = loopLayers
  val nBase = 160
  private def corpusDir(r: Int) = ctx.work.resolve(s"corpus-$r").toString
  private var setups = 0
  private var cfg: Curation.Config = _
  /** Dedup-phase figures of traced rounds. */
  val phases = ArrayBuffer.empty[Map[String, Double]]
  override def reset(): Unit = phases.clear()

  private def write(r: Int): Gen.Corpus = {
    val sp = spark
    import sp.implicits._
    val c = Gen.corpus(ctx.seed, r, nBase, nBase / 8, nBase / 8)
    c.docs.toDF().coalesce(1).write.mode("overwrite").parquet(corpusDir(r))
    c
  }

  def setup(): Unit = {
    val sp = spark
    import sp.implicits._
    val docs = Gen.labelled(ctx.seed, setups, nBase).toDF()
    val model = QualityModel.train(docs, "text", "label", iters = 10)
    cfg = Curation.Config(modelGate = Some((model, 0.0)))
    setups += 1
  }

  def round(r: Int): Unit = {
    val c = write(r)
    checked("curate") {
      val docs = spark.read.parquet(corpusDir(r))
      val (ids, funnel) = tr.op(primary) {
        val (out, f) = Curation.curateObserved(docs, cfg)
        (out.select(col("doc_id")).collect().map(_.getLong(0)).toSeq,
          f.counts)
      }
      tr.count(c.docs.size)
      Seq(Checks.curate(c, ids, funnel))
    }
    // persisted intermediates of this corpus must not serve the next
    dropCache()
    if (ctx.traceRun) {
      dedupPhases(r)
      dropCache()
    }
  }

  /** Unpersist everything and wait until the blocks are gone, so no
    * round starts with (or measures the heap holding) an earlier
    * round's cached data.
    */
  private def dropCache(): Unit = {
    spark.catalog.clearCache()
    val deadline = System.nanoTime() + 5000000000L
    while (Tracer.cachedBytes(spark) > 0 && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  /** Times the near-dup phases through the public Dedup functions. */
  private def dedupPhases(r: Int): Unit = {
    val docs = spark.read.parquet(corpusDir(r))
    def t[T](layer: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = tr.op(layer)(f)
      (out, (System.nanoTime() - t0) / 1e9)
    }
    val banded = Dedup.bandedSignatures(docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (_, sigS) = t("dedup.signatures")(banded.count())
    val (cand, candS) = t("dedup.candidates")(
      Dedup.lshCandidatePairs(docs, "doc_id", "text").count())
    val (pairs, verS) = t("dedup.verify") {
      val p = Dedup.minhashNearDups(docs, "doc_id", "text", 0.8)
        .select("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val verified = pairs.count()
    val (_, ccS) = t("dedup.components")(
      Dedup.connectedComponents(pairs).count())
    if (tr.attached) phases += Map("signatures_s" -> sigS, "candidates_s" -> candS,
      "verify_s" -> math.max(0.0, verS - candS), "components_s" -> ccS,
      "candidate_pairs" -> cand.toDouble, "verified_pairs" -> verified.toDouble,
      "lsh_precision" -> (if (cand == 0) 1.0 else verified.toDouble / cand))
  }

  override def detail(m: Seq[Sample]): Seq[(String, Double)] =
    Workload.latency("curate", Workload.walls(m, primary)) :+
      ("curate_docs_per_s" -> Workload.rate(m, workLayers))
}
