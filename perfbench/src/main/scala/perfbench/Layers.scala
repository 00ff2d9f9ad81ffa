package perfbench

/** Per-layer figures of a traced run, computed from its spans. */
object Layers {

  private def mean(xs: Seq[Double]): Double = Stats.mean(xs)

  private def w(s: Sample): SpanWork = s.work.get

  /** The `per_layer` metrics every workload reports: the headline op's
    * spans (`op.*`), whole loop rounds (`round.*`), the JVM, and the
    * tracing overhead: the headline op's mean wall in traced rounds
    * minus its mean wall in the run's untraced rounds, taken per table
    * state of the workload's cycle and averaged over the states.
    */
  def perLayer(wl: Workload, tr: Tracer, rounds: Int)
      : Seq[(String, (Double, String))] = {
    val loop = tr.samples.filter(s => wl.loopLayers(s.layer)).toSeq
    val traced = loop.filter(_.traced)
    val prim = traced.filter(_.layer == wl.primary)
    val nRounds = math.max(1, traced.map(_.round).distinct.size)
    def perOp(f: Sample => Double) = mean(prim.map(f))
    def perRound(f: Sample => Double) = traced.map(f).sum / nRounds
    val overhead = {
      val byState = loop.filter(_.layer == wl.primary)
        .groupBy(s => wl.state(s.round)).values.toSeq
        .map(_.partition(_.traced))
        .collect { case (on, off) if on.nonEmpty && off.nonEmpty =>
          mean(on.map(_.wallS)) - mean(off.map(_.wallS)) }
      if (byState.isEmpty) Double.NaN else mean(byState)
    }
    Seq(
      "op.wall_s" -> (perOp(_.wallS), "s"),
      "op.jobs" -> (perOp(w(_).jobs.toDouble), "count"),
      "op.task_s" -> (perOp(w(_).taskMs / 1000.0), "s"),
      "op.driver_s" -> (perOp(_.driverS), "s"),
      "op.shuffle_bytes" -> (perOp(w(_).shuffleBytes.toDouble), "B"),
      "op.spill_bytes" -> (perOp(w(_).spillBytes.toDouble), "B"),
      "op.input_bytes" -> (perOp(w(_).inputBytes.toDouble), "B"),
      "op.input_records" -> (perOp(w(_).inputRecords.toDouble), "count"),
      "op.output_bytes" -> (perOp(w(_).outputBytes.toDouble), "B"),
      "round.jobs" -> (perRound(w(_).jobs.toDouble), "count"),
      "round.task_s" -> (perRound(w(_).taskMs / 1000.0), "s"),
      "round.driver_s" -> (perRound(_.driverS), "s"),
      "round.shuffle_bytes" -> (perRound(w(_).shuffleBytes.toDouble), "B"),
      "round.input_bytes" -> (perRound(w(_).inputBytes.toDouble), "B"),
      "round.bytes_written" -> (perRound(_.bytesWritten.toDouble), "B"),
      "round.files_written" -> (perRound(_.filesWritten.toDouble), "count"),
      "jvm.gc_s" -> (loop.map(_.gcS).sum / math.max(1, rounds), "s"),
      "jvm.cached_bytes_after_op" ->
        ((0L +: traced.map(_.cachedBytes)).max.toDouble, "B"),
      "trace.overhead_s" -> (overhead, "s"))
  }

  /** The layer breakdown under the names of the benchmark's
    * documentation (`cdc.merge.*`, `catalog.point.*`, ...), for the
    * layers this workload runs.
    */
  def byModule(wl: Workload, tr: Tracer): Seq[(String, Double)] = {
    val traced = tr.samples.filter(_.traced).toSeq
    def of(layers: String*) = traced.filter(s => layers.contains(s.layer))
    def common(prefix: String, ss: Seq[Sample], keys: Seq[String])
        : Seq[(String, Double)] = if (ss.isEmpty) Nil else {
      val all = Map[String, Sample => Double](
        "wall_s" -> (_.wallS),
        "jobs" -> (w(_).jobs.toDouble),
        "task_s" -> (w(_).taskMs / 1000.0),
        "driver_s" -> (_.driverS),
        "shuffle_bytes" -> (w(_).shuffleBytes.toDouble),
        "spill_bytes" -> (w(_).spillBytes.toDouble),
        "input_bytes" -> (w(_).inputBytes.toDouble),
        "bytes_written" -> (_.bytesWritten.toDouble),
        "files_written" -> (_.filesWritten.toDouble))
      keys.map(k => s"$prefix.$k" -> mean(ss.map(all(k))))
    }
    val bytesPerRow = wl match {
      case u: UsersTable => u.tableBytesPerRow
      case _ => Double.NaN
    }
    val merge = of("cdc.merge")
    val exports = of("cdc.export")
    val out = Seq.newBuilder[(String, Double)]
    out ++= common("cdc.merge", merge, Seq("wall_s", "jobs", "task_s",
      "driver_s", "shuffle_bytes", "spill_bytes", "input_bytes",
      "bytes_written", "files_written"))
    if (merge.nonEmpty) out += "cdc.merge.write_amp" ->
      merge.map(_.bytesWritten).sum /
        (merge.map(_.units).sum * bytesPerRow)
    out ++= common("cdc.compact", of("cdc.compact"), Seq("wall_s", "jobs",
      "task_s", "driver_s", "shuffle_bytes", "bytes_written"))
    out ++= common("cdc.export", exports, Seq("wall_s", "jobs", "task_s",
      "driver_s", "input_bytes", "shuffle_bytes"))
    if (exports.nonEmpty) out += "cdc.export.rows_read_per_row" ->
      exports.map(w(_).inputRecords).sum.toDouble /
        math.max(1L, exports.map(_.units).sum)
    wl match {
      case m: MorMixed =>
        val reads = tr.samples.filter(_.layer == "catalog.read").toSeq
          .zip(m.reads).filter(_._1.traced)
        reads.groupBy(_._2._1).toSeq.sortBy(_._1).foreach { case (kind, rs) =>
          val p = s"catalog.$kind"
          out += s"$p.plan_s" -> mean(rs.map(_._2._2))
          out += s"$p.exec_s" -> mean(rs.map(_._2._3))
          out += s"$p.jobs" -> mean(rs.map(x => w(x._1).jobs.toDouble))
          out += s"$p.input_bytes" ->
            mean(rs.map(x => w(x._1).inputBytes.toDouble))
          out += s"$p.rows_read_per_row" ->
            rs.map(x => w(x._1).inputRecords).sum.toDouble /
              math.max(1L, rs.map(_._2._4).sum)
        }
      case c: CurateCorpus =>
        val cur = of("operators.curate")
        c.phases.flatMap(_.keys).distinct.foreach { k =>
          out += s"operators.$k" -> mean(c.phases.flatMap(_.get(k)).toSeq)
        }
        out ++= common("operators", cur, Seq("task_s", "shuffle_bytes",
          "spill_bytes"))
      case _ =>
    }
    val drains = of("streaming.drain")
    out ++= common("streaming.drain", drains, Seq("wall_s", "jobs"))
    if (drains.nonEmpty) out += "streaming.drain.rows" ->
      mean(drains.map(_.units.toDouble))
    out.result()
  }
}
