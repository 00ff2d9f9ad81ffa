package perfbench

import scala.collection.mutable.ArrayBuffer

/** Self-tests of the harness itself (no Spark): the percentile rule,
  * span self-time arithmetic, generator determinism, and that every
  * model check rejects a planted wrong answer. Returns the exit code.
  */
object SelfTest {

  def run(): Int = {
    val failures = ArrayBuffer.empty[String]
    var n = 0
    def expect(what: String, ok: Boolean): Unit = {
      n += 1
      if (!ok) failures += what
    }

    // percentile rule: at least 10 samples beyond the percentile's rank
    expect("p50 refused at 19 samples", !Stats.enoughFor(19, 0.5))
    expect("p50 allowed at 20 samples", Stats.enoughFor(20, 0.5))
    expect("p90 refused at 99 samples", !Stats.enoughFor(99, 0.9))
    expect("p90 allowed at 100 samples", Stats.enoughFor(100, 0.9))
    val xs = (1 to 100).map(_.toDouble).reverse
    expect("p50 of 1..100 = 50", Stats.percentile(xs, 0.5).contains(50.0))
    expect("p90 of 1..100 = 90", Stats.percentile(xs, 0.9).contains(90.0))
    expect("p50 of 10 samples refused", Stats.percentile(xs.take(10), 0.5).isEmpty)
    expect("median of even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // span self time = wall minus the union of its jobs, clipped
    expect("no jobs: all self", Stats.selfTime(0, 100, Nil) == 100)
    expect("disjoint jobs", Stats.selfTime(0, 100, Seq((10L, 20L), (30L, 50L))) == 70)
    expect("overlapping jobs counted once",
      Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L), (35L, 45L))) == 50)
    expect("jobs clipped to the span",
      Stats.selfTime(100, 200, Seq((50L, 120L), (190L, 400L))) == 70)
    expect("job outside the span ignored",
      Stats.selfTime(100, 200, Seq((0L, 50L), (300L, 400L))) == 100)
    expect("fully covered span", Stats.selfTime(0, 10, Seq((0L, 10L))) == 0)

    // the generators are pure functions of the seed
    expect("same seed, same user", Gen.seedUser(7, 123) == Gen.seedUser(7, 123))
    expect("other seed, other user", Gen.seedUser(7, 123) != Gen.seedUser(8, 123))
    expect("same seed, same corpus",
      Gen.corpus(7, 3, 50, 5, 5) == Gen.corpus(7, 3, 50, 5, 5))
    expect("other seed, other corpus",
      Gen.corpus(7, 3, 50, 5, 5) != Gen.corpus(8, 3, 50, 5, 5))
    val (m1, m2) = (Gen.seededModel(7, 1000, 5000), Gen.seededModel(7, 1000, 5000))
    val b1 = Gen.batch(m1, 7, 1, 100, 99L)
    expect("same seed, same batch", b1 == Gen.batch(m2, 7, 1, 100, 99L))
    expect("other round, other batch", b1 != Gen.batch(m2, 7, 2, 100, 99L))
    expect("batch keys distinct",
      (b1.inserts ++ b1.updates ++ b1.deletes).distinct.size == b1.size)
    expect("batch mix 90/7/3",
      b1.updates.size == 90 && b1.inserts.size == 7 && b1.deletes.size == 3)
    expect("updated ids are live", (b1.updates ++ b1.deletes).forall(m1.isLive))
    val c = Gen.corpus(7, 1, 40, 4, 4)
    expect("corpus doc lengths 50-250 tokens",
      c.docs.forall(d => { val k = d.text.split(" ").length; k >= 50 && k <= 250 }))

    // every model check accepts the right answer and rejects a wrong one
    expect("export accepts", Checks.export("e", 5, 5, Some(9), Some(9)).isEmpty)
    expect("export rejects rows", Checks.export("e", 5, 6, Some(9), Some(9)).nonEmpty)
    expect("export rejects watermark",
      Checks.export("e", 5, 5, Some(9), Some(8)).nonEmpty)
    expect("export rejects missing watermark",
      Checks.export("e", 5, 5, Some(9), None).nonEmpty)
    val want = Checks.deltaOfBatch(b1)
    expect("ops accepts", Checks.ops("d", want, want + ("DELETE" -> 0L)).isEmpty)
    expect("ops rejects", Checks.ops("d", want,
      want.updated("UPDATE", want("UPDATE") - 1)).nonEmpty)
    expect("ops rejects extra kind", Checks.ops("d", want, want + ("DELETE" -> 1L)).nonEmpty)
    val feed = Checks.feedOfBatch(b1)
    expect("feed rejects lost delete",
      Checks.ops("f", feed, feed.updated("delete", 0L)).nonEmpty)
    Gen.apply(m1, b1)
    val live = b1.updates.head
    val gone = b1.deletes.head
    expect("point accepts", Checks.point(m1, live, Seq(99L)).isEmpty)
    expect("point rejects stale version",
      Checks.point(m1, live, Seq(m2.version(live.toInt))).nonEmpty)
    expect("point rejects deleted key", Checks.point(m1, gone, Seq(99L)).nonEmpty)
    expect("point accepts absent key", Checks.point(m1, gone, Nil).isEmpty)
    expect("point rejects duplicate rows",
      Checks.point(m1, live, Seq(99L, 99L)).nonEmpty)
    expect("model live count", m1.live == m2.live + b1.inserts.size - b1.deletes.size)
    expect("count rejects", Checks.count("n", m1.live, m1.live + 1).nonEmpty)
    val ids = (0L until c.nBase.toLong)
    val funnel = Map("input" -> 48L, "gated" -> 48L, "model_gated" -> 48L,
      "exact_deduped" -> 44L)
    expect("curate accepts", Checks.curate(c, ids.reverse, funnel).isEmpty)
    expect("curate rejects a kept copy",
      Checks.curate(c, ids :+ 41L, funnel).nonEmpty)
    expect("curate rejects a lost base",
      Checks.curate(c, ids.drop(1), funnel).nonEmpty)
    expect("curate rejects funnel",
      Checks.curate(c, ids, funnel.updated("exact_deduped", 48L)).nonEmpty)
    expect("curate rejects a model-gated doc",
      Checks.curate(c, ids, funnel.updated("model_gated", 47L)).nonEmpty)
    val l1 = Gen.labelled(7, 0, 20)
    expect("same seed, same labelled docs", l1 == Gen.labelled(7, 0, 20))
    expect("labelled docs balanced",
      l1.count(_.label == 1.0) == 20 && l1.count(_.label == 0.0) == 20)

    failures.foreach(f => System.err.println(s"selftest FAILED: $f"))
    println(s"selftest: ${n - failures.size}/$n passed")
    if (failures.isEmpty) 0 else 1
  }
}
