package perfbench

import scala.collection.mutable.ArrayBuffer

/** Independent checks of the program's answers. Each returns `None`
  * when the answer agrees with the benchmark's own expectation and a
  * description of the disagreement otherwise.
  */
object Checks {

  private def diff[A](what: String, want: A, got: A): Option[String] =
    if (want == got) None else Some(s"$what: want $want, got $got")

  /** Export rows and the advanced watermark. */
  def export(what: String, wantRows: Long, gotRows: Long,
      wantWatermark: Option[Long], gotWatermark: Option[Long])
      : Option[String] =
    diff(s"$what rows", wantRows, gotRows)
      .orElse(diff(s"$what watermark", wantWatermark, gotWatermark))

  /** Per-operation row counts of a delta export or a drained feed. */
  def ops(what: String, want: Map[String, Long], got: Map[String, Long])
      : Option[String] = {
    val keys = want.keySet ++ got.keySet
    val norm = (m: Map[String, Long]) =>
      keys.map(k => k -> m.getOrElse(k, 0L)).toMap
    diff(what, norm(want), norm(got))
  }

  /** A point lookup: exactly the model's version for a live key, no
    * row for an absent one.
    */
  def point(m: Gen.Model, id: Long, gotVersions: Seq[Long])
      : Option[String] = {
    val want = if (m.isLive(id)) Seq(m.version(id.toInt)) else Nil
    diff(s"lookup id=$id versions", want, gotVersions)
  }

  def count(what: String, want: Long, got: Long): Option[String] =
    diff(what, want, got)

  /** Curation survivors and funnel against the planted duplicates:
    * every document passes the language, quality and model gates, every
    * exact and near copy goes, every base document stays.
    */
  def curate(c: Gen.Corpus, survivors: Seq[Long],
      funnel: Map[String, Long]): Option[String] = {
    val n = c.docs.size.toLong
    diff("curate funnel", Map("input" -> n, "gated" -> n,
        "model_gated" -> n, "exact_deduped" -> (n - c.nExact)), funnel)
      .orElse(diff("curate survivors",
        (0L until c.nBase.toLong).toSeq, survivors.sorted))
  }

  /** Expected (operation -> rows) of the delta export that carries
    * batch `b` on a maintained table: tombstones remove their keys, so
    * the export holds the batch's inserts and updates.
    */
  def deltaOfBatch(b: Gen.Batch): Map[String, Long] =
    Map("INSERT" -> b.inserts.size.toLong,
      "UPDATE" -> b.updates.size.toLong)

  /** Expected (change type -> rows) the change feed publishes for `b`. */
  def feedOfBatch(b: Gen.Batch): Map[String, Long] =
    Map("insert" -> b.inserts.size.toLong,
      "update_preimage" -> b.updates.size.toLong,
      "update_postimage" -> b.updates.size.toLong,
      "delete" -> b.deletes.size.toLong)
}

/** Tally of checked operations: every timed op counts as attempted,
  * and as failed when it threw or any of its checks disagreed.
  */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def record(results: Option[String]*): Unit = {
    attempted += 1
    val bad = results.flatten
    if (bad.nonEmpty) {
      failed += 1
      if (failures.size < 20) failures ++= bad
    }
  }

  def error(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += s"$what threw: $e"
  }

  def failRatio: Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted
}
