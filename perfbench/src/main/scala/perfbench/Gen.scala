package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, position), so the same seed gives byte-identical inputs and
  * the benchmark's model can recompute any row without reading the
  * table it checks.
  */
object Gen {

  /** splitmix64 finalizer: a cheap, well-mixed 64-bit hash. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ b)

  /** Non-negative value below `n`. */
  def below(h: Long, n: Long): Long = java.lang.Math.floorMod(h, n)

  val HourMicros: Long = 3600L * 1000000L
  val DayMicros: Long = 24L * HourMicros

  /** The instant every seeded `updated_at` lies before: a whole hour
    * between 2024-01-01 and about 2024-02-11, chosen by the seed.
    */
  def baseMicros(seed: Long): Long =
    1704067200L * 1000000L + below(hash(seed, -1L), 1000L) * HourMicros

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def micros(t: Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  /** One row of the `users` schema (the engine's CDC source). */
  final case class User(id: Long, name: String, email: String,
      created_at: Timestamp, updated_at: Timestamp, is_deleted: Boolean)

  /** Seeded snapshot row `id`: `updated_at` uniform over the 30 days
    * before the base, 10% of rows never updated (created == updated,
    * which the delta export tags INSERT), 3% soft-deleted.
    */
  def seedUpdated(seed: Long, id: Long): Long =
    baseMicros(seed) - 1L - below(hash(seed, id, 1L), 30L * DayMicros)

  def seedCreated(seed: Long, id: Long): Long = {
    val h = hash(seed, id, 2L)
    if (below(h, 10L) == 0L) seedUpdated(seed, id)
    else seedUpdated(seed, id) - DayMicros - below(h >>> 8, 300L * DayMicros)
  }

  def seedDeleted(seed: Long, id: Long): Boolean =
    below(hash(seed, id, 3L), 100L) < 3L

  def seedUser(seed: Long, id: Long): User =
    User(id, s"user_$id", s"user$id@example.com",
      ts(seedCreated(seed, id)), ts(seedUpdated(seed, id)),
      seedDeleted(seed, id))

  def users(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => seedUser(seed, id)).toDF()
  }

  /** The benchmark's key -> version model of a maintained `users`
    * table: `updated_at` micros per live id, 0 when absent. It is
    * advanced by the same change batches the engine merges and is never
    * read back from the table.
    */
  final class Model(capacity: Int) {
    val version = new Array[Long](capacity)
    val created = new Array[Long](capacity)
    var nextId: Long = 0L
    var live: Long = 0L

    def isLive(id: Long): Boolean = id < nextId && version(id.toInt) != 0L

    def put(id: Long, createdAt: Long, updatedAt: Long): Unit = {
      if (!isLive(id)) live += 1
      version(id.toInt) = updatedAt
      created(id.toInt) = createdAt
      nextId = math.max(nextId, id + 1)
    }

    def remove(id: Long): Unit = if (isLive(id)) {
      version(id.toInt) = 0L
      live -= 1
    }

    def countNewerThan(micros: Long): Long = {
      var i = 0; var n = 0L
      val hi = nextId.toInt
      while (i < hi) { if (version(i) > micros) n += 1; i += 1 }
      n
    }

    def maxVersion: Long = {
      var i = 0; var m = 0L
      val hi = nextId.toInt
      while (i < hi) { if (version(i) > m) m = version(i); i += 1 }
      m
    }
  }

  def seededModel(seed: Long, n: Long, capacity: Int): Model = {
    val m = new Model(capacity)
    var id = 0L
    while (id < n) {
      if (!seedDeleted(seed, id))
        m.put(id, seedCreated(seed, id), seedUpdated(seed, id))
      id += 1
    }
    m.nextId = n
    m
  }

  /** One change batch: distinct ids, every row stamped with the
    * batch's logical-clock `updated_at`.
    */
  final case class Batch(clock: Long, inserts: Seq[Long],
      updates: Seq[Long], deletes: Seq[Long]) {
    def size: Int = inserts.size + updates.size + deletes.size
    def rows(m: Model): Seq[User] =
      inserts.map(id => User(id, s"user_$id", s"user$id@example.com",
        ts(clock), ts(clock), false)) ++
      updates.map(id => User(id, s"user_${id}_v$clock",
        s"user$id@example.com", ts(m.created(id.toInt)), ts(clock),
        false)) ++
      deletes.map(id => User(id, s"user_$id", s"user$id@example.com",
        ts(m.created(id.toInt)), ts(clock), true))
  }

  /** A changelog of `size` rows against the model's live keys: 90%
    * updates of uniformly chosen live ids, 7% inserts of new ids, 3%
    * soft-deletes. Call [[apply]] after the engine merged it.
    */
  def batch(m: Model, seed: Long, round: Long, size: Int,
      clock: Long): Batch = {
    val nIns = math.max(1, size * 7 / 100)
    val nDel = math.max(1, size * 3 / 100)
    val nUpd = size - nIns - nDel
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    var k = 0L
    while (picked.size < nUpd + nDel) {
      val id = below(hash(seed, round, 1000000L + k), m.nextId)
      if (m.isLive(id)) picked += id
      k += 1
    }
    val ids = picked.toSeq
    Batch(clock, (0 until nIns).map(m.nextId + _),
      ids.take(nUpd), ids.drop(nUpd))
  }

  def apply(m: Model, b: Batch): Unit = {
    b.inserts.foreach(id => m.put(id, b.clock, b.clock))
    b.updates.foreach(id => m.put(id, m.created(id.toInt), b.clock))
    b.deletes.foreach(m.remove)
  }

  /** Corpus with a planted duplicate structure: `nBase` distinct
    * documents of 50-250 tokens over a 2,000-word vocabulary, plus
    * `nExact` verbatim copies and `nNear` copies with one token
    * replaced. Every document opens with an English marker word so it
    * passes the language gate. Base documents have the lowest doc ids,
    * so each duplicate cluster keeps its base document.
    */
  final case class Doc(doc_id: Long, text: String)
  final case class Corpus(docs: Seq[Doc], nBase: Int, nExact: Int,
      nNear: Int)

  val VocabSize = 2000

  def word(i: Long): String = s"w${i}x"

  def corpus(seed: Long, round: Long, nBase: Int, nExact: Int,
      nNear: Int): Corpus = {
    def h(a: Long, b: Long) = hash(seed, round * 1000003L + a, b)
    val base = (0 until nBase).map { d =>
      val len = 50 + below(h(d, 0L), 201L).toInt
      val toks = "the" +: (1 until len).map(t => word(below(h(d, t + 1L), VocabSize)))
      Doc(d.toLong, toks.mkString(" "))
    }
    val exact = (0 until nExact).map { j =>
      val src = base(below(h(-1L - j, 0L), nBase).toInt)
      Doc(nBase + j.toLong, src.text)
    }
    val near = (0 until nNear).map { j =>
      val src = base(below(h(-1000000L - j, 0L), nBase).toInt)
      val toks = src.text.split(" ")
      val pos = 1 + below(h(-1000000L - j, 1L), toks.length - 1L).toInt
      // a word outside the vocabulary, so the copy is never exact
      toks(pos) = s"z${j}y"
      Doc(nBase + nExact + j.toLong, toks.mkString(" "))
    }
    Corpus(base ++ exact ++ near, nBase, nExact, nNear)
  }

  /** Labelled documents for training the quality model: `n` documents
    * shaped like the corpus (label 1) and `n` boilerplate documents of
    * one repeated word (label 0).
    */
  final case class Labelled(text: String, label: Double)

  def labelled(seed: Long, set: Int, n: Int): Seq[Labelled] = {
    val good = corpus(seed, -1000L - set, n, 0, 0).docs
      .map(d => Labelled(d.text, 1.0))
    val junk = (0 until n).map { d =>
      val h = hash(seed, -2000L - set, d.toLong)
      val w = word(below(h, VocabSize))
      Labelled(Seq.fill(50 + below(h >>> 16, 201L).toInt)(w).mkString(" "),
        0.0)
    }
    good ++ junk
  }
}
