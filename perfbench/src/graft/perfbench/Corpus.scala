package graft.perfbench

import scala.collection.mutable

/** One generated clinical note with the attributes the `dp` mode
  * embeds (`name gender age city`, as in the reference's DP mode). */
final case class Doc(id: Long, text: String, name: String, gender: String,
                     age: Int, city: String) {
  def attr: String = s"$name $gender $age $city"
}

/** One query: its text (embedded for the vector legs) and its terms
  * (the BM25 leg). */
final case class Query(qid: Long, text: String) {
  def terms: Seq[String] = text.split(" ").toSeq.distinct
}

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded synthetic clinical corpus: specialty topics whose terms
  * follow a Zipf skew over a shared background vocabulary. The
  * vocabulary is fixed; the seed drives every sample, so one seed
  * always yields the same corpus, queries and ingest stream.
  *
  * Queries follow the reference's evaluation set (FIXTURES.md A4): 3 to
  * 6 plain words, about 40 % of them specialty-neutral (pain,
  * management, with, after, treatment, ...) and repeated across
  * queries, the rest specialty terms. The Zipf exponents and the doc
  * length are assumptions, argued in perfbench/README.md. */
final class Corpus(seed: Long) {
  import Corpus._
  private val rnd = new java.util.Random(seed)
  private val docTopic = new Zipf(Specialties.size, 0.8)
  private val queryTopic = new Zipf(Specialties.size, 1.2)
  private val topicTerm = new Zipf(TopicVocab, 1.05)
  private val bgTerm = new Zipf(Background.size, 1.0)

  private def text(topic: Int, len: Int): String = {
    val sb = new StringBuilder(Specialties(topic))
    for (_ <- 0 until len) {
      sb += ' '
      sb ++= (if (rnd.nextDouble() < 0.55) Topics(topic)(topicTerm.sample(rnd))
              else Background(bgTerm.sample(rnd)))
    }
    sb.toString
  }

  def doc(id: Long): Doc =
    Doc(id, text(docTopic.sample(rnd), 30 + rnd.nextInt(31)),
      s"${First(rnd.nextInt(First.size))} ${Last(rnd.nextInt(Last.size))}",
      if (rnd.nextBoolean()) "female" else "male", 18 + rnd.nextInt(73),
      Cities(rnd.nextInt(Cities.size)))

  def docs(from: Long, n: Int): Seq[Doc] = (from until from + n).map(doc)

  /** A batch of `n` queries; topics follow a steeper Zipf than the
    * corpus, so the queries of one batch probe overlapping lists. */
  def queries(firstQid: Long, n: Int): Seq[Query] =
    (0 until n).map { i =>
      val t = queryTopic.sample(rnd)
      val terms = (0 until 3 + rnd.nextInt(4)).map { _ =>
        if (rnd.nextDouble() < QueryTopicShare) Topics(t)(topicTerm.sample(rnd))
        else Background(bgTerm.sample(rnd))
      }
      Query(firstQid + i, terms.mkString(" "))
    }

  /** A near-duplicate of `d` under a new id: two tokens replaced. */
  def nearDup(d: Doc, id: Long): Doc = {
    val toks = d.text.split(" ")
    for (_ <- 0 until 2)
      toks(1 + rnd.nextInt(toks.length - 1)) = Background(bgTerm.sample(rnd))
    d.copy(id = id, text = toks.mkString(" "))
  }

  /** One ingest micro-batch: about 10 % near-duplicates of live docs,
    * about 5 % revivals of forgotten docs (their original content
    * re-ingested under the same id), the rest new docs from `nextId`.
    * Returns the batch and the next unused id. */
  def microBatch(size: Int, nextId: Long, live: IndexedSeq[Doc],
                 revivable: mutable.LinkedHashMap[Long, Doc]): (Seq[Doc], Long) = {
    var id = nextId
    val out = mutable.ArrayBuffer.empty[Doc]
    val revived = mutable.Set.empty[Long]
    for (_ <- 0 until size) {
      val u = rnd.nextDouble()
      val pool = revivable.keysIterator.filterNot(revived).toIndexedSeq
      if (u < 0.10 && live.nonEmpty) {
        out += nearDup(live(rnd.nextInt(live.size)), id); id += 1
      } else if (u < 0.15 && pool.nonEmpty) {
        val r = pool(rnd.nextInt(pool.size))
        revived += r
        out += revivable(r)
      } else { out += doc(id); id += 1 }
    }
    (out.toSeq, id)
  }

  def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = {
    val idx = mutable.LinkedHashSet.empty[Int]
    while (idx.size < math.min(n, xs.size)) idx += rnd.nextInt(xs.size)
    idx.toSeq.map(xs)
  }
}

object Corpus {
  val Specialties: IndexedSeq[String] = IndexedSeq(
    "cardiology", "oncology", "neurology", "orthopedics", "pediatrics",
    "dermatology", "gastroenterology", "pulmonology", "nephrology",
    "endocrinology", "psychiatry", "radiology", "urology", "rheumatology",
    "hematology", "ophthalmology")
  val TopicVocab = 120
  /** Share of a query's words drawn from its specialty: 26 of the 43
    * words of the reference's ten evaluation queries (FIXTURES.md A4). */
  val QueryTopicShare = 0.6

  private val vocabRnd = new java.util.Random(20240531L)
  private val used = mutable.Set.empty[String] ++ Specialties
  private def word(): String = {
    val cons = "bcdfghklmnprstvz"; val vows = "aeiou"
    var w = ""
    while (w.isEmpty || used(w)) {
      val n = 2 + vocabRnd.nextInt(3)
      w = (0 until n).map(_ => s"${cons(vocabRnd.nextInt(cons.length))}${vows(vocabRnd.nextInt(vows.length))}").mkString
    }
    used += w
    w
  }
  val Topics: IndexedSeq[IndexedSeq[String]] =
    Specialties.map(_ => IndexedSeq.fill(TopicVocab)(word()))
  val Background: IndexedSeq[String] = IndexedSeq.fill(600)(word())
  val First: IndexedSeq[String] = IndexedSeq("ana", "ben", "chen", "dara", "eli",
    "fatima", "gus", "hana", "ivan", "jun", "kofi", "lena", "mateo", "nia",
    "omar", "priya", "quinn", "rosa", "sami", "tara", "uma", "viktor", "wei", "yara")
  val Last: IndexedSeq[String] = IndexedSeq("abe", "barros", "cruz", "diaz", "eze",
    "fischer", "garcia", "hughes", "ito", "jensen", "kim", "lopez", "mensah",
    "novak", "okafor", "patel", "quist", "reyes", "singh", "tanaka")
  val Cities: IndexedSeq[String] = IndexedSeq("boston", "chicago", "denver",
    "houston", "miami", "phoenix", "seattle", "atlanta", "dallas", "portland",
    "austin", "detroit", "memphis", "omaha", "tucson")
}

/** Ground truth, computed on the Spark driver: the embedder's own
  * vectors, scored in plain Scala with the engine's arithmetic (float
  * elements widened to double, summed left to right) and the engine's
  * order (score desc, id asc). Never goes through Spark. */
final class Truth(emb: graft.embed.Embedder) {
  private val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]

  def put(d: Doc): Unit = vecs(d.id) = emb.embed(d.text)
  def remove(id: Long): Unit = vecs.remove(id)
  def size: Int = vecs.size
  def vec(id: Long): Array[Float] = vecs(id)

  def topK(q: Array[Float], k: Int): Seq[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) =>
        if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
        else java.lang.Long.compare(b._2, a._2))
    for ((id, v) <- vecs) {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * q(i).toDouble; i += 1 }
      heap.add((s, id))
      if (heap.size > k) heap.poll()
    }
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    while (!heap.isEmpty) out += heap.poll()
    out.reverse.map(_._2).toSeq
  }
}
