package perfbench

/** Seeded inputs. Everything a run consumes is a pure function of the
  * `--seed` argument: the corpus (documents, embeddings and planted
  * near-duplicates), the per-session request streams and the writer
  * schedule. Each generator draws from its own `java.util.Random`, whose
  * sequence is fixed by its specification, so the same seed gives the
  * same inputs on every JVM. */
object Gen {

  /** The 30-word vocabulary of the sf0.1 `documents` table. */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  val Langs: Array[String] = Array("en", "en", "en", "zh", "es", "fr", "de")
  val Dim = 64
  val Labels = 10
  val Clusters = 32

  final case class Doc(id: Long, text: String, lang: String, source: String,
      label: Int, emb: Array[Float])

  /** A corpus plus the ids of its planted near-duplicates (each a copy of
    * an earlier document with a few words changed). */
  final case class Corpus(docs: IndexedSeq[Doc], planted: Set[Long]) {
    lazy val byId: Map[Long, Doc] = docs.iterator.map(d => d.id -> d).toMap
  }

  private def rng(seed: Long, stream: Long) =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L + stream)

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `base` plus Gaussian noise of total norm about `scale`, renormalised. */
  def jitter(r: java.util.Random, base: Array[Float], scale: Double): Array[Float] = {
    val s = scale / math.sqrt(Dim.toDouble)
    unit(base.map(x => x + r.nextGaussian() * s))
  }

  private def text(r: java.util.Random): String =
    Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** `n` documents shaped like the sf0.1 corpus (`embeddings` joined to
    * `documents.text`): texts of 10 to 100 vocabulary words, unit
    * embeddings drawn around [[Clusters]] centres, uniform labels; then
    * `dups` planted near-duplicates with ids after the originals. */
  def corpus(seed: Long, n: Int, dups: Int): Corpus = {
    val r = rng(seed, 1)
    val centres = Array.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian())))
    val docs = (0 until n).map { i =>
      val t = text(r)
      Doc(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        r.nextInt(Labels), jitter(r, centres(r.nextInt(Clusters)), 0.6))
    }
    // originals of at least 40 words, so a copy shares many shingles
    val long = docs.filter(_.text.count(_ == ' ') >= 39)
    val copies = (0 until dups).map { j =>
      val orig = long(r.nextInt(long.length))
      val words = orig.text.split(" ")
      // two in-place word swaps keep every long shingle run but one or two
      words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length))
      words(r.nextInt(words.length)) = "dup"
      Doc((n + j).toLong, words.mkString(" "), orig.lang, orig.source,
        orig.label, jitter(r, orig.emb, 0.05))
    }
    Corpus(docs ++ copies, copies.map(_.id).toSet)
  }

  /** One recall request. `probe` is the embedding the bench's memory
    * source searches with; `labels` is the optional label filter (an
    * empty set is a filter no row passes). `tier` is the serving tier the
    * request's class targets: raw, pq or sq8. */
  final case class Request(tier: String, query: String, mode: String, topK: Int,
      threshold: Double, providerOverride: Option[String],
      probe: Array[Double], labels: Option[Seq[Int]])

  /** The serving tiers: raw vectors (mem0), PQ (graphiti), SQ8 (supabase). */
  val Tiers: Seq[String] = Seq("raw", "pq", "sq8")

  /** Request classes: serving tier and label filter. */
  val Classes: IndexedSeq[(String, String)] = IndexedSeq(
    ("raw", "none"), ("raw", "label"), ("raw", "two_labels"), ("raw", "impossible"),
    ("pq", "none"), ("pq", "label"), ("sq8", "none"), ("sq8", "label"))

  /** The class of each of 20 consecutive requests of a session: 14 on the
    * raw tier, 3 on PQ and 3 on SQ8, the costly ones spread evenly, so
    * every stretch of a session, and so every run, sees the same mix
    * whatever the seed. The mix is an assumption, not a measured traffic
    * log: it gives each tier about a third of the request time (a PQ or
    * SQ8 request costs four to five times a raw one), so a regression in
    * any one tier moves the request rate, and each tier gets enough
    * requests per run for its own latency. */
  val Block: IndexedSeq[Int] =
    IndexedSeq(4, 0, 1, 6, 0, 0, 2, 5, 0, 1, 6, 0, 0, 4, 3, 0, 1, 7, 0, 0)

  /** Distinct requests per class. */
  val PoolSize = 32

  /** A session's request stream: [[Block]] repeated, each session starting
    * at its own offset in it.
    * Each class has a pool of 32 distinct requests drawn with Zipf(1.0)
    * skew, so popular requests repeat within the session. The mix reaches
    * the raw tier (mem0), PQ (graphiti) and SQ8 (supabase), filtered
    * probes, provider overrides and every production branch: blank queries
    * and impossible filters give EMPTY_SET, off-corpus probes and high
    * thresholds LOW_CONFIDENCE, mem0 RERANK_BYPASSED, the others SUCCESS.
    * A blank query skips the scan, so only raw-tier requests are blank,
    * and every costly-tier latency includes its scan. */
  def requests(seed: Long, session: Int, corpus: IndexedSeq[Doc],
      count: Int): IndexedSeq[Request] = {
    val r = rng(seed, 100 + session)
    def request(tier: String, filter: String): Request = {
      val d = corpus(r.nextInt(corpus.length))
      val words = d.text.split(" ")
      val q = Array.fill(3 + r.nextInt(4))(words(r.nextInt(words.length))).mkString(" ")
      val u = r.nextDouble()
      val (mode, ov) = tier match {
        case "pq" => ("accurate", None)
        case "sq8" => ("conversation", Some("supabase"))
        case _ =>
          if (u < 0.7) ("conversation", None)
          else if (u < 0.85) ("fast", None)
          else ("accurate", Some("mem0"))
      }
      val probe =
        if (r.nextDouble() < 0.10) unit(Array.fill(Dim)(r.nextGaussian()))
        else jitter(r, d.emb, 0.1)
      val labels = filter match {
        case "label" => Some(Seq(d.label))
        case "two_labels" => Some(Seq(d.label, (d.label + 1) % Labels))
        case "impossible" => Some(Seq.empty[Int])
        case _ => None
      }
      val blank = r.nextDouble() < 0.03 && tier == "raw"
      Request(tier, if (blank) " " else q, mode, Array(3, 5, 10)(r.nextInt(3)),
        Array(0.5, 0.6, 0.7, 0.8, 0.97)(r.nextInt(5)), ov,
        probe.map(_.toDouble), labels)
    }
    val pools = Classes.map { case (tier, filter) =>
      IndexedSeq.fill(PoolSize)(request(tier, filter))
    }
    // Zipf over a pool: P(rank k) ∝ 1 / k
    val w = (1 to PoolSize).map(k => 1.0 / k)
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    IndexedSeq.tabulate(count) { i =>
      val x = r.nextDouble()
      pools(Block((i + 10 * session) % Block.length))(cdf.indexWhere(_ >= x) max 0)
    }
  }

  /** One writer commit: an upsert of `rows` (new ids and updates of
    * earlier feed ids) or a delete of `deletes` (live feed ids). */
  final case class WriterCommit(rows: IndexedSeq[Doc], deletes: IndexedSeq[Long]) {
    def op: String = if (rows.nonEmpty) "upsert" else "delete"
  }

  /** The feed table's seed commit and the writer's commits, one per letter
    * of `ops`: `u` an upsert of `batch` rows (up to a quarter of them
    * updates), `d` a delete of `batch / 2` ids. Ids start at `idBase`; the
    * generator tracks which ids are live, so deletes always hit a row the
    * feed holds and an update never revives a deleted id. */
  def writer(seed: Long, corpus: IndexedSeq[Doc], idBase: Long, seedRows: Int,
      ops: String, batch: Int): (IndexedSeq[Doc], IndexedSeq[WriterCommit]) = {
    require(ops.forall("ud".contains(_)), s"writer ops must be u or d: $ops")
    val r = rng(seed, 200)
    var next = idBase
    def fresh(): Doc = {
      val d = corpus(r.nextInt(corpus.length))
      next += 1
      Doc(next - 1, d.text, d.lang, d.source, d.label, jitter(r, d.emb, 0.3))
    }
    val seedDocs = IndexedSeq.fill(seedRows)(fresh())
    val live = scala.collection.mutable.ArrayBuffer(seedDocs.map(_.id): _*)
    val current = scala.collection.mutable.Map(seedDocs.map(d => d.id -> d): _*)
    val plan = ops.toIndexedSeq.map {
      case 'd' =>
        val del = IndexedSeq.fill(batch / 2)(live.remove(r.nextInt(live.length)))
        WriterCommit(IndexedSeq.empty, del)
      case _ =>
        // an update moves the embedding and keeps the id's text and label
        val upd = IndexedSeq.fill(batch / 4)(live(r.nextInt(live.length))).distinct
          .map { id =>
            val d = current(id)
            d.copy(emb = jitter(r, d.emb, 0.3))
          }
        val ins = IndexedSeq.fill(batch - upd.length)(fresh())
        live ++= ins.map(_.id)
        (upd ++ ins).foreach(d => current(d.id) = d)
        WriterCommit(upd ++ ins, IndexedSeq.empty)
    }
    (seedDocs, plan)
  }
}
