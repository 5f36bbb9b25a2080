package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own arithmetic and input generation; no Spark needed. */
class BenchSpec extends AnyFunSuite {

  private def docsKey(c: Gen.Corpus) =
    c.docs.map(d => (d.id, d.text, d.lang, d.source, d.label, d.emb.toSeq))

  private def reqKey(rs: Seq[Gen.Request]) =
    rs.map(r => (r.query, r.mode, r.topK, r.threshold, r.providerOverride,
      r.probe.toSeq, r.labels))

  private def writerKey(w: (IndexedSeq[Gen.Doc], IndexedSeq[Gen.WriterCommit])) =
    (w._1.map(d => (d.id, d.emb.toSeq)),
      w._2.map(c => (c.rows.map(d => (d.id, d.emb.toSeq)), c.deletes)))

  test("the same seed gives the same inputs, another seed different ones") {
    val a = Gen.corpus(7L, 300, 12)
    val b = Gen.corpus(7L, 300, 12)
    val c = Gen.corpus(8L, 300, 12)
    assert(docsKey(a) == docsKey(b) && a.planted == b.planted)
    assert(docsKey(a) != docsKey(c))
    val orig = a.docs.filterNot(d => a.planted(d.id))
    assert(reqKey(Gen.requests(7L, 0, orig, 200)) == reqKey(Gen.requests(7L, 0, orig, 200)))
    assert(reqKey(Gen.requests(7L, 0, orig, 200)) != reqKey(Gen.requests(7L, 1, orig, 200)))
    assert(writerKey(Gen.writer(7L, orig, 1000L, 20, "uuddu", 8)) ==
      writerKey(Gen.writer(7L, orig, 1000L, 20, "uuddu", 8)))
    assert(writerKey(Gen.writer(7L, orig, 1000L, 20, "uuddu", 8)) !=
      writerKey(Gen.writer(8L, orig, 1000L, 20, "uuddu", 8)))
  }

  test("planted near-duplicates copy an earlier document with two words changed") {
    val c = Gen.corpus(3L, 200, 10)
    assert(c.planted.size == 10 && c.planted.forall(_ >= 200L))
    c.planted.foreach { id =>
      val words = c.byId(id).text.split(" ")
      val orig = c.docs.take(200).filter(_.text.split(" ").length == words.length)
        .map(d => d.text.split(" ").zip(words).count { case (x, y) => x != y })
      assert(orig.exists(_ <= 2), s"doc $id is no near-copy")
    }
  }

  test("every block of 20 requests follows the class mix") {
    val c = Gen.corpus(5L, 300, 0)
    val rs = Gen.requests(5L, 0, c.docs, 100)
    rs.grouped(20).foreach { b =>
      assert(b.count(_.tier == "raw") == 14 && b.count(_.tier == "pq") == 3 &&
        b.count(_.tier == "sq8") == 3)
      assert(b.count(_.mode == "accurate") - b.count(_.providerOverride.contains("mem0")) == 3)
      assert(b.count(_.providerOverride.contains("supabase")) == 3)
      assert(b.count(_.labels.exists(_.isEmpty)) == 1)
      assert(b.filter(_.query.trim.isEmpty).forall(_.tier == "raw"))
    }
  }

  test("the writer never deletes or updates an id the feed does not hold") {
    val c = Gen.corpus(9L, 300, 0)
    val (seed, steps) = Gen.writer(9L, c.docs, 5000L, 30, "uuudddudu" * 2, 8)
    assert(steps.map(_.op.head).mkString == "uuudddudu" * 2)
    val live = scala.collection.mutable.Set(seed.map(_.id): _*)
    val fresh = scala.collection.mutable.Set.empty[Long]
    steps.foreach { s =>
      s.deletes.foreach(id => assert(live.remove(id), s"delete of absent id $id"))
      s.rows.foreach { d =>
        if (!live(d.id)) assert(fresh.add(d.id) && d.id >= 5030L, s"revived id ${d.id}")
        live += d.id
      }
    }
  }

  test("a percentile is reported only with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).contains(90.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(40), 0.75).contains(30.0))
    assert(Stats.percentile(xs.take(39), 0.75).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the union of job intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 30L), (1L, 2L))) == 30L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("the union outside excluded intervals drops every overlap once") {
    assert(Stats.unionOutside(Seq((0L, 100L)), Nil) == 100L)
    assert(Stats.unionOutside(Seq((0L, 100L)), Seq((20L, 50L))) == 70L)
    assert(Stats.unionOutside(Seq((0L, 40L), (30L, 100L)), Seq((20L, 50L), (45L, 60L))) == 60L)
    assert(Stats.unionOutside(Seq((10L, 20L)), Seq((0L, 100L))) == 0L)
  }

  test("the driver gap is wall time outside every job, jobs clipped to the window") {
    assert(Stats.driverGap(100L, 200L, Nil) == 100L)
    assert(Stats.driverGap(100L, 200L, Seq((110L, 150L), (140L, 160L))) == 50L)
    assert(Stats.driverGap(100L, 200L, Seq((50L, 120L), (190L, 260L))) == 70L)
    assert(Stats.driverGap(100L, 200L, Seq((0L, 300L))) == 0L)
  }

  test("self time subtracts the union of child spans; coverage is the rest") {
    val spans = Seq(
      Span(1, "root", 0, 100, 0, "r"),
      Span(2, "plan", 0, 30, 1, "r"),
      Span(3, "spark.job", 40, 80, 1, "r"),
      Span(4, "spark.job", 60, 90, 1, "r"),
      Span(5, "spark.job", 10, 20, 2, "r"))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 20L && self(2) == 20L && self(3) == 40L)
    assert(math.abs(Tracer.coverage(spans, "root") - 0.8) < 1e-9)
  }

  test("the result line is JSON with its keys in order and strings escaped") {
    assert(Json.write(Json.obj("b" -> 1.5, "a" -> "x\"y", "c" -> true, "d" -> 7L,
      "e" -> Json.obj())) == """{"b":1.5,"a":"x\"y","c":true,"d":7,"e":{}}""")
  }
}
