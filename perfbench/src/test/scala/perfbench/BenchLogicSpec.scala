package perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Sessions.local(2)

  override def afterAll(): Unit = spark.stop()

  test("generator is deterministic for a seed and differs across seeds") {
    Main.ConfigOf.keys.foreach { w =>
      val a = Corpus.generate(w, 7)
      val b = Corpus.generate(w, 7)
      val c = Corpus.generate(w, 8)
      assert(a == b, w)
      assert(a.docs.map(_.text) != c.docs.map(_.text), w)
      assert(Corpus.truthJson(a, w, 7) == Corpus.truthJson(b, w, 7), w)
      assert(a.docs.map(_.doc_id).distinct.size == a.docs.size, w)
    }
  }

  test("planted truth matches the corpus") {
    val c = Corpus.generate("web_neardup", 3)
    val t = c.truth
    assert(t.families(t.underCap).size == Corpus.UnderCapFamily)
    assert(Corpus.UnderCapFamily < Bench.MaxBucket)
    assert(t.families(t.overCap).size > Bench.MaxBucket)
    // a base with few distinct shingles would let over-cap members keep its
    // band keys less often, and its buckets could drop under the cap
    (1 to 5).foreach { seed =>
      val w = Corpus.generate("web_neardup", seed)
      val byId = w.docs.map(d => d.doc_id -> d.text).toMap
      Seq(w.truth.underCap, w.truth.overCap).foreach { f =>
        val words = byId(w.truth.families(f).head).toLowerCase.split(" ")
        assert(words.sliding(3).map(_.mkString(" ")).toSet.size >= 55, s"seed $seed")
      }
    }
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    t.exactGroups.foreach(g => assert(g.map(text).distinct.size == 1))
    assert(t.families.flatten.map(text).distinct.size == t.families.flatten.size)
    val indic = Corpus.generate("indic_crawl", 3)
    assert(indic.truth.flags.keySet == Bench.FlagCols.toSet)
    val deva = indic.docs.count(_.text.exists(ch => ch >= 'ऀ' && ch <= 'ॿ'))
    assert(deva > indic.docs.size / 2)
  }

  test("digest does not depend on row order or partitioning") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"text $i", i % 3 == 0, i * 0.5))
    val df = rows.toDF("id", "text", "flag", "score")
    val d = Digest.of(df)
    assert(Digest.of(rows.reverse.toDF("id", "text", "flag", "score").repartition(5)) == d)
    assert(Digest.of(df.select("score", "flag", "text", "id")) == d)
    val changed = rows.updated(10, (11L, "text 11!", false, 5.5))
    assert(Digest.of(changed.toDF("id", "text", "flag", "score")) != d)
    assert(Digest.of(df.limit(199)) != d)
  }

  test("driver floor is the call window not covered by any stage") {
    val stages = Seq((100L, 300L), (200L, 400L), (600L, 700L), (900L, 1200L), (-50L, 20L))
    // covered inside [0, 1000): 0-20, 100-400, 600-700, 900-1000 = 520 ms
    assert(SparkProbe.driverFloorS(0L, 1000L, stages) == 0.48)
    assert(SparkProbe.driverFloorS(0L, 1000L, Nil) == 1.0)
    assert(SparkProbe.driverFloorS(0L, 1000L, Seq((0L, 1000L))) == 0.0)
  }

  test("self time subtracts the union of direct children") {
    val s = Seq(Span(0, -1, "root", "r", 0, 100), Span(1, 0, "a", "r", 10, 30),
      Span(2, 0, "b", "r", 20, 50), Span(3, 0, "c", "r", 60, 70),
      Span(4, 3, "d", "r", 61, 69))
    val self = Trace.selfNs(s)
    assert(self(0) == 50 && self(1) == 20 && self(3) == 2 && self(4) == 8)
    val t = new Tracer("r", enabled = true)
    t.span("outer") { t.span("inner") { () } }
    assert(t.all.map(sp => (sp.name, sp.parent)) == Seq(("outer", -1), ("inner", 0)))
    assert(new Tracer("r", enabled = false).span("x")(42) == 42)
  }

  test("planted recall counts members clustered with the family's first") {
    val fams = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(20L, 21L))
    val comp = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L)
    // 2 joins 1, 3 does not; 11 joins 10; 21 is absent
    assert(Bench.plantedRecall(fams, Set(1L, 2L, 3L, 10L, 11L, 20L), comp) == 2.0 / 3)
  }

  test("conservation catches documents that vanish") {
    // docs 1-3 a family, 4-5 an exact-copy group, 6 flagged, 7 a single
    val t = Truth(Vector(Vector(1L, 2L, 3L)), Vector(Vector(4L, 5L)),
      Map("has_less_words" -> Vector(6L)), -1, -1)
    val input = 1L to 7L
    assert(Bench.conservation(t, input, Set(1L, 4L, 7L), Set(6L)).isEmpty)
    // a copy group whose text is flagged goes to _removed whole
    assert(Bench.conservation(t, input, Set(1L, 7L), Set(4L, 5L, 6L)).isEmpty)
    def fails(kept: Set[Long], removed: Set[Long], what: String) = {
      val msgs = Bench.conservation(t, input, kept, removed)
      assert(msgs.exists(_.contains(what)), msgs)
    }
    fails(Set.empty, Set.empty, "neither kept")               // the whole corpus
    fails(Set(4L, 7L), Set(6L), "3 input docs")              // a whole family
    fails(Set(1L, 7L), Set(6L), "exact-copy groups lost every copy")
    fails(Set(1L, 4L, 5L, 7L), Set(6L), "kept twice")
    fails(Set(1L, 4L), Set(6L), "1 input docs")              // an unflagged single
    fails(Set(1L, 4L, 6L, 7L), Set(6L), "both in the corpus")
  }

  test("summary line parses as JSON with exactly the four keys") {
    val line = Json.write(Bench.summary(correct = true, 5, 0,
      Json.obj("wall_s" -> Bench.m(1.25, "s"))))
    val node = Json.parse(line)
    import scala.jdk.CollectionConverters._
    assert(node.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("wall_s").get("value").asDouble == 1.25)
    assert(node.get("metrics").get("wall_s").get("unit").asText == "s")
  }
}
