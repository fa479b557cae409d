package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.GraftSink
import graft.sources.GraftSink.Entry

/** Property coverage for the manifest ENTRY LINE codec, [[GraftSink.Entry]]
  * — load-bearing for every table-format feature at once (delete
  * vectors, file-skipping stats, metadata counts, field-id layouts,
  * partition tuples, plain file lists): any entry must round-trip
  * exactly through its line, the canonical line must be a fixpoint, and
  * legacy bare-name lines must keep parsing as themselves.
  */
object ManifestEntryProps extends Properties("manifest-entry") {

  private val nameGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 40)
    cs <- Gen.listOfN(n, Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const('-')), (1, Gen.const('.'))))
  } yield cs.mkString

  private val colGen: Gen[String] = Gen.identifier.map(_.take(20)).suchThat(_.nonEmpty)

  private val delsGen: Gen[List[Long]] =
    Gen.listOf(Gen.chooseNum(0L, 1000000L))

  /** Several `stats:` envelopes (a Z-ordered file carries one per dim). */
  private val statsGen: Gen[List[(String, Long, Long)]] = for {
    n <- Gen.chooseNum(0, 4)
    envs <- Gen.listOfN(n, for {
      c <- colGen
      lo <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      span <- Gen.chooseNum(0L, 1000000L)
    } yield (c, lo, lo + span))
  } yield envs

  private val rowsGen: Gen[Option[Long]] =
    Gen.option(Gen.chooseNum(0L, Long.MaxValue / 2))

  private val colsGen: Gen[Option[List[Int]]] =
    Gen.option(Gen.nonEmptyListOf(Gen.chooseNum(1, 100000)))

  /** URL-encoded `part:` tuples: identity and `bucket(col)` keys, NULLs,
    * and raw values holding the tuple's own separators. */
  private val partGen: Gen[Option[String]] = Gen.option(
    Gen.nonEmptyListOf(for {
      c <- colGen
      key <- Gen.oneOf(c, GraftSink.bucketKey(c))
      v <- Gen.frequency((1, Gen.const(null)), (4, Gen.asciiPrintableStr),
        (1, Gen.const("a=b,c\td|e")))
    } yield s"$key=${GraftSink.encodePartValue(v)}").map(_.mkString(",")))

  private val entryGen: Gen[Entry] = for {
    name <- nameGen; dels <- delsGen; stats <- statsGen
    rows <- rowsGen; cols <- colsGen; part <- partGen
  } yield Entry(name, dels, stats, rows, cols, part)

  // (the names predate cols:/part: and several stats: envelopes, which
  // the generators now cover too)
  property("entry round-trips name + sorted-deduped DV + stats + rows; canonical form is a fixpoint") =
    forAllNoShrink(entryGen) { e =>
      val canonical = e.copy(deletes = e.deletes.sorted.distinct)
      val line = e.line
      (Entry.parse(line) == canonical) :| "parse(e.line) == canonical e" &&
        (Entry.parse(canonical.line) == canonical) :| "parse(canonical.line)" &&
        (Entry.parse(line).line == line) :| "fixpoint" &&
        (line == canonical.line) :| "dv order never reaches the bytes"
    }

  property("legacy bare-name lines parse as themselves with no deletes, stats, or rows") =
    forAllNoShrink(nameGen) { name =>
      Entry.parse(name) == Entry(name) && Entry(name).line == name
    }

  property("a rename to a fresh column and back restores the entry") =
    forAllNoShrink(entryGen) { e =>
      val keys = e.stats.map(_._1) ++
        e.part.toSeq.flatMap(p => GraftSink.partPairs(p).keys)
      (keys.isEmpty || {
        val from = keys.head.stripPrefix("bucket(").stripSuffix(")")
        val to = "zz_renamed"
        e.renamed(from, to).renamed(to, from) == e
      }) :| "rename round trip"
    }
}

class ManifestEntrySpec extends AnyFunSuite with Matchers {
  test("segments are independent: dv-only, stats-only, and combined lines parse") {
    val dvOnly = Entry("f.tsv", Seq(3L, 1L, 3L)).line
    dvOnly shouldBe "f.tsv\tdv:1,3"
    Entry.parse(dvOnly).deletes shouldBe Seq(1L, 3L)
    Entry.parse(dvOnly).stats shouldBe empty
    val statsOnly = Entry("f.tsv", stats = Seq(("user_id", -5L, 17L))).line
    statsOnly shouldBe "f.tsv\tstats:user_id=-5..17"
    Entry.parse(statsOnly).deletes shouldBe empty
    Entry.parse(statsOnly).stats shouldBe Seq(("user_id", -5L, 17L))
    val both = Entry("f.tsv", Seq(0L), Seq(("k", 1L, 2L))).line
    both shouldBe "f.tsv\tdv:0\tstats:k=1..2"
    Entry.parse(both).deletes shouldBe Seq(0L)
    Entry.parse(both).stats shouldBe Seq(("k", 1L, 2L))
  }

  test("all six segments render in their fixed order") {
    Entry("f.tsv", Seq(4L, 2L), Seq(("c", 0L, 7L), ("d", -1L, 3L)), Some(10L),
      Some(Seq(1, 3)), Some("g=a%2Cb,bucket(h)=5")).line shouldBe
      "f.tsv\tdv:2,4\tstats:c=0..7\tstats:d=-1..3\trows:10\tcols:1,3\tpart:g=a%2Cb,bucket(h)=5"
  }

  test("renamed rekeys identity and bucket part keys and stats names, nothing else") {
    val e = Entry("f.tsv", Seq(1L), Seq(("g", 0L, 1L), ("k", 2L, 3L)), Some(5L),
      Some(Seq(1, 2)), Some("g=x,bucket(g)=3,k=4"))
    e.renamed("g", "grp") shouldBe e.copy(
      stats = Seq(("grp", 0L, 1L), ("k", 2L, 3L)),
      part = Some("grp=x,bucket(grp)=3,k=4"))
  }

  test("live rows, their sum and the stats union") {
    val a = Entry("a", Seq(0L, 1L), Seq(("c", 0L, 5L), ("d", 1L, 1L)), Some(10L))
    val b = Entry("b", Nil, Seq(("c", -2L, 3L)), Some(4L))
    a.live shouldBe Some(8L)
    Entry.liveRows(Seq(a, b)) shouldBe Some(12L)
    Entry.liveRows(Seq(a, Entry("legacy"))) shouldBe None
    Entry.liveRows(Nil) shouldBe Some(0L)
    // only columns EVERY entry records survive the union
    Entry.statsUnion(Seq(a, b)) shouldBe Seq(("c", -2L, 5L))
    Entry.statsUnion(Nil) shouldBe empty
  }

  test("group summary lines share the stats grammar") {
    Entry.statsOf("group:_mgroup.ab\tfiles:2\trows:9\tstats:c=-2..5\tstats:d=1..1") shouldBe
      Seq(("c", -2L, 5L), ("d", 1L, 1L))
  }
}
