package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val corpus = Gen.Corpus(seed = 5, rows = 20000, spanS = Gen.DayS, nStreams = 200, chunks = 10)

  test("the same seed gives the same corpus, another seed another") {
    assert(corpus.copy().all.toSeq == corpus.all.toSeq)
    assert(corpus.copy(seed = 6).all.toSeq != corpus.all.toSeq)
    assert(corpus.all.length == 20000)
    assert(corpus.chunk(3).toSeq == corpus.copy().chunk(3).toSeq)
  }

  test("the corpus is time-ordered over the day, with bursts and every app") {
    val ts = corpus.all.map(_.tsNs)
    assert(ts.sameElements(ts.sorted))
    assert(ts.head >= Gen.T0Ns && ts.last < Gen.T0Ns + Gen.DayS * Gen.NsPerS)
    assert(ts.length - ts.distinct.length > 0, "no same-nanosecond bursts")
    assert(corpus.all.map(_.labels("app")).toSet == Gen.Apps.toSet)
    assert(corpus.streamSet.distinct.size == 200)
  }

  test("lines are half plain, a quarter logfmt, a quarter JSON") {
    val lines = corpus.all.map(_.line)
    val json = lines.count(_.startsWith("{")).toDouble / lines.length
    val logfmt = lines.count(_.startsWith("time=")).toDouble / lines.length
    assert(math.abs(json - 0.25) < 0.02 && math.abs(logfmt - 0.25) < 0.02)
  }

  test("the read mix is the same for a seed and exact per block") {
    val a = ReadMix.iterator(9, Gen.DayS).take(60).map(_.sql("logs")).toList
    assert(a == ReadMix.iterator(9, Gen.DayS).take(60).map(_.sql("logs")).toList)
    assert(a != ReadMix.iterator(10, Gen.DayS).take(60).map(_.sql("logs")).toList)
    val block = ReadMix.iterator(9, Gen.DayS).take(20).map(_.cls).toList
    assert(block.groupBy(identity).view.mapValues(_.size).toMap ==
      Map("point" -> 12, "metric" -> 3, "parser" -> 2, "scan" -> 2, "residual" -> 1))
    ReadMix.iterator(9, Gen.DayS).take(200).foreach { r =>
      assert(r.endS - r.startS == ReadMix.WidthS(r.cls))
      assert(r.startS >= Gen.T0S && r.endS <= Gen.T0S + Gen.DayS)
    }
  }

  test("the ingest sequence is the same for a seed: 3 writes to 1 read, 7:3 sizes") {
    val a = IngestMix.iterator(4).take(400).toList
    assert(a == IngestMix.iterator(4).take(400).toList)
    assert(a != IngestMix.iterator(5).take(400).toList)
    assert(a.head.isInstanceOf[IngestMix.Write])
    assert(a.count(_.isInstanceOf[IngestMix.ReadBack]) == 100)
    val sizes = a.collect { case IngestMix.Write(_, n) => n }
    assert(sizes.count(_ == IngestMix.Large) == 90 && sizes.count(_ == IngestMix.Small) == 210)
  }

  test("batch rows are the same for a seed and never identical to each other") {
    val s = corpus.streamSet
    val rows = IngestMix.batchRows(3, 7, 1000, s)
    assert(rows.toSeq == IngestMix.batchRows(3, 7, 1000, s).toSeq)
    assert(rows.distinct.length == rows.length)
    assert(rows.forall(_.labels("batch") == "b7"))
    val start = IngestMix.batchStartS(7) * Gen.NsPerS
    assert(rows.forall(r => r.tsNs >= start && r.tsNs < start + IngestMix.BatchSpanS * Gen.NsPerS))
  }
}
