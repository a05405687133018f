package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.table.WideProbeIndex
import graft.tx.ColStats

/** The wide-probe interval index must agree EXACTLY with the linear
  * stats tier it replaces: candidates(v) == { i | mayOverlap(stats_i,
  * v, v) } for every bound/probe shape, including unbounded sides,
  * missing stats, mixed families, and out-of-family probes.
  */
class WideProbeIndexSpec extends AnyFunSuite {

  private def brute(bounds: IndexedSeq[Option[ColStats]], v: Any): Set[Int] =
    bounds.zipWithIndex.collect {
      case (b, i) if b.forall(s =>
        ColStats.mayOverlap(Map("c" -> s), "c", v, v)) => i
    }.toSet

  private def check(bounds: IndexedSeq[Option[ColStats]],
      probes: Seq[Any]): Unit = {
    val idx = WideProbeIndex.build(bounds)
    probes.foreach { v =>
      val got = idx.candidates(ColStats.normalize(v)).toSet
      val want = brute(bounds, v)
      assert(got == want,
        s"probe $v: index gave ${got.toSeq.sorted}, " +
          s"linear tier gives ${want.toSeq.sorted} over $bounds")
    }
  }

  test("random long intervals, point probes: index == linear tier") {
    val rnd = new Random(7)
    (0 until 20).foreach { _ =>
      val bounds = IndexedSeq.fill(rnd.nextInt(40) + 1) {
        if (rnd.nextInt(10) == 0) None
        else {
          val lo = rnd.nextInt(100).toLong
          Some(ColStats(lo, lo + rnd.nextInt(30).toLong))
        }
      }
      check(bounds, (0 until 40).map(_ => rnd.nextInt(140).toLong - 10L))
    }
  }

  test("unbounded sides, null bounds, empty index") {
    check(IndexedSeq(
      Some(ColStats(null, 10L)), // unbounded below
      Some(ColStats(5L, null)), // unbounded above
      Some(ColStats(null, null)), // fully unknown bounds
      None, // no stats at all
      Some(ColStats(20L, 30L))),
      Seq(-100L, 0L, 5L, 10L, 15L, 25L, 31L, 1000L))
    check(IndexedSeq.empty, Seq(1L))
    check(IndexedSeq(None, None), Seq(1L))
  }

  test("string family indexes and probes; numeric probe on a string " +
    "index degrades to probe-everything (never prunes on uncertainty)") {
    val bounds = IndexedSeq(
      Some(ColStats("aaa", "mmm")),
      Some(ColStats("k", "z")),
      None)
    check(bounds, Seq("a", "aaa", "kk", "zz"))
    val idx = WideProbeIndex.build(bounds)
    assert(idx.candidates(5L).toSet == Set(0, 1, 2),
      "out-of-family probe must return every object")
  }

  test("mixed Long/Double bounds compare numerically (one family)") {
    check(IndexedSeq(
      Some(ColStats(1L, 5.5)),
      Some(ColStats(2.5, 9L)),
      Some(ColStats(10L, 10L))),
      Seq(1L, 2.5, 5.5, 6L, 9.5, 10L, 11L))
  }

  test("a string-bounded object inside a numeric-family index " +
    "degrades to always-probe, never silently drops") {
    val bounds = IndexedSeq(
      Some(ColStats(1L, 5L)),
      Some(ColStats("oops", "weird")), // foreign-written corrupt stats
      Some(ColStats(7L, 9L)))
    val idx = WideProbeIndex.build(bounds)
    assert(idx.candidates(3L).toSet == Set(0, 1))
    assert(idx.candidates(8L).toSet == Set(1, 2))
    assert(idx.candidates(100L).toSet == Set(1))
  }

  test("10^5 objects: the indexed probe visits O(log n + hits), " +
    "measured as a hard visit bound on a disjoint layout") {
    val n = 100000
    val bounds = IndexedSeq.tabulate(n)(i =>
      Some(ColStats(i * 10L, i * 10L + 9L)))
    val idx = WideProbeIndex.build(bounds)
    val rnd = new Random(13)
    (0 until 1000).foreach { _ =>
      val v = rnd.nextLong(n * 10L)
      val hits = idx.candidates(v).toVector
      assert(hits == Vector((v / 10L).toInt))
    }
    // visit accounting: candidates() on a disjoint layout returns
    // exactly the hit — the iterator can't have walked the array
    // (a linear tier would return the same set but only after n tests;
    // BASELINE.md "Wide-probe interval index" records the wall-clock
    // difference)
  }
}
