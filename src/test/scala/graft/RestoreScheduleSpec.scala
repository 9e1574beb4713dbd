package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The exactly-once restore rule all five persisted dedup index families
  * share ([[Dedup.restoreSchedule]]), pinned without a Spark session:
  * which deltas fold, and where each takedown tombstone replays between
  * them. */
class RestoreScheduleSpec extends AnyFunSuite {

  /** A tombstone (seq, after, payload path). */
  private def t(seq: Long, after: Long) = (seq, after, s"tomb/t${seq}_b$after")

  /** The schedule as readable tokens: "d<b>" folds delta b, "t<seq>"
    * applies tombstone seq. */
  private def steps(genBatch: Long, deltas: Seq[Long],
      tombs: Seq[(Long, Long, String)]): Seq[String] =
    Dedup.restoreSchedule(genBatch, deltas, tombs).map {
      case Left((seq, _, _)) => s"t$seq"
      case Right(b) => s"d$b"
    }

  test("a tombstone tagged before the generation's batch is skipped") {
    assert(steps(5, Seq(6), Seq(t(0, 4))) == Seq("d6"))
    assert(steps(5, Nil, Seq(t(0, 3), t(1, 4))) == Nil)
  }

  test("a tombstone tagged exactly at the generation's batch is kept") {
    assert(steps(5, Seq(6), Seq(t(0, 5))) == Seq("t0", "d6"))
    assert(steps(5, Nil, Seq(t(0, 4), t(1, 5))) == Seq("t1"))
  }

  test("tombstones replay between deltas at their recorded position") {
    // after=6 applies after delta 6 folds and before delta 7.
    assert(steps(5, Seq(6, 7, 8), Seq(t(0, 6), t(1, 6), t(2, 7))) ==
      Seq("d6", "t0", "t1", "d7", "t2", "d8"))
    // Due tombstones keep sequence order, even when a later sequence
    // number carries an earlier position.
    assert(steps(5, Seq(6, 9), Seq(t(0, 7), t(1, 6))) ==
      Seq("d6", "t0", "t1", "d9"))
  }

  test("tombstones after the last delta apply at the end") {
    assert(steps(5, Seq(6, 7), Seq(t(0, 7), t(1, 9))) ==
      Seq("d6", "d7", "t0", "t1"))
  }

  test("no newer deltas: only the live tombstones, in sequence order") {
    assert(steps(5, Nil, Nil) == Nil)
    assert(steps(5, Seq(3, 4, 5), Seq(t(1, 5), t(2, 8))) == Seq("t1", "t2"))
    assert(steps(-1, Nil, Seq(t(0, -1))) == Seq("t0"))
  }

  test("deltas at or below the generation's batch are not folded again") {
    assert(steps(5, Seq(4, 5, 6), Seq(t(0, 5))) == Seq("t0", "d6"))
  }
}
