package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TopicsSpec extends AnyFunSuite {

  private val log = (0 until 2000).map { i =>
    // pairs of events share a timestamp, so cuts must skip ties
    Topics.Event(s"""{"op":"c","ts_ms":${i / 2},"k":$i}""", i.toLong, (i / 2).toLong)
  }

  test("staging keeps every event, marks strictly increasing and each mark in its file") {
    val t = Topics.stage("orders", log, 40, seed = 7, dupShare = 0.1, lateShare = 0.2)
    assert(t.hwm.zip(t.hwm.tail).forall { case (a, b) => a < b })
    assert(t.distinctLines.toSet == log.map(_.value).toSet)
    assert(t.lines == log.size + t.dups)
    val tsOf = log.map(e => e.value -> e.ts).toMap
    t.files.zip(t.hwm).foreach { case (f, m) => assert(f.map(tsOf).max == m) }
    assert(t.late > 0 && t.dups > 0)
  }

  test("the same seed gives the same files; another seed differs") {
    val a = Topics.stage("orders", log, 40, seed = 7, dupShare = 0.1, lateShare = 0.2)
    assert(a == Topics.stage("orders", log, 40, seed = 7, dupShare = 0.1, lateShare = 0.2))
    assert(a.files != Topics.stage("orders", log, 40, seed = 8, dupShare = 0.1, lateShare = 0.2).files)
  }

  test("the dedup delay and tombstone retention exceed the injected lag") {
    val t = Topics.stage("orders", log, 40, seed = 7, dupShare = 0.1, lateShare = 0.2)
    val lag = t.files.indices.drop(1).flatMap { f =>
      val tsOf = log.map(e => e.value -> e.ts).toMap
      t.files(f).map(v => t.hwm(f - 1) - tsOf(v))
    }.max
    assert(lag == t.lateMs)
    assert(t.lagBoundMs > lag)
    assert(t.tombstoneRetention.contains(t.lagBoundMs))
  }
}
