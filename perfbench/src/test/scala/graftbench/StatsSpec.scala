package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.relations.InMemoryFileStore
import Stats.Outcome

class StatsSpec extends AnyFunSuite {

  test("percentile: reported only with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90).contains(90.0)) // 10 samples above 90
    assert(Stats.percentile(xs.take(99), 90).isEmpty) // rank 90, only 9 above
    assert(Stats.percentile(xs, 95).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time counts overlapping children once and clips them to the parent") {
    // parent [0,100); children [10,40) and [30,60) overlap → union 50
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child nested in another adds nothing; a disjoint one adds its length
    assert(Stats.selfTime(0, 100, Seq((10L, 50L), (20L, 30L), (70L, 80L))) == 50)
    // a child running past the parent's end is clipped
    assert(Stats.selfTime(0, 100, Seq((90L, 150L))) == 90)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
  }

  test("idle thread seconds: threads x run wall minus node seconds") {
    assert(Stats.idleThreadSeconds(4, 10.0, 25.0) == 15.0)
    assert(Stats.idleThreadSeconds(1, 2.0, 2.0) == 0.0)
  }

  test("fail ratio counts failed and wrong-output operations") {
    import Outcome._
    assert(Stats.failRatio(Seq(Ok, Ok, Failed, Wrong)) == 0.5)
    assert(Stats.failRatio(Seq(Ok, Ok)) == 0.0)
    assert(Stats.failRatio(Nil) == 0.0)
  }

  test("counting FileStore delegates every call unchanged and counts it") {
    val inner = new InMemoryFileStore
    val t = new Tracer
    t.on = true
    val s = new CountingFileStore(inner, t)
    assert(s.createIfAbsent("/w/t/_graft_log/0.json", "v0"))
    assert(!s.createIfAbsent("/w/t/_graft_log/0.json", "other"))
    assert(s.read("/w/t/_graft_log/0.json") == "v0")
    assert(inner.read("/w/t/_graft_log/0.json") == "v0")
    s.write("/w/t/view.sql", "select 1")
    assert(inner.read("/w/t/view.sql") == "select 1")
    assert(s.exists("/w/t/view.sql") == inner.exists("/w/t/view.sql"))
    assert(s.list("/w/t").sorted == inner.list("/w/t").sorted)
    assert(s.sizeOf("/w/t/view.sql") == inner.sizeOf("/w/t/view.sql"))
    s.delete("/w/t/view.sql")
    assert(!inner.exists("/w/t/view.sql"))
    s.write("/w/t/_staging/a", "x")
    s.moveFile("/w/t/_staging/a", "/w/t/a")
    assert(inner.read("/w/t/a") == "x" && !inner.exists("/w/t/_staging/a"))
    val c = t.take()
    assert(c("relations.store_calls") == 10) // calls made on `inner` directly are not counted
    assert(c("relations.commits") == 2)
    assert(c("relations.commit_conflicts") == 1)
  }
}
