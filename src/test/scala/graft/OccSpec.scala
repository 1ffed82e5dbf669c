package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.Occ

/** [[Occ.commit]] against an in-memory log: no Spark, no filesystem. A
  * version is claimed by put-if-absent into `log`; `rivals` concurrent
  * writers slip in a commit after an attempt has pinned its base, so
  * exactly that many attempts lose. */
class OccSpec extends AnyFunSuite with Matchers {

  private class FakeLog(var rivals: Int) {
    val log = mutable.Map.empty[Long, String]
    val staged = mutable.Set.empty[String]
    val bases = mutable.ArrayBuffer.empty[Long]
    var cleanups = 0

    def head: Long = if (log.isEmpty) -1L else log.keys.max

    /** Stage a private file, let a rival win base + 1 if one is left,
      * then try to claim base + 1; a lost claim removes the staged file. */
    def attempt(base: Long): Option[Long] = {
      bases += base
      val mine = s"data/v${base + 1}-${bases.size}"
      staged += mine
      if (rivals > 0) { rivals -= 1; log(base + 1) = "rival" }
      if (log.contains(base + 1)) {
        staged -= mine
        cleanups += 1
        None
      } else {
        log(base + 1) = mine
        Some(base + 1)
      }
    }

    def commit(): Long = Occ.commit("append", "t1")(head)(attempt)
  }

  test("the first attempt wins against an uncontended head") {
    val t = new FakeLog(rivals = 0)
    t.commit() shouldBe 0L
    t.commit() shouldBe 1L
    t.bases shouldBe Seq(-1L, 0L)
    t.cleanups shouldBe 0
  }

  test("k lost races: every retry pins a fresh base, cleanup runs k times") {
    for (k <- 1 until Occ.MaxAttempts) {
      val t = new FakeLog(rivals = k)
      // each rival took the version the previous attempt wanted
      t.commit() shouldBe k.toLong
      t.bases shouldBe (-1L until k.toLong)
      t.cleanups shouldBe k
      t.staged shouldBe Set(t.log(k.toLong))
      (0 until k).foreach(v => t.log(v.toLong) shouldBe "rival")
    }
  }

  test("a race lost on every attempt throws, naming the op and the table") {
    val t = new FakeLog(rivals = Int.MaxValue)
    val ex = intercept[IllegalStateException](t.commit())
    ex.getMessage should include("append")
    ex.getMessage should include("t1")
    t.bases.size shouldBe Occ.MaxAttempts
    t.cleanups shouldBe Occ.MaxAttempts
    t.staged shouldBe empty
  }

  test("an exception inside the attempt propagates without a retry") {
    // IllegalStateException included: it must not pass for a lost race
    Seq(new IllegalArgumentException("conflict"),
        new IllegalStateException("bad state")).foreach { boom =>
      var attempts = 0
      val thrown = intercept[RuntimeException] {
        Occ.commit("update", "t2")(0L) { _ =>
          attempts += 1
          throw boom
        }
      }
      thrown shouldBe theSameInstanceAs(boom)
      attempts shouldBe 1
    }
  }
}
