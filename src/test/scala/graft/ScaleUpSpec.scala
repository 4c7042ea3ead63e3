package graft

import graft.tools.ScaleUp
import org.scalatest.funsuite.AnyFunSuite

/** ScaleUp shifts every column of a key domain by one per-copy offset,
  * taken from the parent key, so copy i's foreign keys still join copy
  * i's parents. */
class ScaleUpSpec extends AnyFunSuite {

  test("a parent max of 10000 and a child max of 9999 get the same offset") {
    val maxes = Map(("customer", "c_custkey") -> 10000L, ("orders", "o_custkey") -> 9999L)
    // offsets taken from each column's own max would differ here
    assert(ScaleUp.offsetAbove(10000L) == 100000L)
    assert(ScaleUp.offsetAbove(9999L) == 10000L)
    val offsets = ScaleUp.columnOffsets(k => maxes.getOrElse(k, 1L))
    assert(offsets(("customer", "c_custkey")) == 100000L)
    assert(offsets(("orders", "o_custkey")) == 100000L)
    assert(offsets(("events", "user_id")) == 100000L)
  }

  test("only parent keys are read, and every FK column shares its parent's offset") {
    val asked = scala.collection.mutable.Set[(String, String)]()
    val offsets = ScaleUp.columnOffsets { k => asked += k; 12345L }
    assert(asked.toSet == ScaleUp.domains.map(_.parent).toSet)
    for (d <- ScaleUp.domains; c <- d.children)
      assert(offsets(c) == offsets(d.parent), s"$c vs ${d.parent}")
    assert(offsets(("lineitem", "l_orderkey")) == 100000L)
  }
}
