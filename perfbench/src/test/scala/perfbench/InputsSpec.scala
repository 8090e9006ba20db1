package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val exportIds = Set("C1", "C2", "C3")
  private def once(k: String) = if (exportIds(k)) 1 else 0

  test("expected counts: absent ids and surplus duplicate ordinals are not found") {
    val rows = Seq(
      "C1,N1,s,st,name,true,-1D",
      "X9,N9,s,st,name,true,-1D",  // absent from the export
      "C2,N2,s,,name,true,-12D",   // invalid, but still found
      "C2,N2,s,,name,true,-12D",   // second ordinal of C2: one customer only
      " C3 ,N3,s,st,name,,")       // the join key is trimmed
    assert(Inputs.expected(rows, once) == Inputs.Expected(rows = 5, found = 3, distinct = 4))
  }

  test("expected counts: a duplicated export id matches as many rows as it has customers") {
    val rows = Seq("C1,a", "C1,b", "C1,c")
    assert(Inputs.expected(rows, k => if (k == "C1") 2 else 0) ==
      Inputs.Expected(rows = 3, found = 2, distinct = 1))
    assert(Inputs.expected(Nil, once) == Inputs.Expected(0, 0, 0))
  }

  test("expected counts do not depend on row order") {
    val rows = (0 until 200).map(i => s"C${i % 7},v$i")
    val want = Inputs.expected(rows, once)
    (1 to 5).foreach { s =>
      assert(Inputs.expected(Inputs.permute(rows, Inputs.rng(s, 0)), once) == want)
    }
  }

  test("permutations are seeded: same seed and stream, same order; otherwise not") {
    val xs = (0 until 1000).toIndexedSeq
    val a = Inputs.permute(xs, Inputs.rng(7, 3))
    assert(a == Inputs.permute(xs, Inputs.rng(7, 3)))
    assert(a.sorted == xs)
    assert(a != Inputs.permute(xs, Inputs.rng(7, 4)))
    assert(a != Inputs.permute(xs, Inputs.rng(8, 3)))
  }

  test("graph base tables are fixed and respect the shape") {
    val g = Inputs.GraphShape(orders = 50, lineitems = 200, customers = 5, parts = 9, suppliers = 3)
    assert(Inputs.ordersRows(g) == Inputs.ordersRows(g))
    assert(Inputs.lineitemRows(g) == Inputs.lineitemRows(g))
    assert(Inputs.ordersRows(g).map(_._1) == (0 until 50).map(_.toLong))
    assert(Inputs.ordersRows(g).forall(_._2 < 5))
    assert(Inputs.lineitemRows(g).forall { case (o, p, s) => o < 50 && p < 9 && s < 3 })
  }
}
