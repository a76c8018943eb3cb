package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ScaleStress.{Run, legs, plan}

/** The `ScaleStress` argument rule, checked on the leg table alone — no
  * Spark session is built (leg bodies never run). */
class ScaleStressSpec extends AnyFunSuite {
  private def named(runs: Seq[Run]) = runs.map(r => (r.leg.name, r.ks))
  private val K100 = Seq(1, 10, 100)

  test("leg table: 23 legs, one name each") {
    assert(legs.size == 23)
    assert(legs.map(_.name).distinct == legs.map(_.name))
  }

  test("no arguments: the default set, in order, at the default ks") {
    assert(named(plan(Nil)) == Seq("dedup" -> Seq(1, 2, 5, 10)) ++
      Seq("ann", "events", "mining", "curate", "r7", "tokenize",
        "exactsubstr", "asof").map(_ -> K100))
  }

  test("a bare k list runs dedup only") {
    assert(named(plan(Seq("10,100"))) == Seq("dedup" -> Seq(10, 100)))
  }

  test("a named leg takes a k list; rank9 keeps its stump in one leg") {
    assert(named(plan(Seq("rank9", "1,2"))) == Seq("rank9" -> Seq(1, 2)))
    assert(!legs.exists(_.name.contains("stump")))
  }

  test("every leg is selectable and defaults to its declared ks") {
    assert(named(plan(Seq("mining"))) == Seq("mining" -> K100))
    legs.foreach { l =>
      assert(named(plan(Seq(l.name))) == Seq(l.name -> l.ks))
      assert(named(plan(Seq(l.name, "1"))) == Seq(l.name -> Seq(1)))
    }
  }

  test("itemcf10 keeps its lshonly option, with or without a k list") {
    assert(plan(Seq("itemcf10", "1", "lshonly")) ==
      Seq(Run(plan(Seq("itemcf10")).head.leg, Seq(1), Set("lshonly"))))
    assert(plan(Seq("itemcf10", "lshonly")).head.options == Set("lshonly"))
    assert(plan(Seq("itemcf10")).head.options.isEmpty)
  }

  test("an unknown leg or option fails at once, naming the legs") {
    val e = intercept[IllegalArgumentException](plan(Seq("rank99")))
    assert(e.getMessage.contains("rank99"))
    legs.foreach(l => assert(e.getMessage.contains(l.name)))
    intercept[IllegalArgumentException](plan(Seq("mining", "1", "lshonly")))
    intercept[IllegalArgumentException](plan(Seq("10,100", "extra")))
  }
}
