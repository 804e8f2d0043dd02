package graft

import org.scalatest.funsuite.AnyFunSuite

/** Explain's command line, parsed without Spark. */
class ExplainArgsSpec extends AnyFunSuite {
  import Explain.{Args, parse}

  test("--sweep anywhere sweeps the named queries") {
    assert(parse(Seq("/sf", "--sweep", "q1", "q2")) == Right(Args("/sf", sweep = true, Seq("q1", "q2"))))
    assert(parse(Seq("/sf", "q1", "--sweep")) == Right(Args("/sf", sweep = true, Seq("q1"))))
  }

  test("--sweep without names sweeps every registered query") {
    assert(parse(Seq("/sf", "--sweep")) == Right(Args("/sf", sweep = true, Nil)))
  }

  test("plain names are explained; none means the default subset") {
    assert(parse(Seq("/sf", "q1")) == Right(Args("/sf", sweep = false, Seq("q1"))))
    val Right(dflt) = parse(Seq("/sf"))
    assert(!dflt.sweep && dflt.names.nonEmpty)
    assert(parse(Nil).map(_.sfDir) == Right("/root/testdata/sf0.001"))
  }

  test("a bad flag fails with the usage message") {
    val Left(msg) = parse(Seq("/sf", "--swep", "q1"))
    assert(msg.contains("--swep") && msg.contains(Explain.Usage))
  }
}
