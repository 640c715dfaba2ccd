package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Materialize

/** `scopedTest` registers a test whose operators materialize into one
  * [[Materialize]] scope, closed when the test body ends. */
trait ScopedTests { this: AnyFunSuite =>
  protected def scopedTest(name: String)(body: Materialize => Any): Unit =
    test(name)(Materialize(body))
}
