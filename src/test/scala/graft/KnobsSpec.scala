package graft

import org.scalatest.funsuite.AnyFunSuite

/** Malformed tuning knobs fail naming the knob and the value
  * ([[Knobs]]), through the engine's own read sites.
  */
class KnobsSpec extends AnyFunSuite {

  private def withProp[T](key: String, value: String)(f: => T): T = {
    val saved = sys.props.get(key)
    sys.props(key) = value
    try f
    finally saved match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }

  test("a malformed or non-positive knob fails naming the knob and the value") {
    val key = "graft.train.rowsPerTask"
    val bad = withProp(key, "20k") {
      intercept[IllegalArgumentException](ml.GraftBoost.TrainRowsPerTask)
    }
    assert(bad.getMessage.contains(key) && bad.getMessage.contains("'20k'"),
      bad.getMessage)
    val zero = withProp(key, "0") {
      intercept[IllegalArgumentException](ml.GraftBoost.TrainRowsPerTask)
    }
    assert(zero.getMessage.contains(key) && zero.getMessage.contains("got 0"),
      zero.getMessage)
    val wide = withProp("graft.partialfold.blockSize", "3000000000") {
      intercept[IllegalArgumentException](ml.PartialFold.BlockSize)
    }
    assert(wide.getMessage.contains("graft.partialfold.blockSize") &&
      wide.getMessage.contains("3000000000"), wide.getMessage)
    // 0 keeps its documented meaning where a knob gives it one
    // (never broadcast); negatives are refused there too
    withProp("graft.graph.broadcastMaxRows", "0") {
      assert(operators.Graph.broadcastMaxRows == 0L)
    }
    withProp("graft.graph.broadcastMaxRows", "-1") {
      intercept[IllegalArgumentException](operators.Graph.broadcastMaxRows)
    }
    // the per-call read still sees a runtime flip
    withProp(key, " 200 ") { assert(ml.GraftBoost.TrainRowsPerTask == 200L) }
  }
}
