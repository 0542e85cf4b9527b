package graft

/** One parser for the engine's numeric tuning knobs — the system
  * properties (and their environment-variable spellings) that size
  * tasks, blocks, state partitions and broadcast limits. A malformed
  * value fails naming the knob and the value, instead of an
  * anonymous `NumberFormatException` from deep inside a fit or scan.
  *
  * Knobs are read per call, not cached: specs flip them at runtime
  * (GateInvarianceSpec switches `graft.train.rowsPerTask` between
  * layouts).
  */
object Knobs {

  /** The system property `prop`, else the environment variable `env`,
    * else `default`. A set value must be an integer in [`min`, `max`]
    * (`min` is 1 unless the knob gives 0 a meaning); anything else
    * fails with an IllegalArgumentException that names the knob and
    * the value.
    */
  def long(prop: String, default: Long, env: Option[String] = None,
      min: Long = 1L, max: Long = Long.MaxValue): Long = {
    val set = sys.props.get(prop).map(prop -> _)
      .orElse(env.flatMap(e => sys.env.get(e).map(e -> _)))
    set.fold(default) { case (name, raw) => parse(name, raw, min, max) }
  }

  /** An Int knob read from the environment variable `env` alone (the
    * dev mains' `SPARK_GRAFT_*` settings), checked as [[long]] does.
    */
  def envInt(env: String, default: Int, min: Int = 1): Int =
    sys.env.get(env).fold(default)(parse(env, _, min.toLong, Int.MaxValue.toLong).toInt)

  private def parse(name: String, raw: String, min: Long, max: Long): Long = {
    val v = raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"knob $name must be an integer, got '$raw'"))
    require(v >= min && v <= max,
      s"knob $name must be in [$min, $max], got $v")
    v
  }

  /** [[long]] for knobs that size an Int quantity. */
  def int(prop: String, default: Int, env: Option[String] = None,
      min: Int = 1): Int =
    long(prop, default.toLong, env, min.toLong, Int.MaxValue.toLong).toInt
}
