package graft

/** Parsing for the engine's tuning knobs (session-conf keys and
  * `SPARK_GRAFT_*` environment variables). A value that does not parse
  * falls back to the knob's default and prints one warning naming the
  * knob and the rejected value, instead of failing the query that read
  * it. An unset knob is its default, silently. */
object Knobs {

  /** `raw`, the knob's value if set, as a Long. */
  def long(name: String, raw: Option[String], default: Long): Long =
    parse(name, raw, default, "an integer")(_.trim.toLongOption)

  /** As [[long]], for knobs that must be a positive Int. */
  def positiveInt(name: String, raw: Option[String], default: Int): Int =
    parse(name, raw, default, "a positive integer")(
      _.trim.toIntOption.filter(_ > 0))

  private def parse[T](name: String, raw: Option[String], default: T,
      want: String)(f: String => Option[T]): T =
    raw.fold(default) { v =>
      f(v).getOrElse {
        System.err.println(
          s"WARN: knob $name='$v' is not $want; using the default $default")
        default
      }
    }
}
