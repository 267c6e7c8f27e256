package graft

/** Reads graft's numeric environment settings (`SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_REPS`, `SPARK_GRAFT_DEADLINE_SEC`) in one place, so a bad
  * value fails at start-up instead of producing an empty or odd run. Each
  * returns None when the variable is unset; a set value that does not parse
  * or is not positive fails with a message naming the variable. */
object Env {
  def positiveInt(name: String, env: String => Option[String] = sys.env.get): Option[Int] =
    positive(name, "an integer >= 1", env)(_.toIntOption)

  def positiveDouble(name: String, env: String => Option[String] = sys.env.get): Option[Double] =
    positive(name, "a number > 0", env)(_.toDoubleOption)

  private def positive[T](name: String, what: String, env: String => Option[String])(
      parse: String => Option[T])(implicit num: Numeric[T]): Option[T] =
    env(name).map { raw =>
      parse(raw.trim).filter(num.gt(_, num.zero)).getOrElse(
        throw new IllegalArgumentException(s"$name must be $what, got '$raw'"))
    }
}
