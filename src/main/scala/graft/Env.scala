package graft

/** The driver-contract env knobs, all read one way: `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_REPS`, `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_ONLY` and
  * `SPARK_GRAFT_SKIP`. A blank value means unset, so `VAR=` behaves like
  * an absent variable instead of selecting nothing (`ONLY=""` once split
  * to `Set("")` and timed zero queries) or dying in `toInt`. A malformed
  * value fails naming its variable. Each reader takes the raw value as an
  * `Option[String]`, so the contract is unit-testable without touching
  * the process environment; the one-argument forms read `sys.env`.
  */
object Env {
  def string(name: String, raw: Option[String]): Option[String] =
    raw.map(_.trim).filter(_.nonEmpty)

  def positiveInt(name: String, raw: Option[String]): Option[Int] =
    string(name, raw).map { v =>
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive int, got '$v'"))
      if (n <= 0) throw new IllegalArgumentException(s"$name must be > 0, got $n")
      n
    }

  /** A comma list; blank entries are dropped, and a list with none left
    * is unset. */
  def names(name: String, raw: Option[String]): Option[Set[String]] =
    string(name, raw).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)

  def string(name: String): Option[String] = string(name, sys.env.get(name))
  def positiveInt(name: String): Option[Int] = positiveInt(name, sys.env.get(name))
  def names(name: String): Option[Set[String]] = names(name, sys.env.get(name))
}
