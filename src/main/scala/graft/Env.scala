package graft

/** Environment knobs read by the mains and the tier-build pool. A
  * malformed or non-positive value falls back to the default instead of
  * failing where it is used: inside object init (an opaque
  * ExceptionInInitializerError), as a 0 pool size, or as a `local[abc]`
  * master URL. */
object Env {

  /** Core count of a main's `local[N]` master when SPARK_GRAFT_CPUS is
    * unset or unusable. */
  val DefaultCpus = 32

  /** `raw`, trimmed, as a positive int; None when absent, malformed or
    * not positive. */
  private def positiveInt(raw: Option[String]): Option[Int] =
    raw.flatMap(v => scala.util.Try(v.trim.toInt).toOption).filter(_ > 0)

  /** The environment variable `name` as a positive int. */
  def envInt(name: String): Option[Int] = positiveInt(sys.env.get(name))

  /** Core count for a main's `local[N]` master and shuffle partitions,
    * from a raw SPARK_GRAFT_CPUS value. */
  def cpusOf(raw: Option[String]): Int =
    positiveInt(raw).getOrElse(DefaultCpus)

  /** [[cpusOf]] the current SPARK_GRAFT_CPUS. */
  def cpus: Int = cpusOf(sys.env.get("SPARK_GRAFT_CPUS"))
}
