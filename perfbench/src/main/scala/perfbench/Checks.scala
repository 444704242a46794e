package perfbench

/** Output checks. Each returns the problems found; empty means correct. */
object Checks {
  /** Final state of the tally: exactly the expected keys (after TTL), each
    * with the expected (n, sum). */
  def tally(got: Map[Long, (Long, Long)], want: Map[Long, (Long, Long)]): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.iterator.filter { case (k, v) => got.get(k).exists(_ != v) }.toSeq
    Seq(
      Option.when(missing.nonEmpty)(
        s"${missing.size} expected keys missing from state (e.g. ${missing.take(3).mkString(",")})"),
      Option.when(extra.nonEmpty)(
        s"${extra.size} keys in state that should have expired or never existed (e.g. ${extra.take(3).mkString(",")})"),
      wrong.headOption.map { case (k, v) =>
        s"${wrong.size} keys with a wrong (n, sum), e.g. key $k: want $v got ${got(k)}" }
    ).flatten
  }

  /** Streamed near-duplicate pairs against the batch pairs over the same docs. */
  def pairs(got: Set[(Long, Long)], want: Set[(Long, Long)]): Seq[String] = {
    val missing = want -- got
    val extra = got -- want
    Seq(
      Option.when(want.isEmpty)("the generated documents hold no near-duplicate pairs"),
      Option.when(missing.nonEmpty)(
        s"${missing.size} batch pairs not emitted by the stream (e.g. ${missing.take(3).mkString(",")})"),
      Option.when(extra.nonEmpty)(
        s"${extra.size} streamed pairs not found by batch LSH (e.g. ${extra.take(3).mkString(",")})")
    ).flatten
  }
}
