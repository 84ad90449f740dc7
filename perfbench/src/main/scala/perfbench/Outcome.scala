package perfbench

/** Units attempted (pipeline runs, query rows, output comparisons) and
  * how many of them threw or failed their check. */
final case class Outcome(attempted: Int, failed: Int) {
  def +(o: Outcome): Outcome = Outcome(attempted + o.attempted, failed + o.failed)
}
