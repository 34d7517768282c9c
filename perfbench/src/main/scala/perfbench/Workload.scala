package perfbench

/** One benchmark workload. [[Main]] calls `generate` several times (the
  * set-up whose median is `setup_s`), then `prepare`, `run`, the metric
  * methods and `selfTest`. */
trait Workload {
  /** Make the inputs afresh; the last repetition's inputs are used. */
  def generate(rep: Int): Unit
  /** Build the checks' reference data and warm up; not timed. */
  def prepare(): Unit
  def run(): Seq[Outcome]
  def endToEnd(os: Seq[Outcome]): Map[String, Metric]
  def perLayer(os: Seq[Outcome]): Map[String, Metric]
  /** Feed each check a deliberately wrong answer; returns the checks
    * that failed to report it (empty when every check works). */
  def selfTest(): Seq[String]
}
