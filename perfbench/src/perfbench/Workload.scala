package perfbench

/** One op of a workload. `run` makes the timed calls into graft and returns
  * the output check, which runs untimed afterwards and yields an error
  * message when the output is wrong. `rows` counts the user rows the op
  * processes when it succeeds.
  */
final case class Op(kind: String, name: String, rows: Long, run: Tracer => (() => Option[String]))

trait Workload {
  /** Ops per pass through the op schedule. */
  def cycle: Int

  /** Ops at the start of the schedule that warm up, untimed. Together they
    * run every op type once.
    */
  def warmUpOps: Int

  /** Generate the inputs and build a fresh store under `root`. */
  def populate(root: String): Unit

  /** The i-th op of the schedule over the current store. */
  def op(i: Long): Op

  /** Checks on the state the measured phase left behind; each entry is
    * (check name, error if it failed).
    */
  def finalChecks(): Seq[(String, Option[String])]

  /** Bytes of user data in the store, the denominator of storage_amp. */
  def userBytes: Long

  def storeRoot: String

  /** Input sizes, recorded with the run. */
  def sizes: Seq[(String, Long)]

  /** Each op type's share of the schedule; weights the per-type medians
    * behind `ops_per_s` and `op_p50_ms`, so a run that ends part way
    * through a cycle reports the same mix as one that ends on its boundary.
    */
  def mix: Map[String, Double]

  /** Workload-specific per-layer metrics, read after the measured phase. */
  def extraMetrics: Map[String, Double] = Map.empty
}

object Workload {
  /** An output check: None when `got` is what was expected. */
  def expect[T](got: T, want: T): Option[String] =
    if (got == want) None else Some(s"got $got, expected $want")
}
