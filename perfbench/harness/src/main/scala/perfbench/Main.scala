package perfbench

/** Benchmark harness entry point. `perfbench/run.py` builds this and
  * launches it; the first argument picks the mode:
  *
  *  - `batch`: timed passes over one batch workload's queries;
  *  - `river`: the open-loop river stream ladder;
  *  - `census`: one traced full-result pass over every registered query.
  *
  * Each mode writes one JSON result file (`--result`) that `run.py` reads. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Common.parseArgs(args.toSeq.drop(1))
    args.headOption match {
      case Some("batch") => Batch.run(opts)
      case Some("river") => River.run(opts)
      case Some("census") => Census.run(opts)
      case other => sys.error(s"unknown mode $other (batch | river | census)")
    }
  }
}
