package graft.io

/** The one scratch-path policy. Every driver and probe scratch path (oracle
  * side channels, staged tables, landing copies, sinks, streaming
  * checkpoints, spill) is built on one of two roots:
  *
  *  - [[disk]]: `/tmp`, fixed, because the driver's static `oracleSql`
  *    strings name `/tmp/graft_oracle_aux/…` literally;
  *  - [[fast]]: `/dev/shm` when it is a writable directory, else `/tmp`,
  *    for paths written inside timed bodies, where disk writeback stalls
  *    would tax the measurement. A host without a usable tmpfs runs the
  *    same paths on disk instead of failing.
  */
object Scratch {

  val disk: String = "/tmp"

  val fast: String = fastRoot("/dev/shm")

  /** `candidate` when it is a writable directory, else [[disk]]. */
  def fastRoot(candidate: String): String = {
    val p = java.nio.file.Paths.get(candidate)
    if (java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p)) candidate
    else disk
  }

  /** An input path as a path-name suffix: every per-input scratch path is
    * keyed by it, so concurrent runs over different inputs (e.g. scale
    * factors) never clobber each other. */
  def sanitized(dir: String): String =
    dir.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9.]", "_")
}
