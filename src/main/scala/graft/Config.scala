package graft

import org.apache.spark.sql.SparkSession

/** Centralized runtime configuration — the engine analog of the reference's
  * TOML config structs (`pkg/config/config.go:12-55`, loaded once and
  * threaded through the app). One place to read every knob, with pinned
  * defaults, instead of `sys.env` lookups scattered through the mains:
  *
  * | Env var | Default | Meaning |
  * |---|---|---|
  * | `SPARK_GRAFT_SF_DIR`        | /root/testdata/sf0.1 | bench input dir |
  * | `SPARK_GRAFT_CPUS`          | 4  | local[n] width + shuffle partitions |
  * | `SPARK_GRAFT_BENCH_REPS`    | 10 | per-query latency reps (×10 queries = samples) |
  * | `GRAFT_SPARK_LOCAL`         | /tmp | spark.local.dir (tmpfs for scaling legs) |
  * | `SPARK_DRIVER_MEM`          | (build.sbt) | forked JVM heap — read by build.sbt, listed for completeness |
  *
  * Index-shape constants (numSalts=16, numBuckets=32, BlockSize=128, BM25
  * k1/b, MaxK) are deliberately NOT env-tunable: they are pinned in code
  * next to their invariants, because the oracle SQL is generated from the
  * same constants and an env override would silently break cross-engine
  * parity (the reference hard-codes its equivalents too, e.g. the 10 s
  * publish delay, queue.go:107).
  */
object Config {

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def benchReps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "10").toInt

  def sparkLocalDir: String = sys.env.getOrElse("GRAFT_SPARK_LOCAL", "/tmp")

  /** The mains' shared session shape: local[cpus], shuffle partitions =
    * cores (never the 200 default — 32 threads with 200 partitions is 6
    * waves of tiny tasks), UTC, no UI.
    */
  def session(appCpus: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$appCpus]")
      .config("spark.sql.shuffle.partitions", appCpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sparkLocalDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
