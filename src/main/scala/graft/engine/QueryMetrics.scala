package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Per-query execution counters — the engine analog of the reference's
  * Prometheus `/metrics` endpoint (`pkg/route/route.go:32`) and per-request
  * latency/UID logging (`pkg/logging/http_logging.go:31-46`). Spark-native:
  * the counters are `LongAccumulator`s, so executor-side WAND runs report
  * into them with no extra shuffle or collect, and a cluster UI / history
  * server sees them as named accumulators per stage.
  *
  *  - `candidates`: docs fully scored (WAND pivot evaluations)
  *  - `blocksDecoded`: posting blocks decompressed INTO THE PINNED
  *    segment shards during this run (0 on a warm rerun — the block-memo
  *    hit-rate signal). Attribution is per pin: the handles live in
  *    [[SegmentShard]]s shared by every task, so when two concurrent queries
  *    overlap on a term, a block either of them forced may be attributed
  *    to whichever snapshotted the handle around its decode — the SUM
  *    across queries still equals total decode work, which is what the
  *    hit-rate signal needs; per-query attribution of a shared decode is
  *    inherently ambiguous (it happens once for both).
  *  - `blockSkips`: BMW window-skip events (blocks bounded below the heap
  *    threshold and never decompressed — the WAND effectiveness signal);
  *    per-query exact (counted inside the run's own cursors).
  *  - `routedFast` / `routedHybrid` / `routedWand` / `routedAbsent`: how many
  *    queries of the batch each serving route took (driver-side adds at plan
  *    time — the routing decision is driver metadata, so these are exact and
  *    cache-independent; the per-route QPS/latency attribution signal).
  *    `routedAbsent` counts queries whose terms are ALL absent from the index
  *    (the 404-with-null-results analog — no route runs for them); the four
  *    counters sum to the batch size, so per-route QPS denominators never
  *    silently exclude 404s. An AND query ([[Wand.Conjunctive]]) counts as
  *    `routedWand`, or as `routedAbsent` when any of its terms is absent.
  *  - `tailRows`: ranked rows the shard tasks shipped to the driver's
  *    merge ([[ShardTail]]) — at most k per (salt shard, query), so ≤
  *    numSalts·k per query however many candidates tie.
  */
final case class QueryMetrics(
    candidates: LongAccumulator,
    blocksDecoded: LongAccumulator,
    blockSkips: LongAccumulator,
    routedFast: LongAccumulator,
    routedHybrid: LongAccumulator,
    routedWand: LongAccumulator,
    routedAbsent: LongAccumulator,
    tailRows: LongAccumulator) extends Serializable {

  def snapshot: Map[String, Long] = Map(
    "candidates_evaluated" -> candidates.value,
    "blocks_decoded" -> blocksDecoded.value,
    "block_skips" -> blockSkips.value,
    "routed_fast" -> routedFast.value,
    "routed_hybrid" -> routedHybrid.value,
    "routed_wand" -> routedWand.value,
    "routed_absent" -> routedAbsent.value,
    "tail_rows" -> tailRows.value)
}

object QueryMetrics {
  def apply(spark: SparkSession): QueryMetrics = QueryMetrics(
    spark.sparkContext.longAccumulator("graft.query.candidates"),
    spark.sparkContext.longAccumulator("graft.query.blocksDecoded"),
    spark.sparkContext.longAccumulator("graft.query.blockSkips"),
    spark.sparkContext.longAccumulator("graft.query.routedFast"),
    spark.sparkContext.longAccumulator("graft.query.routedHybrid"),
    spark.sparkContext.longAccumulator("graft.query.routedWand"),
    spark.sparkContext.longAccumulator("graft.query.routedAbsent"),
    spark.sparkContext.longAccumulator("graft.query.tailRows"))
}

/** Executor-local mutable counters for one WAND shard run (summed into the
  * [[QueryMetrics]] accumulators after the run).
  */
final class WandCounters {
  var evaluated: Long = 0L
  var skips: Long = 0L
}
