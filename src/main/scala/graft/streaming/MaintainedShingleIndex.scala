package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ShingleIndex
import graft.queries.CrossHash.shingleHashes

/** Continuously-maintained corpus shingle index over a DOCUMENT stream —
  * the marker-less streaming fold of the dedup/novelty surface that the
  * single-commit [[ShingleIndex]] layout unblocks (the
  * [[MaintainedBm25Index]] discipline applied to dedup). The
  * [[MaintainedIndex]] protocol — per-batch gated writes, marker-gated
  * reads, the cumulative tombstone set committed with the batch marker,
  * the staged compact — over two `batch`-partitioned dirs: pairs and
  * per-doc counts. Batch doc ids are disjoint (the IncrementalDedup
  * contract), so per-batch count partitions union to the corpus counts
  * with no merge step.
  *
  * STREAM-CARRIED takedowns: a row with `op = 'del'` removes a
  * previously-committed doc from every probe exactly (the cumulative
  * tombstone mask — [[ShingleIndex.delete]]'s algebra riding the EOS
  * commit), so right-to-be-forgotten does not require pausing continuous
  * ingestion. Probes equal the batch [[ShingleIndex]] built on the union
  * of all delivered (minus deleted) documents — MaintainedShingleIndexSpec
  * pins streamed ≡ batch for probe and novelty, del ≡ batch delete, and
  * replays/re-requests as no-ops (the StreamingRetrievalSpec three-pin
  * shape).
  *
  * Per-trigger cost is batch-bounded: the adds shingle once (narrow
  * explode + distinct), the tombstone union is |deleted|-sized. At 100 TB
  * the standing mass is the append-only partitioned pairs dir; probes
  * carry the [[ShingleIndex.probeFrames]] shapes (candidates broadcast
  * against the counts side, never the reverse). */
final class MaintainedShingleIndex(path: Path, spark: SparkSession)
    extends MaintainedIndex(path, spark, idCol = "doc_id", streamDeletes = true) {
  import MaintainedIndex.DataDir

  private val pairs = DataDir("pairs", Seq("batch"), _.repartition(32, col("h")))
  private val counts = DataDir("counts", Seq("batch"))
  private[graft] def kind = "stream-shingle"
  private[graft] def dataDirs = Seq(pairs, counts)

  /** The committed, tombstone-masked corpus pair frame (doc_id, h). */
  private def committedPairs: DataFrame = committed(pairs).getOrElse(
    spark.range(0).select(col("id").as("doc_id"), col("id").as("h")))

  private def committedCounts: DataFrame = committed(counts).getOrElse(
    spark.range(0).select(col("id").as("doc_id"), col("id").as("n")))

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (doc_id, text) and optionally `op`
    * ('add' | 'del') — the [[MaintainedIndex.commitOps]] contract. */
  def update(batch: DataFrame, batchId: Long): Unit =
    commitOps(batch, batchId) { (adds, _, id, _) =>
      val psh = adds
        .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
        .distinct().cache()
      writeBatch(psh, pairs, id)
      writeBatch(psh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), counts, id)
      psh.unpersist()
      ()
    }

  /** Near-dup pairs of a NEW probe batch vs the committed corpus (plus
    * within the probe batch) — [[ShingleIndex.probe]] over the streamed
    * state. Within-probe-only pairs before the first commit. */
  def probe(batch: DataFrame, threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.probeFrames(committedPairs, committedCounts, batch, threshold)
  }

  /** Per-doc novelty of a probe batch vs the committed corpus —
    * [[ShingleIndex.noveltyProbe]] over the streamed state. */
  def noveltyProbe(batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.noveltyFrames(committedPairs, batch)
  }

  /** Containment pairs touching a probe batch vs the committed corpus —
    * [[ShingleIndex.containmentProbe]] over the streamed state. */
  def containmentProbe(batch: DataFrame, threshold: Double): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.containmentFrames(committedPairs, committedCounts, batch, threshold)
  }

  /** Arrival-order keep-first span scrub of a probe batch vs the
    * committed corpus — [[ShingleIndex.spanKeepFirstProbe]] over the
    * streamed state: the continuously-ingested corpus holds its
    * passages, a probe doc keeps only what nobody committed (or a lower
    * probe doc_id) already carries. Stream-carried takedowns release a
    * forgotten doc's passages like every other probe here. */
  def spanKeepFirstProbe(batch: DataFrame): DataFrame = {
    graft.GraftExtensions.register(spark)
    ShingleIndex.spanKeepFirstFrames(spark, committedPairs, batch)
  }
}
