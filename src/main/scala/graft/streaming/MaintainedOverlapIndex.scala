package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.OverlapIndex

/** Continuously-maintained POSITIONED shingle index over a document
  * stream — the streaming fold of the overlap-run decontamination surface
  * ([[MaintainedShingleIndex]]'s discipline applied to the
  * [[OverlapIndex]] relation): without it, continuous ingestion cannot
  * answer "which standing docs share ≥N-token verbatim runs with a newly
  * adopted benchmark" short of a batch rebuild. The [[MaintainedIndex]]
  * protocol over one `batch`-partitioned dir of the adds' (doc_id, q, h)
  * trigram occurrences; stream-carried `op='del'` takedowns reach the
  * overlap surface without pausing ingestion.
  *
  * Probes equal the batch [[OverlapIndex]] materialized over the union of
  * all delivered (minus deleted) documents — MaintainedOverlapIndexSpec
  * pins streamed ≡ batch, replays/re-requests as no-ops, and stream-del ≡
  * batch delete (the MaintainedShingleIndexSpec three-pin shape).
  *
  * Per-trigger cost is batch-bounded (one narrow posexplode of the adds;
  * |deleted|-sized tombstone union). At 100 TB the standing mass is the
  * append-only partitioned occurrence dir; the probe carries
  * [[OverlapIndex.runsFrames]]'s shapes — cost O(matching hash pairs),
  * islands windowed per (t_doc, e_doc, diag), never corpus-keyed. */
final class MaintainedOverlapIndex(path: Path, spark: SparkSession)
    extends MaintainedIndex(path, spark, idCol = "doc_id", streamDeletes = true) {
  import MaintainedIndex.DataDir

  private val occ = DataDir("occ", Seq("batch"), _.repartition(32, col("h")))
  private[graft] def kind = "stream-overlap"
  private[graft] def dataDirs = Seq(occ)

  /** The committed, tombstone-masked occurrence frame (doc_id, q, h). */
  private def committedOcc: DataFrame = committed(occ).getOrElse(
    spark.range(0).select(col("id").as("doc_id"),
      col("id").cast("int").as("q"), col("id").as("h")))

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs (doc_id, text) and optionally `op` ('add' | 'del') —
    * the [[MaintainedIndex.commitOps]] contract. */
  def update(batch: DataFrame, batchId: Long): Unit =
    commitOps(batch, batchId) { (adds, _, id, _) =>
      writeBatch(OverlapIndex.positioned(adds), occ, id)
    }

  /** Longest-contiguous-overlap runs of `evalDocs` (doc_id, text) against
    * the streamed standing corpus — [[OverlapIndex.runsProbe]] over the
    * committed state. Empty before the first commit. */
  def runsProbe(evalDocs: DataFrame, minRun: Long): DataFrame = {
    graft.GraftExtensions.register(spark)
    OverlapIndex.runsFrames(committedOcc, OverlapIndex.positioned(evalDocs), minRun)
  }

  /** Scrub `trainDocs` against the STREAMED standing occurrences as the
    * benchmark side — [[OverlapIndex.scrubProbe]]'s mirrored-roles form
    * over a continuously-ingested eval benchmark (new benchmark docs
    * stream in, takedowns stream out, and training batches scrub against
    * the committed state). Unchanged text before the first commit. */
  def scrubProbe(trainDocs: DataFrame, minRun: Long): DataFrame = {
    graft.GraftExtensions.register(spark)
    OverlapIndex.scrubFrames(trainDocs, OverlapIndex.positioned(trainDocs),
      committedOcc, minRun)
  }
}
