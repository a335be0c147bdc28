package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.VectorIndex

/** Continuously-maintained ANN vector index over an EMBEDDING stream —
  * the vector twin of [[MaintainedBm25Index]]: the [[MaintainedIndex]]
  * protocol over (batch, bucket)-partitioned vectors (the hyperplane
  * buckets are data-independent, so every attempt of a batch agrees on
  * the layout). The index is SIDE-TABLE-FREE — a probe needs only the
  * bucketed vectors — so the staged artifact is a 1-row batch manifest
  * (n_vecs), and deletes are out-of-band tombstones; [[probe]] scans only
  * the probed bucket partitions.
  *
  * Probes equal a from-scratch [[VectorIndex.materialize]] + probe over
  * the union of all delivered vectors (StreamingRetrievalSpec pins it,
  * replay included), because old and new vectors agree on every bucket
  * id and cosine ranking is order-free. vec_ids must be unique across
  * the stream's life (the IncrementalDedup contract). */
final class MaintainedVectorIndex(path: Path, spark: SparkSession,
    bits: Int = 4, dim: Int = 64)
    extends MaintainedIndex(path, spark, idCol = "vec_id", streamDeletes = false) {
  import MaintainedIndex.DataDir

  private val vectors = DataDir("vectors", Seq("batch", "bucket"),
    _.repartition(col("bucket")))
  private[graft] def kind = "stream-vector"
  private[graft] def dataDirs = Seq(vectors)

  /** Delete vectors from the maintained index — the right-to-be-
    * forgotten path works on the STREAMING artifact too because this
    * index is side-table-free (the VectorIndex.delete argument): a
    * tombstone mask before ranking is EXACT, no committed per-batch
    * state needs rewriting, so the delete never competes with the
    * stream's EOS batch sequence. Idempotent; never-indexed ids are
    * no-ops. (Contrast [[MaintainedBm25Index]]: BM25 scores depend on
    * global df/avgdl, so its deletes cannot be out-of-band — they ride
    * the stream itself as `op = 'del'` rows, committing the side-table
    * decrement atomically with the batch marker.) */
  def delete(ids: DataFrame): Unit =
    addTombstones(ids.select(col(ids.columns.head).as("vec_id")))

  /** Physically drop tombstoned vectors under the same (batch, bucket)
    * partitioning ([[MaintainedIndex.dropTombstoned]]). */
  def vacuum(): Unit = dropTombstoned()

  /** foreachBatch body — attach via `writeStream.foreachBatch(idx.update _)`.
    * `batch` needs columns (vec_id, embedding). */
  def update(batch: DataFrame, batchId: Long): Unit =
    commitBatch(batch, batchId) { (df, id, stage) =>
      writeBatch(df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", VectorIndex.bucketCol(col("v"), bits, dim)), vectors, id)
      df.agg(count(lit(1)).as("n_vecs"))
        .write.parquet(stage.resolve("manifest").toString)
    }

  /** Top-k cosine neighbors per query vector against the committed index
    * state — bucket-partition-pruned like the static probe (multi-probe
    * via `nprobe`, the [[VectorIndex.probe]] ordering), batch-gated on
    * the marker. Empty before the first commit. `queries`:
    * (query_id, embedding). */
  def probe(queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    graft.GraftExtensions.register(spark)
    committed(vectors) match {
      case None => queries.select(col("query_id"), lit(0L).as("rnk"),
        lit(0L).as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
      case Some(all) =>
        val (q, probes, buckets) =
          VectorIndex.queryProbes(spark, queries, bits, dim, nprobe)
        val corpus = all.filter(col("bucket").isin(buckets: _*))
          .select(col("vec_id").as("neighbor_id"), col("bucket"),
            col("v").as("cv"), sqrt(expr("graft_dot(v, v)")).as("cnrm"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        broadcast(probes.join(q.select(col("query_id"), col("qv"), col("qnrm")), "query_id"))
          .join(corpus, Seq("bucket"))
          .withColumn("cosine",
            expr("graft_dot(qv, cv)") / nullif(col("qnrm") * col("cnrm"), lit(0.0)))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("rnk").cast("long").as("rnk"),
            col("neighbor_id"), col("cosine"))
    }
  }
}
