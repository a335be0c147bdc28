package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.FileTree

/** The maintained-index protocol of the five streaming twins
  * ([[MaintainedShingleIndex]], [[MaintainedOverlapIndex]],
  * [[MaintainedBm25Index]], [[MaintainedVectorIndex]],
  * [[MaintainedIntIvfIndex]]) — the StatsView exactly-once discipline on
  * a batch-partitioned layout. A twin supplies its row shape, its data
  * dirs with their partition columns, and its probes; this class owns:
  *
  *  - the GATED BATCH WRITE ([[commitBatch]] + [[writeBatch]]): each
  *    micro-batch runs inside an [[EosProjection]] and writes ONLY its
  *    own `batch=<id>` partitions via dynamic partition overwrite — a
  *    re-run after a crash rewrites the identical partitions (the batch
  *    content is deterministic), so the write is idempotent per batch
  *    id, and replays skip whole (G4). Small staged artifacts (side
  *    tables, tombstone sets, manifests) commit ATOMICALLY with the
  *    batch marker;
  *  - the COMMITTED READ ([[committed]]): readers gate on the marker
  *    (`batch <= lastCommitted`), so orphan partitions from a crashed
  *    attempt stay invisible until their batch commits (the EventLog
  *    manifest-gated-reader pattern), and the tombstone set masks;
  *  - the tombstone set, from one of two sources. With `streamDeletes`
  *    (shingle, overlap, BM25) the CUMULATIVE set rides each batch's EOS
  *    snapshot ([[commitOps]]): a stream-carried `op = 'del'` commits
  *    with the batch marker, so takedowns never pause ingestion. Without
  *    it (the side-table-free vector twins) an out-of-band `tombstones/`
  *    dir takes deletes ([[addTombstones]] / [[dropTombstoned]]) — a
  *    mask before ranking is exact there and never competes with the
  *    stream's batch sequence;
  *  - the staged [[compact]].
  *
  * Per-trigger cost is batch-bounded; the standing mass is the
  * append-only partitioned data dirs. */
private[graft] abstract class MaintainedIndex(root: Path, spark: SparkSession,
    idCol: String, streamDeletes: Boolean) {
  import MaintainedIndex.DataDir

  private val proj = new EosProjection(root.resolve("eos"))
  private def marker = root.resolve("_compact_staged")
  private def dir(d: DataDir) = root.resolve(d.name)

  def lastCommitted: Long = proj.lastCommitted

  /** Layout kind as [[graft.operators.Maintenance]] reports it. */
  private[graft] def kind: String

  /** The `batch=`-partitioned data dirs. */
  private[graft] def dataDirs: Seq[DataDir]

  /** Every dir whose files accumulate until [[compact]] folds them — the
    * data dirs plus an out-of-band tombstone dir (delete-only churn must
    * count toward Maintenance's file threshold). */
  private[graft] def layoutDirs: Seq[Path] =
    dataDirs.map(dir) ++ (if (streamDeletes) Nil else Seq(root.resolve("tombstones")))

  /** Where the tombstone set masking committed batch `last` lives. */
  private def tombstonesAt(last: Long): Path =
    if (streamDeletes) root.resolve(s"eos/batch-$last/tombstones")
    else root.resolve("tombstones")

  private def tombstones(last: Long): Option[DataFrame] = {
    val p = tombstonesAt(last)
    if (last < 0 || !Files.exists(p)) None
    else Some(spark.read.parquet(p.toString).select(col(idCol)))
  }

  private def mask(df: DataFrame, last: Long): DataFrame =
    tombstones(last).fold(df)(t => df.join(t, Seq(idCol), "left_anti"))

  /** A partitioned dir holds readable data only once some batch actually
    * wrote rows (a pure-del batch writes no parquet files — reading the
    * bare dir would fail schema inference). */
  private def hasData(p: Path): Boolean =
    Files.exists(p) && {
      val s = Files.list(p)
      try s.anyMatch(c => c.getFileName.toString.startsWith("batch="))
      finally s.close()
    }

  /** The rows of `d` readers may see as of committed batch `last`:
    * `batch <= last`, tombstone-masked, `batch` dropped. None before the
    * first commit or before any batch wrote rows to `d`. Fails loud
    * while a crashed compact is staged. */
  protected def committed(d: DataDir, last: Long = lastCommitted): Option[DataFrame] = {
    CompactSwap.requireQuiescent(marker)
    if (last < 0 || !hasData(dir(d))) None
    else Some(mask(spark.read.parquet(dir(d).toString)
      .filter(col("batch") <= last).drop("batch"), last))
  }

  /** The foreachBatch body every `update` runs in (attach via
    * `writeStream.foreachBatch(idx.update _)`): replays skip whole (G4)
    * and a staged compact fails the batch loud. `effects(df, id, stage)`
    * writes rows with [[writeBatch]] and stages its small artifacts
    * under `stage`. */
  protected def commitBatch(batch: DataFrame, batchId: Long)(
      effects: (DataFrame, Long, Path) => Unit): Unit =
    proj.foreachBatch { (df, id, stage) =>
      graft.GraftExtensions.register(spark)
      CompactSwap.requireQuiescent(marker)
      effects(df, id, stage)
    }(batch, batchId)

  /** Batch `id`'s rows into their own partitions of `d` (dynamic
    * partition overwrite — idempotent per batch id). */
  protected def writeBatch(rows: DataFrame, d: DataDir, id: Long): Unit =
    rows.withColumn("batch", lit(id))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(d.parts: _*).parquet(dir(d).toString)

  /** [[commitBatch]] for the `streamDeletes` twins: `batch` carries the
    * twin's rows plus optionally `op` ('add' | 'del'). A doc may not
    * appear as add and del in the SAME batch (fail-fast — intra-batch
    * ordering is undefined); already-deleted and never-indexed del ids
    * are no-ops. `effects(adds, dels, id, stage)` sees the adds and the
    * FRESH dels; the cumulative tombstone set (previous ∪ fresh) is then
    * staged, so a delete commits atomically with the batch marker. */
  protected def commitOps(batch: DataFrame, batchId: Long)(
      effects: (DataFrame, DataFrame, Long, Path) => Unit): Unit =
    commitBatch(batch, batchId) { (df, id, stage) =>
      val hasOp = df.columns.contains("op")
      val adds = if (hasOp) df.filter(col("op") === "add") else df
      val delsReq = if (hasOp) df.filter(col("op") === "del")
          .select(col(idCol)).distinct()
        else df.select(col(idCol)).limit(0)
      if (hasOp) {
        require(adds.join(delsReq, Seq(idCol), "left_semi").isEmpty,
          s"a $idCol appears as both add and del in one batch — " +
            "intra-batch ordering is undefined; split the request across batches")
        val badOp = df.filter(!col("op").isin("add", "del")).limit(1).collect()
        require(badOp.isEmpty, s"unknown op '${badOp.headOption.map(_.getAs[String]("op"))
          .getOrElse("")}' — ops are 'add' | 'del'")
      }
      val prevTombs = tombstones(lastCommitted)
      // fresh guard: already-tombstoned ids are no-ops (idempotent
      // re-request; the REPLAY case never reaches here — G4 skips it)
      val dels = prevTombs.fold(delsReq)(t => delsReq.join(t, Seq(idCol), "left_anti"))
        .cache()
      effects(adds, dels, id, stage)
      prevTombs.fold(dels)(t => t.unionByName(dels).distinct())
        .write.parquet(stage.resolve("tombstones").toString)
      dels.unpersist()
      ()
    }

  /** Out-of-band delete (twins without `streamDeletes`): `ids` is a
    * one-column `idCol` frame. Idempotent; never-indexed ids are no-ops. */
  protected def addTombstones(ids: DataFrame): Unit =
    ids.distinct().write.mode("append").parquet(root.resolve("tombstones").toString)

  /** Physically drop out-of-band tombstoned rows: a full masked rewrite
    * under the same partitioning — surviving rows keep their batch ids,
    * so the gate is untouched, and a partition whose every row was
    * tombstoned disappears entirely (dynamic per-partition overwrite
    * would leave such partitions' old files in place). EAGER
    * localCheckpoint pins the survivors before the overwrite (the
    * VectorIndex.vacuum discipline). */
  protected def dropTombstoned(): Unit = {
    val tomb = root.resolve("tombstones")
    if (!Files.exists(tomb)) return
    val t = spark.read.parquet(tomb.toString).select(col(idCol))
    for (d <- dataDirs; if hasData(dir(d)))
      spark.read.parquet(dir(d).toString).join(t, Seq(idCol), "left_anti")
        .localCheckpoint(true)
        .write.mode("overwrite").partitionBy(d.parts: _*).parquet(dir(d).toString)
    FileTree.delete(tomb)
  }

  /** Fold every committed batch partition (tombstone-masked) into a
    * single `batch=0` base — a continuous feed adds one partition per
    * micro-batch forever, and with no takedown ever filed nothing else
    * bounds the partition count a probe lists. `batch=0` is ≤ every
    * committed marker, so the folded base stays visible to the gated
    * readers; the EOS state is untouched, so the next micro-batch id
    * continues from the checkpoint and replays still skip whole (G4).
    * Applied tombstones drop with the fold (a re-requested delete of a
    * folded-away id tombstones an absent doc — a no-op, the
    * already-deleted contract). Probes identical before/after (each
    * twin's spec pins it through a crashed swap).
    *
    * Quiescent-stream contract: run between triggers (stop the query or
    * schedule in a maintenance window). The swap is the staged-marker
    * protocol ([[CompactSwap]]): a crash before the marker loses nothing;
    * after it, probes/updates fail loud until the next compact() rolls
    * the swap forward. */
  def compact(): Unit = {
    val last = lastCommitted
    val swaps = dataDirs.map(d => dir(d) -> root.resolve(s"${d.name}_compact"))
    val drops = Seq(tombstonesAt(last))
    CompactSwap.recover(marker, swaps, drops)
    if (last < 0 || !dataDirs.exists(d => hasData(dir(d)))) return
    // idempotent fast path — in particular the retry right after recover
    // rolled a crashed swap forward: already single-base with no
    // tombstone set left to apply means there is nothing to fold
    if (swaps.forall { case (live, _) => CompactSwap.batchIds(live) == Seq(0L) } &&
        !Files.exists(tombstonesAt(last))) return
    for ((d, (_, staged)) <- dataDirs.zip(swaps)) {
      FileTree.delete(staged)
      committed(d, last).foreach(rows => d.cluster(rows).withColumn("batch", lit(0L))
        .write.partitionBy(d.parts: _*).parquet(staged.toString))
    }
    CompactSwap.commit(marker, swaps, drops)
  }
}

private[graft] object MaintainedIndex {
  /** One data dir: its name under the root, its partition columns
    * (`batch` first), and how [[MaintainedIndex.compact]] clusters the
    * folded rows. */
  final case class DataDir(name: String, parts: Seq[String],
      cluster: DataFrame => DataFrame = identity)

  /** Open a maintained-index root by its layout (quantizers before
    * vectors — the IVF twin has both), so a registry needs one path per
    * index, not its kind. None for a root whose first batch has not
    * landed yet. */
  def open(root: Path, spark: SparkSession, buckets: Int = 32): Option[MaintainedIndex] = {
    def has(rel: String) = Files.exists(root.resolve(rel))
    if (!has("eos")) None
    else if (has("pairs")) Some(new MaintainedShingleIndex(root, spark))
    else if (has("occ")) Some(new MaintainedOverlapIndex(root, spark))
    else if (has("postings")) Some(new MaintainedBm25Index(root, spark, buckets))
    else if (has("quantizers")) Some(new MaintainedIntIvfIndex(root, spark))
    else if (has("vectors")) Some(new MaintainedVectorIndex(root, spark))
    else None
  }
}
