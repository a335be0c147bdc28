package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.SchemaCatalog
import graft.operators.{Bm25Index, BpeTrainer, CurationJob, DailyIncrement, DsirModel,
  Maintenance, OverlapIndex, ShingleIndex, Takedown, VectorIndex}

/** `curation_days`: day 0 through `CurationJob.run` with the near-dup,
  * overlap, benchmark and span standing indexes on, then daily increments
  * each followed by a takedown request, then `Maintenance.auto`. Day 0
  * trains a two-merge tokenizer rather than the default eight: every merge
  * is a round of Spark jobs, and the run must stay short. */
object CurationDays extends Workload {
  type In = Input
  val Day0Docs = 1500
  val DayDocs = 300
  val TakedownDocs = 3

  // The corpus generator is fitted to the engine's sf0.1 `documents` and
  // `embeddings` tables (5,000 documents, 2,000 embeddings), measured once:
  // 30 words, each equally frequent; 10-99 words per document, uniform;
  // 250 near duplicates (an earlier document with the word "dup" inserted
  // at a random position) and 8 verbatim copies of an earlier document;
  // source `src<doc_id mod 20>`; embeddings for the first 40 % of doc ids,
  // 64 dimensions, Gaussian scaled to unit norm, labels uniform over 10.
  val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(' ')
  val LangPct = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)
  val NearDupOneIn = 20
  val ExactDupOneIn = 625
  val Sources = 20
  val VecShare = 0.4
  val Dim = 64
  val Labels = 10

  /** Days after day 0: one per 30 seconds of run time, at least one. */
  def days(ctx: Ctx): Int = math.max(1, ctx.seconds / 30)

  final class Input(val sfDir: String, val docs: Long, val vecs: Long, val textBytes: Long,
      val sample: Seq[(Long, String, String)])

  private def lang(rng: SplittableRandom): String = {
    var r = rng.nextInt(100)
    LangPct.find { case (_, pct) => r -= pct; r < 0 }.get._1
  }

  /** A standard normal draw (Box-Muller). */
  private def gaussian(rng: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - rng.nextDouble())) * math.cos(2 * math.Pi * rng.nextDouble())

  /** An sfDir-shaped corpus (`documents`, `embeddings`) drawn from the seed
    * with the sf0.1 statistics above. */
  def setup(ctx: Ctx, tag: String): Input = {
    val spark = ctx.spark
    val n = Day0Docs + days(ctx) * DayDocs
    val rng = new SplittableRandom(ctx.seed)
    val texts = new Array[String](n)
    val docs = (0 until n).map { i =>
      val text =
        if (i > 10 && rng.nextInt(ExactDupOneIn) == 0) texts(rng.nextInt(i))
        else if (i > 10 && rng.nextInt(NearDupOneIn) == 0) {
          val w = texts(rng.nextInt(i)).split(' ')
          val at = rng.nextInt(w.length + 1)
          (w.take(at) ++ Seq("dup") ++ w.drop(at)).mkString(" ")
        } else Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, lang(rng), s"src${i % Sources}", text.length.toLong)
    }
    val nVecs = (n * VecShare).toInt
    val vecs = (0 until nVecs).map { i =>
      val g = Array.fill(Dim)(gaussian(rng))
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, rng.nextInt(Labels))
    }
    val dir = ctx.dir(s"sf-$tag")
    spark.createDataFrame(docs.asJava, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    spark.createDataFrame(vecs.asJava, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType))))
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    new Input(dir.toString, n, nVecs, texts.map(_.getBytes(UTF_8).length.toLong).sum,
      docs.map(r => (r.getLong(0), r.getString(1), r.getString(2))))
  }

  def run(ctx: Ctx, in: Input): WorkloadResult = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ctx.dir("curation").toString
    val tag = s"gb${math.abs(ctx.seed)}_${ProcessHandle.current().pid()}"
    val nd = Some(s"${tag}_nd"); val ov = Some(s"${tag}_ov")
    val be = Some(s"${tag}_be"); val sp = Some(s"${tag}_sp")
    val docs = graft.Tables.load(spark, in.sfDir, "documents")
    val rng = new SplittableRandom(ctx.seed ^ 0x5eedL)
    val k = days(ctx)

    val day0 = ctx.timed("operators.curation_job")(CurationJob.run(spark, in.sfDir, out,
      docFilter = col("doc_id") < Day0Docs, tokenizerMerges = 2, nearDupIndex = nd, overlapIndex = ov,
      benchIndex = be, spanIndex = sp))
    val removed = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to k).foreach { d =>
      val lo = Day0Docs + (d - 1) * DayDocs
      ctx.timed("operators.daily_increment")(DailyIncrement.run(spark, in.sfDir, out,
        batchFilter = col("doc_id") >= lo && col("doc_id") < lo + DayDocs,
        nearDupIndex = nd, overlapIndex = ov, benchIndex = be, spanIndex = sp))
      // the request names kept documents with embeddings, so every leg of
      // the takedown acts (chosen outside the timed call)
      val kept = keptWithVectors(ctx, out, in)
      val ids = (0 until TakedownDocs).map(_ => kept(rng.nextInt(kept.length))).distinct
      removed ++= ids
      val idDf = ids.toDF("doc_id")
      val payload = docs.join(idDf, "doc_id").select($"doc_id", $"text", $"lang")
      val (model, vocab) = (pin(DsirModel.load(spark, s"$out/dsir")),
        pin(spark.read.parquet(s"$out/tokenizer_vocab")))
      ctx.timed("operators.takedown")(Takedown.run(spark, out, idDf, payload,
        col("lang") === "en"))
      checkSubtracted(ctx, out, model, vocab, payload)
    }
    val compacted = ctx.timed("operators.maintenance")(Maintenance.auto(spark, out,
      maxBatchParts = 2L, maxFiles = 64L))

    verify(ctx, out, in, nd.get, sp.get, ov.get, removed.distinct.toSeq)
    val keptDocs = Takedown.manifest(spark, out).count()
    val s = ctx.samples
    val dailyMs = s.get("operators.daily_increment").map(_ * 1e3)
    val buildS = s.sum("operators.curation_job") + s.sum("operators.daily_increment")
    val storedBytes = Files2.du(java.nio.file.Paths.get(out)) +
      Files2.du(ctx.work.resolve("warehouse"))
    WorkloadResult(
      units = k + 1, failedUnits = 0,
      endToEnd = Seq(
        "freshness_p50_ms" -> Stats.quantile(dailyMs, 0.5),
        "freshness_p90_ms" -> Stats.quantile(dailyMs, 0.9),
        "delivered_per_s" -> in.docs / buildS,
        "stored_bytes_per_user_byte" -> storedBytes.toDouble / in.textBytes),
      layer = Seq(
        "operators.curation_job_s" -> s.sum("operators.curation_job"),
        "operators.daily_increment_s.p50" -> s.p50("operators.daily_increment"),
        "operators.takedown_s.p50" -> s.p50("operators.takedown"),
        "operators.maintenance_s" -> s.sum("operators.maintenance"),
        "operators.docs_kept_ratio" -> keptDocs.toDouble / in.docs),
      probe = () => LayerProbe.run(ctx, in.sample.map { case (id, text, lang) =>
        val r = new GenericData.Record(DocSchema)
        r.put("doc_id", id); r.put("text", text); r.put("lang", lang)
        (id.toString.getBytes(UTF_8), r: GenericRecord, Map("lang" -> lang.getBytes(UTF_8)))
      }, SchemaCatalog(2 -> DocSchema), 2),
      extra = Seq("docs" -> in.docs, "day0_docs" -> Day0Docs, "day_docs" -> DayDocs,
        "days" -> k, "day0_kept" -> day0.nDocsKept, "kept_end" -> keptDocs,
        "taken_down" -> removed.distinct.size, "compacted_artifacts" -> compacted.size))
  }

  private val DocSchema: Schema = new Schema.Parser().parse(
    """{"type": "record", "name": "Doc", "namespace": "graftbench", "fields": [
      |  {"name": "doc_id", "type": "long"}, {"name": "text", "type": "string"},
      |  {"name": "lang", "type": "string"}]}""".stripMargin)

  /** Ids of kept documents that have an embedding, sorted. */
  private def keptWithVectors(ctx: Ctx, out: String, in: Input): Array[Long] = {
    val spark = ctx.spark
    import spark.implicits._
    Takedown.manifest(spark, out).filter($"doc_id" < in.vecs).select($"doc_id").as[Long]
      .collect().sorted
  }

  private def pin(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The count-shaped artifacts a takedown rewrites, the selection model
    * and the tokenizer vocabulary, hold the counts they held before it
    * minus those of the request's documents. (Both were fitted on the
    * scrubbed text of the kept documents, which no artifact keeps, so a
    * refit over the kept documents' raw text is no reference for them.) */
  private def checkSubtracted(ctx: Ctx, out: String, model: DataFrame, vocab: DataFrame,
      payload: DataFrame): Unit = {
    val spark = ctx.spark
    // both artifacts are vocabulary-sized: compare them on the driver
    def same(what: String, stored: DataFrame, expected: DataFrame): Unit = {
      val rows = (df: DataFrame) => df.select(stored.columns.map(col): _*).collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      ctx.check(s"takedown documents subtracted from the $what", rows(stored) == rows(expected))
    }
    same("selection model", DsirModel.load(spark, s"$out/dsir"),
      DsirModel.remove(model, payload, col("lang") === "en"))
    val delta = BpeTrainer.vocabulary(payload.select(col("doc_id"), col("text")),
        BpeTrainer.load(spark, s"$out/tokenizer"))
      .select(col("piece"), col("cnt").as("dcnt"))
    same("tokenizer vocabulary", spark.read.parquet(s"$out/tokenizer_vocab"),
      vocab.join(delta, Seq("piece"), "left")
        .select(col("piece"), (col("cnt") - coalesce(col("dcnt"), lit(0L))).as("cnt"))
        .filter(col("cnt") > 0))
  }

  /** Doc ids of the probe batches start here, above every corpus id. */
  private val ProbeBase = 1L << 40

  /** Taken-down documents are absent from every doc-keyed artifact
    * `Takedown.run` rewrites, after maintenance. The standing near-dup,
    * span and overlap indexes are probed with the removed documents' raw
    * texts (the overlap index down to a single shared trigram, as it holds
    * scrubbed text), the BM25 index with every vocabulary term and the
    * vector index with their own embeddings; no removed id may come back.
    * The three kept documents with embeddings and the most tokens go into
    * the same probes and must find themselves, so a probe that finds
    * nothing fails. The manifest and the shards agree on documents and
    * tokens. */
  private def verify(ctx: Ctx, out: String, in: Input, nearDup: String, span: String,
      overlap: String, removed: Seq[Long]): Unit = {
    val spark: SparkSession = ctx.spark
    import spark.implicits._
    val docs = graft.Tables.load(spark, in.sfDir, "documents")
    val controls = Takedown.manifest(spark, out).filter($"doc_id" < in.vecs)
      .orderBy($"n_tokens".desc, $"doc_id").select($"doc_id").as[Long].take(3).toSeq
    val probed = removed ++ controls
    val batch = docs.filter($"doc_id".isin(probed: _*))
      .select(($"doc_id" + ProbeBase).as("doc_id"), $"text")
    /** Checks (probe id, corpus id) hits of one probe. */
    def probeCheck(what: String, hits: Seq[(Long, Long)]): Unit = {
      val leaked = hits.filter(h => removed.contains(h._2))
      ctx.check(s"takedown ids absent from the $what", leaked.isEmpty, s"leaked $leaked")
      val missed = controls.filterNot(c => hits.contains((c, c)))
      ctx.check(s"kept documents found in the $what", missed.isEmpty, s"missed $missed")
    }
    def pairs(name: String) = ShingleIndex.probe(spark, name, batch, 0.9)
      .filter($"doc_a" < ProbeBase && $"doc_b" >= ProbeBase)
      .select($"doc_b" - ProbeBase, $"doc_a").as[(Long, Long)].collect().toSeq
    probeCheck("near-dup index", pairs(nearDup))
    probeCheck("span index", pairs(span))
    probeCheck("overlap index", OverlapIndex.runsProbe(spark, overlap, batch, 3L)
      .select($"e_doc" - ProbeBase, $"t_doc").as[(Long, Long)].collect().toSeq)
    val bm25 = Bm25Index.probe(spark, s"$out/bm25",
        Vocab.toSeq.map(t => (0L, t)).toDF("query_id", "term"))
      .select($"doc_id").as[Long].collect().toSeq
    probeCheck("bm25 index", probed.filter(bm25.contains).map(d => (d, d)))
    val queries = graft.Tables.load(spark, in.sfDir, "embeddings")
      .filter($"vec_id".isin(probed: _*)).select($"vec_id".as("query_id"), $"embedding")
    probeCheck("vector index", VectorIndex.probe(spark, s"$out/vectors", queries, 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSeq)

    val m = Takedown.manifest(spark, out)
      .agg(count(lit(1)), coalesce(sum("n_tokens"), lit(0L))).head()
    val sh = Takedown.shards(spark, out)
      .agg(countDistinct(col("doc_id")), coalesce(sum("n_tokens"), lit(0L))).head()
    ctx.check("manifest and shards agree", m.getLong(0) == sh.getLong(0) &&
      m.getLong(1) == sh.getLong(1) && m.getLong(0) > 0, s"manifest $m shards $sh")
  }
}
