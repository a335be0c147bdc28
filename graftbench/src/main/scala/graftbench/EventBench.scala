package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.{ConfluentAvro, MetadataCodec, SchemaCatalog}
import graft.crypto.{EventEncryptor, InMemoryKms}
import graft.functions.EventFunctions
import graft.replicate.Replicator
import graft.sources.{KafkaShapedConsumer, KafkaShapedLog}
import graft.store.{EventLog, TopicOffsets}
import graft.streaming.{EosProjection, GraftMetrics}

/** The logical event the generators emit and the checks verify. */
final case class Activity(seq: Long, user: Long, kind: String, amountCents: Long,
    note: String, encryptUnder: Option[String]) {
  def key: Array[Byte] = user.toString.getBytes(UTF_8)
  def timestamp: Instant = Instant.ofEpochMilli(Activity.EpochMs + seq)
  def metadata: Map[String, Array[Byte]] =
    Map("src" -> Activity.Sources((seq % 3).toInt).getBytes(UTF_8))
}

object Activity {
  val EpochMs = 1704067200000L
  val Kinds = Array("view", "click", "buy", "refund")
  val Sources = Array("web", "app", "batch")
  val SchemaId = 1
  val KeyUris = (0 until 4).map(i => s"graftbench-kms://k$i")

  val schema: Schema = new Schema.Parser().parse(
    """{"type": "record", "name": "Activity", "namespace": "graftbench", "fields": [
      |  {"name": "seq", "type": "long"},
      |  {"name": "user", "type": "long"},
      |  {"name": "kind", "type": "string"},
      |  {"name": "amount_cents", "type": "long"},
      |  {"name": "note", "type": "string"}]}""".stripMargin)

  def catalog: SchemaCatalog = SchemaCatalog(SchemaId -> schema)

  def record(a: Activity): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("seq", a.seq); r.put("user", a.user); r.put("kind", a.kind)
    r.put("amount_cents", a.amountCents); r.put("note", a.note)
    r
  }

  /** Skewed users: a fifth of the events go to ten hot users. */
  def draw(rng: SplittableRandom, seq: Long, encryptUnder: Option[String]): Activity = {
    val user = if (rng.nextInt(5) == 0) rng.nextInt(10).toLong else rng.nextInt(10000).toLong
    val noteLen = 10 + rng.nextInt(50)
    val note = new String(Array.fill(noteLen)(('a' + rng.nextInt(26)).toChar))
    Activity(seq, user, Kinds(rng.nextInt(Kinds.length)), rng.nextLong(100000L), note,
      encryptUnder)
  }
}

/** Sums over a set of activities; the decoded sink must match them. */
final case class Checksum(n: Long, seq: Long, user: Long, amount: Long, noteLen: Long)

/** The event path as the benchmark drives it: a native log, a replicator
  * into a Kafka-shaped sink, and a consumer that decodes each delivered
  * batch through [[EventFunctions]] and commits it through an
  * [[EosProjection]]. Every call is timed under a span named after the
  * layer it enters. */
final class EventPath(ctx: Ctx, root: Path, replicateBatch: Int) {
  import EventPath._

  val spark = ctx.spark
  val encryptor = new EventEncryptor(new InMemoryKms)
  val catalog = Activity.catalog
  val log = new EventLog(root.resolve("log"), spark)
  val sink = new KafkaShapedLog(root.resolve("sink"), spark, numPartitions = SinkPartitions)
  val replicator = new Replicator(log, sink, batchSize = replicateBatch)
  val offsets = new TopicOffsets(Files.createDirectories(root.resolve("offsets")))
  val consumer = new KafkaShapedConsumer(sink, Topic, offsets)
  val projectionDir = root.resolve("projection")
  val projection = new EosProjection(projectionDir)
  val metrics = new GraftMetrics
  private var consumed = 0L
  private var pollNo = 0L

  graft.GraftExtensions.register(spark)
  metrics.registerReplicationLag(replicator, Topic)
  (0 until SinkPartitions).foreach(p =>
    metrics.registerConsumerLag(sink, Topic, p, () => offsets.offsetFor(Topic, p)))

  /** One columnar append of pre-encoded rows (key, data, metadata, timestamp). */
  def append(rows: DataFrame): Unit = {
    ctx.timed("store.append")(log.append(Topic, rows))
  }

  /** One `Replicator.run` drain; returns events sent. The traced run reads
    * the replication-lag gauge first: the backlog this drain picks up. */
  def replicate(): Long = {
    if (ctx.tracer.enabled) {
      ctx.samples.add("replicate.lag",
        ctx.span("replicate.lag")(metrics.value(s"event.replicator.lag.$Topic").getOrElse(0L))
          .toDouble)
    }
    val n = ctx.timed("replicate.run")(replicator.run(Topic))
    if (n > 0) ctx.samples.add("replicate.events_per_poll", n.toDouble)
    n
  }

  /** One consumer poll: the delivered batch is decoded and written in full
    * inside an exactly-once projection commit. Returns events delivered.
    * The traced run reads the consumer-lag gauges first: the backlog this
    * poll picks up. */
  def poll(): Long = {
    if (ctx.tracer.enabled) {
      val lag = ctx.span("sources.lag")((0 until SinkPartitions).map(p =>
        metrics.value(s"event.store.consumer.lag.$Topic.$p").getOrElse(0L)).sum)
      ctx.samples.add("sources.consumer_lag", lag.toDouble)
    }
    val n = ctx.timed("sources.poll")(consumer.poll { batch =>
      val id = pollNo
      pollNo += 1
      ctx.timed("streaming.projection_commit")(projection.foreachBatch { (df, _, stage) =>
        ctx.timed("functions.decode") {
          decode(df).write.parquet(stage.resolve("out").toString)
        }
      }(batch, id))
    })
    consumed += n
    n
  }

  def delivered: Long = consumed

  /** Decode a delivered sink batch into every output column. */
  def decode(df: DataFrame): DataFrame = {
    val hdr = col("headers")
    def header(k: String): Column =
      decode_utf8(element_at(filter(hdr, h => h.getField("key") === k), 1).getField("value"))
    val meta = map_from_entries(filter(hdr, h => !h.getField("key").isin("id", "lsn")))
    df.select(col("partition"), col("offset"),
        header("id").cast("long").as("id"), header("lsn").cast("long").as("lsn"),
        col("key"), col("timestamp"), meta.as("meta"), col("value"))
      .withColumn("plain", EventFunctions.decryptPayload(encryptor)(
        col("value"), col("key"), col("timestamp"), col("meta")))
      .select(col("partition"), col("offset"), col("id"), col("lsn"), col("key"),
        col("timestamp"), col("meta"),
        expr("graft_schema_id(plain)").as("schema_id"),
        EventFunctions.decodePayloadJson(catalog)(col("plain")).as("payload_json"))
  }

  private def decode_utf8(c: Column): Column = org.apache.spark.sql.functions.decode(c, "UTF-8")

  /** Log and sink maintenance once the path is quiescent (no grace: no
    * reader is left to hold a superseded file). */
  def maintain(): Unit = {
    ctx.timed("store.maintain")(log.maintain(Topic, maxSegments = 4, targetFiles = 4,
      graceMs = 0L))
    ctx.timed("sources.compact") {
      sink.compact(targetFiles = SinkPartitions)
      sink.vacuum(0L)
    }
  }

  def storedBytes: Long =
    Files2.du(root.resolve("log")) + Files2.du(root.resolve("sink"))

  /** Exactly-once, dense ordered offsets and payload checksum, read back
    * from every committed projection batch: one scan collects the narrow
    * columns, and the checks run on the driver. */
  def verify(expected: Checksum): Unit = {
    import spark.implicits._
    val batches = {
      val l = Files.list(projectionDir)
      try l.iterator().asScala.filter(_.getFileName.toString.startsWith("batch-"))
        .map(_.resolve("out").toString).toSeq
      finally l.close()
    }
    val out = spark.read.parquet(batches: _*)
    val json = (f: String) => get_json_object(col("payload_json"), s"$$.$f")
    val long = (c: Column) => coalesce(c.cast("long"), lit(-1L))
    val rows = out.select(long(col("partition")), long(col("offset")), long(col("lsn")),
        long(col("id")), long(json("seq")), long(json("user")), long(json("amount_cents")),
        long(length(json("note"))), long(col("schema_id")))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    val n = rows.length.toLong
    val ids = rows.iterator.map(_._4).toSet.size
    val seqs = rows.iterator.map(_._5).toSet.size
    ctx.check("delivered exactly once", n == expected.n && ids == n && seqs == n,
      s"rows=$n ids=$ids seqs=$seqs want=${expected.n}")
    val got = Checksum(n, rows.map(_._5).sum, rows.map(_._6).sum, rows.map(_._7).sum,
      rows.map(_._8).sum)
    ctx.check("payload checksum", n > 0 && rows.map(_._5).min == 0L && got == expected &&
      rows.forall(_._9 == Activity.SchemaId), s"got $got want $expected")
    val parts = rows.groupBy(_._1).values.map(_.sortBy(_._2)).toSeq
    ctx.check("offsets dense per partition", parts.nonEmpty && parts.forall(p =>
      p.indices.forall(i => p(i)._2 == i)), s"${parts.size} partitions")
    val inversions = parts.map(p => p.sliding(2).count {
      case Array(a, b) => b._3 < a._3 || (b._3 == a._3 && b._4 <= a._4)
      case _ => false
    }).sum
    ctx.check("per-partition order follows (lsn, id)", inversions == 0,
      s"$inversions inversions")
  }

  /** Layer metrics only the event path has. */
  def layerStats(events: Long): Seq[(String, Double)] = {
    val s = ctx.samples
    val polls = s.get("replicate.events_per_poll")
    Seq(
      "store.append_s.p50" -> s.p50("store.append"),
      "store.append_s.sum" -> s.sum("store.append"),
      "store.segment_files.end" -> log.segmentFileCount(Topic).toDouble,
      "store.maintain_s.sum" -> s.sum("store.maintain"),
      "store.bytes_per_event" -> Files2.du(root.resolve("log")).toDouble / math.max(events, 1L),
      "replicate.run_s.p50" -> s.p50("replicate.run"),
      "replicate.run_s.sum" -> s.sum("replicate.run"),
      "replicate.polls" -> polls.size.toDouble,
      "replicate.events_per_poll" -> (if (polls.isEmpty) 0.0 else polls.sum / polls.size),
      "replicate.lag.max" -> s.max("replicate.lag"),
      "sources.poll_s.p50" -> s.p50("sources.poll"),
      "sources.poll_s.sum" -> s.sum("sources.poll"),
      "sources.sink_files.end" -> sink.manifest().files.size.toDouble,
      "sources.compact_s.sum" -> s.sum("sources.compact"),
      "sources.consumer_lag.max" -> s.max("sources.consumer_lag"),
      "sources.bytes_per_event" -> Files2.du(root.resolve("sink")).toDouble / math.max(events, 1L),
      "functions.decode_s.sum" -> s.sum("functions.decode"),
      "streaming.projection_commit_s.sum" -> s.sum("streaming.projection_commit"))
  }
}

object EventPath {
  val Topic = "activity_events"
  val SinkPartitions = 4
}

/** Per-event timings of direct codec and crypto calls on a workload's own
  * records (traced run only). */
object LayerProbe {
  def run(ctx: Ctx, recs: Seq[(Array[Byte], GenericRecord, Map[String, Array[Byte]])],
      catalog: SchemaCatalog, schemaId: Int): Seq[(String, Double)] = {
    val enc = new EventEncryptor(new InMemoryKms)
    val uri = "graftbench-kms://probe"
    val ts = Activity.EpochMs
    def perEvent(name: String)(f: Int => Any): Double = {
      (0 until math.min(recs.size, 2000)).foreach(f) // warm the call path
      val t0 = System.nanoTime()
      ctx.span(name)(recs.indices.foreach(f))
      (System.nanoTime() - t0) / 1e3 / math.max(recs.size, 1)
    }
    val framed = recs.map(r => ConfluentAvro.serialize(schemaId, r._2)).toArray
    val sealedMeta = recs.map(r => enc.withKeyId(r._3, uri)).toArray
    val cipher = recs.indices.map(i =>
      enc.encrypt(framed(i), recs(i)._1, ts, recs(i)._3, uri)).toArray
    Seq(
      "codec.serialize_us" -> perEvent("codec.serialize")(i =>
        ConfluentAvro.serialize(schemaId, recs(i)._2)),
      "codec.deserialize_us" -> perEvent("codec.deserialize")(i =>
        ConfluentAvro.deserialize(framed(i), catalog)),
      "codec.metadata_us" -> perEvent("codec.metadata")(i =>
        MetadataCodec.decode(MetadataCodec.encode(recs(i)._3))),
      "crypto.encrypt_us" -> perEvent("crypto.encrypt")(i =>
        enc.encrypt(framed(i), recs(i)._1, ts, recs(i)._3, uri)),
      "crypto.decrypt_us" -> perEvent("crypto.decrypt")(i =>
        enc.decrypt(cipher(i), recs(i)._1, ts, sealedMeta(i))))
  }
}

/** `event_backfill`: a few large columnar appends, one large-batch
  * replicate drain, then a full decode of the sink, after a warm-up pass
  * over the first chunk on a throw-away store. */
object EventBackfill extends Workload {
  type In = Input
  val Chunks = 4
  val EventsPerSecond = 6000 // events = --seconds × this
  val WarmEvents = 20000
  val ReplicateBatch = 250000
  val EncryptedPct = 20

  final class Input(val dir: Path, val n: Long, val sum: Checksum, val userBytes: Long,
      val chunkSizes: Map[Int, Long], val sample: Seq[Activity])

  /** The event with sequence number `seq`, a pure function of the seed. */
  def event(seed: Long, seq: Long): Activity = {
    val rng = new SplittableRandom(seed * 1000003L + seq)
    val uri = if (rng.nextInt(100) < EncryptedPct)
      Some(Activity.KeyUris(rng.nextInt(Activity.KeyUris.size))) else None
    Activity.draw(rng, seq, uri)
  }

  /** Generates the events columnar, encodes (and for a seeded share
    * encrypts) them on executors, and writes the append-ready rows. */
  def setup(ctx: Ctx, tag: String): Input = {
    val spark = ctx.spark
    val n = ctx.seconds.toLong * EventsPerSecond
    val dir = ctx.work.resolve(s"backfill-input-$tag")
    val seed = ctx.seed
    val enc = new EventEncryptor(new InMemoryKms)
    val schema = StructType(Seq(
      StructField("chunk", IntegerType), StructField("key", BinaryType),
      StructField("data", BinaryType), StructField("metadata", BinaryType),
      StructField("timestamp", TimestampType), StructField("seq", LongType),
      StructField("user", LongType), StructField("amount", LongType),
      StructField("note_len", LongType), StructField("user_bytes", LongType)))
    val rows = spark.range(0, n, 1, ctx.nproc * 2).rdd.mapPartitions { it =>
      it.map { s =>
        val a = event(seed, s.longValue)
        val framed = ConfluentAvro.serialize(Activity.SchemaId, Activity.record(a))
        val meta = a.metadata
        val (data, storedMeta) = a.encryptUnder match {
          case None => (framed, meta)
          case Some(u) => (enc.encrypt(framed, a.key, a.timestamp.toEpochMilli, meta, u),
            enc.withKeyId(meta, u))
        }
        val metaBytes = MetadataCodec.encode(meta)
        Row((a.seq * Chunks / n).toInt, a.key, data, MetadataCodec.encode(storedMeta),
          java.sql.Timestamp.from(a.timestamp), a.seq, a.user, a.amountCents,
          a.note.length.toLong, (a.key.length + framed.length + metaBytes.length).toLong)
      }
    }
    spark.createDataFrame(rows, schema).write.partitionBy("chunk").parquet(dir.toString)
    val perChunk = spark.read.parquet(dir.toString).groupBy("chunk")
      .agg(count(lit(1)), sum("seq"), sum("user"), sum("amount"), sum("note_len"),
        sum("user_bytes")).collect()
    def total(i: Int): Long = perChunk.map(_.getLong(i)).sum
    new Input(dir, n, Checksum(total(1), total(2), total(3), total(4), total(5)), total(6),
      perChunk.map(r => r.getInt(0) -> r.getLong(1)).toMap,
      (0L until 20000L).map(event(seed, _)))
  }

  /** One pass over the first [[WarmEvents]] events on a throw-away store,
    * so class loading and code generation of every leg are not charged to
    * the measured pass. */
  override def warm(ctx: Ctx, in: Input): Unit = {
    val p = new EventPath(ctx, ctx.dir("warm"), ReplicateBatch)
    backfill(ctx, p, Seq(chunk(ctx, in, 0).limit(WarmEvents)))
    p.maintain()
  }

  override def discard(in: Input): Unit = Files2.delete(in.dir)

  private def chunk(ctx: Ctx, in: Input, i: Int): DataFrame =
    ctx.spark.read.parquet(in.dir.resolve(s"chunk=$i").toString)
      .select("key", "data", "metadata", "timestamp")

  /** Append the chunks, drain, decode; returns each chunk's append start
    * and the time the decoded sink was committed. */
  private def backfill(ctx: Ctx, path: EventPath,
      chunks: Seq[DataFrame]): (Seq[Double], Double) = {
    val starts = chunks.map { c =>
      val s = ctx.tracer.nowMs()
      path.append(c)
      s
    }
    path.replicate()
    path.poll()
    (starts, ctx.tracer.nowMs())
  }

  def run(ctx: Ctx, in: Input): WorkloadResult = {
    val path = new EventPath(ctx, ctx.dir("backfill"), ReplicateBatch)
    val (starts, tEnd) = backfill(ctx, path, (0 until Chunks).map(chunk(ctx, in, _)))
    path.maintain()
    path.verify(in.sum)
    val complete = path.delivered == in.n
    ctx.check("every event delivered", complete, s"${path.delivered} of ${in.n}")
    val fresh = starts.zipWithIndex.map { case (s, i) => (tEnd - s, in.chunkSizes(i).toDouble) }
    WorkloadResult(
      units = 1, failedUnits = if (complete) 0 else 1,
      endToEnd = Seq(
        "freshness_p50_ms" -> Stats.weighted(fresh, 0.5),
        "freshness_p90_ms" -> Stats.weighted(fresh, 0.9),
        "delivered_per_s" -> path.delivered / ((tEnd - starts.head) / 1e3),
        "stored_bytes_per_user_byte" -> path.storedBytes.toDouble / in.userBytes),
      layer = path.layerStats(in.n),
      probe = () => LayerProbe.run(ctx,
        in.sample.map(a => (a.key, Activity.record(a), a.metadata)),
        Activity.catalog, Activity.SchemaId),
      extra = Seq("events" -> in.n, "chunks" -> Chunks, "replicate_batch" -> ReplicateBatch))
  }
}
