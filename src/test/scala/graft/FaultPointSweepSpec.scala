package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Event
import graft.operators.{Bm25Index, CatalogCommit, CurationJob, DailyIncrement,
  DsirModel, OverlapIndex, PackedExport, ShingleIndex}
import graft.queries.CorpusQueries
import graft.sources.KafkaShapedLog
import graft.store.EventLog
import graft.streaming.MaintainedOverlapIndex
import graft.util.FaultPoints

/** The crash sweep over every registered [[FaultPoints]] name. Each
  * point's scenario runs three ways on fresh fixtures: crash-free; with
  * the point armed, where the call must die AT that point and (unless the
  * scenario says otherwise) leave the visible state exactly as before the
  * call; and after recovery — a plain retry unless the protocol has a
  * recover step — of the crashed fixture, whose result must equal the
  * crash-free one. A registered point without a scenario fails the
  * coverage test, so a new commit seam cannot land untested.
  *
  * The DailyIncrement step points share one chained scenario: one staged
  * increment crashes after each step in turn, recovering between, and the
  * final tree must equal a crash-free increment's — one fixture costs a
  * full day-0 curation, so thirteen would not fit the default run.
  */
class FaultPointSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One fresh fixture of a scenario: `op` crosses the point, `observe`
    * is the visible result (comparable with ==). */
  private abstract class Trial {
    def op(): Unit
    def observe(): Any
    def recover(): Unit = op()
    /** The state a crash leaves: by default nothing was published. */
    def checkCrashed(pre: Any): Unit =
      assert(observe() == pre, "a crashed commit published part of its work")
    def tables: Seq[String] = Nil
  }

  /** Rows as comparable values (binary columns by content). */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    })

  private def ev(i: Int): Event =
    Event(s"key-$i".getBytes(UTF_8), s"payload-$i".getBytes(UTF_8),
      Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i), Map.empty)

  // ---- text fixture: day-0 docs 1..24; the appended batch 101..112
  // (fresh texts); probe docs 201..206 edit one word of 101..106 and
  // 207..209 one word of day-0 docs 1..3, so a probe sees the append

  private def words(seed: Int): Array[String] = {
    val r = new scala.util.Random(seed)
    Array.fill(40)(s"w${r.nextInt(400)}")
  }
  private def edited(seed: Int, tag: String): String = {
    val w = words(seed); w(20) = tag; w.mkString(" ")
  }
  private def docs(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, words(i).mkString(" "))).toDF("doc_id", "text")
  }
  private def day0 = docs(1 to 24)
  private def batch = docs(101 to 112)
  private def probeDocs: DataFrame = {
    import spark.implicits._
    ((1 to 6).map(i => (200L + i, edited(100 + i, s"p$i"))) ++
      (1 to 3).map(i => (206L + i, edited(i, s"q$i")))).toDF("doc_id", "text")
  }

  private def catalogTrial(point: String, tag: String): Trial = new Trial {
    private val name = s"graft_fps_${point.takeWhile(_ != '-')}_$tag"
    override def tables = Seq(name, s"${name}_counts")
    point match {
      case FaultPoints.ShingleAppend => ShingleIndex.materialize(day0, name)
      case FaultPoints.OverlapAppend => OverlapIndex.materialize(day0, name)
    }
    def op(): Unit = point match {
      case FaultPoints.ShingleAppend => ShingleIndex.append(batch, name)
      case FaultPoints.OverlapAppend => OverlapIndex.append(batch, name)
    }
    def observe(): Any = point match {
      case FaultPoints.ShingleAppend =>
        rows(ShingleIndex.probe(spark, name, probeDocs, 0.6)).toSet
      case FaultPoints.OverlapAppend =>
        rows(OverlapIndex.runsProbe(spark, name, probeDocs,
          CorpusQueries.MinRunTokens)).toSet
    }
  }

  private def bm25Trial(tag: String): Trial = new Trial {
    private val path = Files.createTempDirectory(s"graft-fps-bm25-$tag").toString
    Bm25Index.build(day0, path)
    def op(): Unit = Bm25Index.append(batch, path)
    def observe(): Any = {
      import spark.implicits._
      val q = Seq((1L, "w7"), (1L, "w13"), (2L, "w101"), (2L, "w250"))
        .toDF("query_id", "term")
      rows(Bm25Index.probe(spark, path, q)).toSet
    }
  }

  private def eventLogTrial(compact: Boolean): Trial = new Trial {
    private val log = EventLog(Files.createTempDirectory("graft-fps-log-").toString, spark)
    (1 to 6).grouped(2).foreach(g => log.saveAll("fp_events", g.map(ev)))
    def op(): Unit =
      if (compact) log.compact("fp_events", targetFiles = 1)
      else { log.saveAll("fp_events", (7 to 9).map(ev)); () }
    def observe(): Any = (
      rows(log.read("fp_events").orderBy("id")
        .select("id", "lsn", "key", "data", "timestamp")),
      log.segmentFileCount("fp_events"), log.currentCursor("fp_events"))
  }

  private def kafkaLogTrial(compact: Boolean): Trial = new Trial {
    private val sink = KafkaShapedLog(
      Files.createTempDirectory("graft-fps-sink-").toString, spark)
    Seq(1 to 3, 4 to 6).foreach(r => sink.publishEvents("fp", r.map(ev)))
    def op(): Unit =
      if (compact) sink.compact(targetFiles = 1)
      else { sink.publishEvents("fp", (7 to 9).map(ev)); () }
    def observe(): Any = (
      rows(sink.read("fp").orderBy("partition", "offset")
        .select("partition", "offset", "key", "value", "timestamp")),
      sink.manifest().files.size, sink.cursorFor("_publish.fp"),
      sink.nextOffset("fp", 0))
  }

  /** A maintained twin's staged compact — the [[FaultPoints.CompactSwap]]
    * point is shared by all five twins and Maintenance's flat folds. */
  private def compactSwapTrial(): Trial = new Trial {
    import spark.implicits._
    private val root = Files.createTempDirectory("graft-fps-ovm-")
    private val idx = new MaintainedOverlapIndex(root, spark)
    idx.update(day0.withColumn("op", lit("add")), 0L)
    idx.update(batch.withColumn("op", lit("add"))
      .unionByName(Seq((1L, "", "del")).toDF("doc_id", "text", "op")), 1L)
    def op(): Unit = idx.compact()
    private def batchParts: Seq[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(root.resolve("occ"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq.sorted
      finally s.close()
    }
    def observe(): Any = (rows(idx.runsProbe(probeDocs,
      CorpusQueries.MinRunTokens)).toSet, batchParts)
    // mid-swap the layout fails loud until compact() rolls it forward
    override def checkCrashed(pre: Any): Unit = {
      intercept[IllegalArgumentException](observe())
      ()
    }
  }

  private val scenarios: Map[String, String => Trial] = Map(
    FaultPoints.CompactSwap -> (_ => compactSwapTrial()),
    FaultPoints.ShingleAppend -> (catalogTrial(FaultPoints.ShingleAppend, _)),
    FaultPoints.OverlapAppend -> (catalogTrial(FaultPoints.OverlapAppend, _)),
    FaultPoints.Bm25Append -> (bm25Trial(_)),
    FaultPoints.EventLogAppend -> (_ => eventLogTrial(compact = false)),
    FaultPoints.EventLogCompact -> (_ => eventLogTrial(compact = true)),
    FaultPoints.KafkaLogAppend -> (_ => kafkaLogTrial(compact = false)),
    FaultPoints.KafkaLogCompact -> (_ => kafkaLogTrial(compact = true)))

  private val incrementPoints = FaultPoints.IncrementSteps.map(FaultPoints.incrementStep)

  test("every registered fault point has a crash scenario") {
    println(FaultPoints.names.mkString("fault points: ", ", ", ""))
    val missing = FaultPoints.names.toSet -- scenarios.keySet -- incrementPoints
    assert(missing.isEmpty, s"fault points without a sweep scenario: $missing")
  }

  for (point <- FaultPoints.names.filter(scenarios.contains))
    test(s"crash at '$point' then recovery == the crash-free run") {
      GraftExtensions.register(spark)
      val clean = scenarios(point)("clean")
      val crashed = scenarios(point)("crash")
      try {
        clean.op()
        val want = clean.observe()
        val pre = crashed.observe()
        assert(pre != want, "vacuous: the operation changes nothing visible")
        val e = intercept[FaultPoints.InjectedCrash](
          FaultPoints.armed(point)(crashed.op()))
        assert(e.point == point)
        crashed.checkCrashed(pre)
        crashed.recover()
        assert(crashed.observe() == want,
          s"recovery after a crash at '$point' diverged from the crash-free run")
      } finally {
        (clean.tables ++ crashed.tables).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        spark.catalog.clearCache()
      }
    }

  test("crash after each DailyIncrement step in turn, recovering between, lands the crash-free tree") {
    import spark.implicits._
    GraftExtensions.register(spark)
    // the DailyIncrementSpec full-stack geometry: every optional stage
    // on, so every apply step runs
    def uniq(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    def withTail(p: String, tail: Seq[String]) =
      ((1 to 23).map(i => s"$p$i") ++ tail).mkString(" ")
    val e = (1 to 30).map(i => s"e$i")
    val spanS = (1 to 7).map(i => s"s$i")
    val synth = Files.createTempDirectory("graft-fps-sf-").toString
    Seq((34L, uniq("e")),
      (10L, withTail("a", spanS)), (11L, withTail("v", e.slice(4, 11))),
      (12L, withTail("b", spanS)),
      (100L, withTail("x", spanS)),
      (101L, ((1 to 23).map(i => s"a$i") ++ spanS.init :+ "z9").mkString(" ")),
      (103L, withTail("m", e.slice(11, 18))), (104L, uniq("q")))
      .map { case (id, tx) => (id, tx, "en", "webA", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$synth/documents.parquet")
    Seq((10L, Array.fill(64)(0.1f), 0), (100L, Array.fill(64)(0.2f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$synth/embeddings.parquet")
    def idx(tree: String) = Seq("nd", "ov", "be", "sp").map(k => s"graft_fps_${k}_$tree")
    def day0(dir: String, tree: String) = {
      val Seq(nd, ov, be, sp) = idx(tree)
      CurationJob.run(spark, synth, dir, docFilter = col("doc_id") < 100,
        nearDupIndex = Some(nd), overlapIndex = Some(ov),
        benchIndex = Some(be), spanIndex = Some(sp))
    }
    val cleanDir = Files.createTempDirectory("graft-fps-inc-clean-").toString
    val crashDir = Files.createTempDirectory("graft-fps-inc-crash-").toString
    val tables = Seq("clean", "crash").flatMap(idx)
      .flatMap(t => Seq(t, s"${t}_counts", s"${t}_tombstones"))
    try {
      day0(cleanDir, "clean")
      day0(crashDir, "crash")
      val Seq(nd, ov, be, sp) = idx("clean")
      DailyIncrement.run(spark, synth, cleanDir, batchFilter = col("doc_id") >= 100,
        nearDupIndex = Some(nd), overlapIndex = Some(ov),
        benchIndex = Some(be), spanIndex = Some(sp))
      val Seq(cnd, cov, cbe, csp) = idx("crash")
      DailyIncrement.stage(spark,
        spark.read.parquet(s"$synth/documents.parquet").filter($"doc_id" >= 100)
          .select($"doc_id", $"text", $"lang"),
        spark.read.parquet(s"$synth/embeddings.parquet").select($"vec_id", $"embedding"),
        crashDir, graft.functions.Tokenizer.Whitespace,
        nearDupIndex = Some(cnd), overlapIndex = Some(cov),
        benchIndex = Some(cbe), spanIndex = Some(csp))
      for (point <- incrementPoints) {
        val boom = intercept[FaultPoints.InjectedCrash](
          FaultPoints.armed(point)(DailyIncrement.recover(spark, crashDir)))
        assert(boom.point == point, s"armed $point, crashed at ${boom.point}")
      }
      DailyIncrement.recover(spark, crashDir)
      assert(!Files.exists(Path.of(crashDir, "_increment_pending")), "staging not cleared")

      def files(d: String, sub: String, cols: String*) =
        rows(spark.read.parquet(s"$d/$sub").select(cols.map(col): _*)).toSet
      def tree(d: String, t: String) = {
        val Seq(tnd, tov, tbe, tsp) = idx(t)
        val q = Seq((1L, "x3"), (1L, "s2"), (2L, "q5"), (2L, "a1")).toDF("query_id", "term")
        def table(n: String) = rows(CatalogCommit.committed(spark, n, n)).toSet
        Seq(
          "curated" -> files(d, "curated", "doc_id", "n_tokens", "digest", "added_batch"),
          "evalh" -> files(d, "evalh", "doc_id", "h", "added_batch"),
          "shards" -> files(d, "shards", "doc_id", "n_tokens", "shard", "shard_offset"),
          "packbase" -> PackedExport.readBase(spark, s"$d/packbase"),
          "batchctr" -> PackedExport.readBase(spark, s"$d/batchctr"),
          "bm25" -> rows(Bm25Index.probe(spark, s"$d/bm25", q)).toSet,
          "vectors" -> files(d, "vectors", "vec_id"),
          "dsir" -> rows(DsirModel.load(spark, s"$d/dsir")).toSet,
          "tokvocab" -> files(d, "tokenizer_vocab", "piece", "cnt"),
          "shingleidx" -> (table(tnd), table(s"${tnd}_counts")),
          "overlapidx" -> table(tov),
          "benchidx" -> table(tbe),
          "spanidx" -> (table(tsp), table(s"${tsp}_counts")))
      }
      val want = tree(cleanDir, "clean")
      val got = tree(crashDir, "crash")
      for (((k, w), (_, g)) <- want.zip(got))
        assert(g == w, s"$k diverged after the chained crashes")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }
}
