package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingMaterialize
import graft.streaming.StreamingMaterialize.FeatureEvent

class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latestSnapshot: updates on newer events, ignores out-of-order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FeatureEvent]
    val query = StreamingMaterialize.latestSnapshot(input.toDS())
      .writeStream.format("memory").queryName("snap")
      .outputMode(OutputMode.Update()).start()

    input.addData(
      FeatureEvent("u1", "click", 1.0, ts("2024-01-01 10:00:00")),
      FeatureEvent("u1", "click", 2.0, ts("2024-01-01 11:00:00")))
    query.processAllAvailable()
    val afterB1 = spark.table("snap").orderBy("entity_id").collect()
    assert(afterB1.last.getAs[Double]("value") == 2.0)

    // batch 2: an OLD event must not regress the snapshot; a new one advances it
    input.addData(
      FeatureEvent("u1", "click", 9.0, ts("2024-01-01 09:00:00")), // late
      FeatureEvent("u2", "view", 5.0, ts("2024-01-01 12:00:00")))
    query.processAllAvailable()
    val rows = spark.table("snap").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, vs) => k -> vs.maxBy(_.getAs[Long]("update_count")) }
    assert(rows(("u1", "click")).getAs[Double]("value") == 2.0) // not 9.0
    assert(rows(("u1", "click")).getAs[Long]("update_count") == 3L)
    assert(rows(("u2", "view")).getAs[Double]("value") == 5.0)
    query.stop()
  }

  test("windowedAggs: watermark drops too-late data, windows aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FeatureEvent]
    val query = StreamingMaterialize
      .windowedAggs(input.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("winagg")
      .outputMode(OutputMode.Update()).start()

    input.addData(
      FeatureEvent("u1", "click", 1.0, ts("2024-01-01 10:05:00")),
      FeatureEvent("u1", "click", 2.5, ts("2024-01-01 10:20:00")))
    query.processAllAvailable()
    input.addData( // advance watermark far ahead
      FeatureEvent("u1", "click", 1.0, ts("2024-01-01 13:00:00")))
    query.processAllAvailable()
    input.addData( // way too late: before watermark → dropped
      FeatureEvent("u1", "click", 100.0, ts("2024-01-01 10:30:00")))
    query.processAllAvailable()

    val w10 = spark.table("winagg").collect()
      .filter(_.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start") == ts("2024-01-01 10:00:00"))
      .maxBy(_.getAs[Long]("n"))
    assert(w10.getAs[Long]("n") == 2L)      // late 100.0 not counted
    assert(w10.getAs[Double]("total") == 3.5)
    query.stop()
  }

  test("streaming dedup: first arrival wins, across and within batches") {
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = StreamingDedup.firstArrivals(input.toDS())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      Doc(3L, "Hello  World"), Doc(1L, " hello world "), // dup pair in batch
      Doc(2L, "something else"))
    query.processAllAvailable()
    input.addData(
      Doc(4L, "HELLO WORLD"),   // dup of batch-1 content → dropped
      Doc(5L, "genuinely new"))
    query.processAllAvailable()

    val ids = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 5L)) // min doc_id of the dup pair kept
    query.stop()
  }

  test("streaming sessionize: gap closes a session via event-time timeout") {
    import graft.streaming.StreamingSessionize
    import graft.streaming.StreamingSessionize.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val query = StreamingSessionize.sessions(input.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      SessionEvent(7L, ts("2024-01-01 00:00:00"), 1.0),
      SessionEvent(7L, ts("2024-01-01 00:00:30"), 2.0))
    query.processAllAvailable()
    // event 2 minutes later: past the 60s gap → closes session inline
    input.addData(SessionEvent(7L, ts("2024-01-01 00:02:30"), 4.0))
    query.processAllAvailable()
    val closed = spark.table("sess").collect()
    assert(closed.length == 1)
    assert(closed.head.getAs[Long]("n_events") == 2L)
    assert(closed.head.getAs[Double]("session_value") == 3.0)

    // advance the watermark far ahead → the open session times out
    input.addData(SessionEvent(99L, ts("2024-01-01 01:00:00"), 0.5))
    query.processAllAvailable()
    input.addData(SessionEvent(99L, ts("2024-01-01 02:00:00"), 0.5))
    query.processAllAvailable()
    val after = spark.table("sess").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
    assert(after.length == 2, s"timeout should close user 7's last session")
    assert(after.map(_.getAs[Double]("session_value")).toSet == Set(3.0, 4.0))
    query.stop()
  }

  test("stream-static enrichment joins live events to materialized vectors") {
    import graft.streaming.StreamingEnrich
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val vectors = Seq(("7", 1.5, 0.0), ("8", 2.5, 1.0))
      .toDF("entity_id", "f_click", "f_view")
    case class Ev(entity_id: String, value: Double)
    val input = MemoryStream[(String, Double)]
    val query = StreamingEnrich.enrich(
      input.toDF().toDF("entity_id", "value"), vectors)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()

    input.addData(("7", 10.0), ("99", 20.0)) // 99 has no vector
    query.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => r.getAs[String]("entity_id") -> Option(r.get(2))).toMap
    assert(rows("7").contains(1.5))
    assert(rows("99").isEmpty) // kept, null features
    query.stop()
  }

  test("mergeSnapshot: idempotent incremental refresh") {
    import graft.offline.OfflineStore
    val base = Seq(
      ("user", "u1", "a", 1.0, ts("2024-01-01 00:00:00"), 1L)
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    val snap0 = OfflineStore.latestSnapshot(base)
    val delta = Seq(
      ("user", "u1", "a", 5.0, ts("2024-01-02 00:00:00"), 2L), // newer
      ("user", "u1", "a", 9.0, ts("2023-12-01 00:00:00"), 3L), // older
      ("user", "u2", "b", 7.0, ts("2024-01-02 00:00:00"), 4L)  // new key
    ).toDF("entity_type", "entity_id", "feature_name", "value_float",
           "event_time", "commit_id")
    val merged = OfflineStore.mergeSnapshot(snap0, delta)
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(merged(("u1", "a")) == 5.0) // newer wins, older ignored
    assert(merged(("u2", "b")) == 7.0)
    // idempotent: merging the same delta again changes nothing
    val twice = OfflineStore.mergeSnapshot(
      OfflineStore.mergeSnapshot(snap0, delta), delta)
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(twice == merged)
  }

  test("offline store writer partitions by (entity_type, event_date)") {
    import graft.offline.OfflineStore
    val dir = java.nio.file.Files.createTempDirectory("graft_off").toString
    OfflineStore.write(Tables.featureRecords(spark, TestSpark.sfDir), dir)
    val root = new java.io.File(dir)
    val entityDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(entityDirs.exists(_.startsWith("entity_type=")))
    val dayDirs = root.listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dayDirs.nonEmpty && dayDirs.forall(_.startsWith("event_date=")))
    // round-trip: partition-pruned read matches source count for one day
    val day = dayDirs.head.stripPrefix("event_date=")
    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_date") === day)
    assert(pruned.count() > 0)
  }

  test("StreamingVersionedSink: micro-batches become versions, old snapshots stay pinned") {
    import graft.offline.VersionedStore
    import graft.streaming.StreamingVersionedSink
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("vsink").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("vsink_ck").toString

    val input = MemoryStream[(Long, Double)]
    val query = StreamingVersionedSink.start(
      input.toDF().toDF("entity_id", "value"), table, ckpt)

    input.addData((1L, 1.0), (2L, 2.0))
    query.processAllAvailable()
    input.addData((3L, 3.0))
    query.processAllAvailable()
    query.stop()

    assert(VersionedStore.latestVersion(spark, table) == 1L)
    assert(VersionedStore.read(spark, table).count() == 3L)
    // the version committed by batch 0 is still readable as it was
    assert(VersionedStore.read(spark, table, versionAsOf = 0).count() == 2L)
  }

  test("StreamingVersionedSink: a producer restart with an evolved schema keeps ingesting") {
    // the add-column evolution case a long-lived ingestion hits: the
    // upstream producer gains a field, the stream restarts with the
    // wider schema, and the sink must keep appending — pre-evolution
    // versions null-backfill the new column on read
    import graft.offline.VersionedStore
    import graft.streaming.StreamingVersionedSink
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("vevo_sink").toString + "/t"

    val in0 = MemoryStream[(Long, Double)]
    val q0 = StreamingVersionedSink.start(
      in0.toDF().toDF("entity_id", "value"), table,
      java.nio.file.Files.createTempDirectory("vevo_ck0").toString)
    in0.addData((1L, 1.0), (2L, 2.0))
    q0.processAllAvailable()
    q0.stop()

    val in1 = MemoryStream[(Long, Double, String)]
    val q1 = StreamingVersionedSink.start(
      in1.toDF().toDF("entity_id", "value", "source"), table,
      java.nio.file.Files.createTempDirectory("vevo_ck1").toString)
    in1.addData((3L, 3.0, "s3"))
    q1.processAllAvailable()
    q1.stop()

    val head = VersionedStore.read(spark, table)
    assert(head.columns.toSeq == Seq("entity_id", "value", "source"))
    val rows = head.collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some("s3")))
    // the pre-evolution snapshot still reads with its own schema
    assert(VersionedStore.read(spark, table, versionAsOf = 0)
      .columns.toSeq == Seq("entity_id", "value"))
  }

  test("StreamingDrift: shifted live distribution scores higher PSI than matching one") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDrift
    implicit val sqlCtx = spark.sqlContext

    // baseline: feature 'f' roughly uniform on [0, 10)
    val baseRecords = (0 until 100)
      .map(i => ("f", i % 10 + 0.5)).toDF("feature_name", "value_float")
    val hist = graft.stats.Profiler
      .histogram(baseRecords, "feature_name", "value_float", nBins = 10)
    val baseline = StreamingDrift.baselineFromHistogram(hist, 10)
    assert(baseline.count() == 1)

    val input = MemoryStream[(String, Double, Timestamp)]
    val events = input.toDF()
      .toDF("feature_name", "value", "event_time")
    val query = StreamingDrift
      .psi(events, baseline, 10, "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("psidrift")
      .outputMode(OutputMode.Update()).start()

    // window 1: matches the baseline; window 2: everything in one bin
    input.addData((0 until 50).map(i =>
      ("f", i % 10 + 0.5, ts("2024-01-01 10:05:00"))): _*)
    input.addData((0 until 50).map(_ =>
      ("f", 9.5, ts("2024-01-01 12:05:00"))): _*)
    query.processAllAvailable()
    val rows = spark.table("psidrift")
      .orderBy("window").collect()
    assert(rows.length == 2)
    val psiMatch = rows.head.getAs[Double]("psi")
    val psiShift = rows.last.getAs[Double]("psi")
    assert(psiMatch < 0.1, s"matching window should be calm, got $psiMatch")
    assert(psiShift > 1.0, s"collapsed window should alarm, got $psiShift")
    assert(rows.forall(_.getAs[Long]("n_window") == 50L))
    query.stop()
  }

  test("StreamingCorpusGates: per-window gate decisions match the batch validator") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingCorpusGates
    import graft.validation.Validation
    implicit val sqlCtx = spark.sqlContext

    val g = Validation.CorpusGates(maxShortFrac = 0.25, minWords = 3,
      maxNullTextFrac = 0.25, minLangCoverage = Map("en" -> 0.5))
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "ts")
    val query = StreamingCorpusGates
      .gates(docs, "text", "lang", "ts", g, "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("cgates")
      .outputMode(OutputMode.Update()).start()

    // window 1 (healthy): 4 docs en-heavy, no shorts/nulls
    input.addData(
      (1L, "a b c d", "en", ts("2024-01-01 10:01:00")),
      (2L, "e f g h", "en", ts("2024-01-01 10:02:00")),
      (3L, "i j k l", "en", ts("2024-01-01 10:03:00")),
      (4L, "m n o p", "de", ts("2024-01-01 10:04:00")))
    // window 2 (sick): half short, one null, en-light
    input.addData(
      (5L, "x y", "de", ts("2024-01-01 12:01:00")),
      (6L, null.asInstanceOf[String], "de", ts("2024-01-01 12:02:00")),
      (7L, "q r s t", "en", ts("2024-01-01 12:03:00")),
      (8L, "u v", "de", ts("2024-01-01 12:04:00")))
    query.processAllAvailable()
    val rows = spark.table("cgates").orderBy("window").collect()
    assert(rows.length == 2)
    val healthy = rows.head
    assert(healthy.getAs[Boolean]("window_pass"),
      s"healthy window must pass: $healthy")
    assert(healthy.getAs[Double]("cov_en") == 0.75)
    val sick = rows.last
    assert(!sick.getAs[Boolean]("window_pass"))
    assert(sick.getAs[Double]("short_frac") == 0.5 &&
      !sick.getAs[Boolean]("short_pass"))
    assert(sick.getAs[Double]("null_frac") == 0.25 &&
      sick.getAs[Boolean]("null_pass"))
    assert(sick.getAs[Double]("cov_en") == 0.25 &&
      !sick.getAs[Boolean]("cov_en_pass"))
    // the shared gates agree with the batch validator on the same slice
    val batch = Validation.validateCorpus(
      Seq((5L, "x y", "de"), (6L, null.asInstanceOf[String], "de"),
        (7L, "q r s t", "en"), (8L, "u v", "de"))
        .toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang", g)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(batch("short_frac") == sick.getAs[Double]("short_frac"))
    assert(batch("null_text_frac") == sick.getAs[Double]("null_frac"))
    assert(batch("lang_coverage:en") == sick.getAs[Double]("cov_en"))
    query.stop()
  }

  test("StreamingAsof: floor semantics, equal-ts inclusion, exactly-once under out-of-order arrival") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.{FeatureUpdate, LabelEvent}
    implicit val sqlCtx = spark.sqlContext
    val feats = MemoryStream[FeatureUpdate]
    val labs = MemoryStream[LabelEvent]
    val query = StreamingAsof.enrich(feats.toDS(), labs.toDS(),
        watermarkDelay = "1 second", featureNames = Seq("f"),
        default = -1.0)
      .writeStream.format("memory").queryName("sasof")
      .outputMode(OutputMode.Append()).start()

    // Out-of-order batch: the label arrives BEFORE the feature that
    // precedes it in event time.
    labs.addData(
      LabelEvent("u1", ts("2024-01-01 10:01:00"), 1L, 1.0),
      LabelEvent("u1", ts("2024-01-01 10:02:00"), 2L, 0.0),
      LabelEvent("u2", ts("2024-01-01 10:01:00"), 3L, 1.0))
    feats.addData(
      FeatureUpdate("u1", ts("2024-01-01 10:00:00"), "f", 1.0),
      FeatureUpdate("u1", ts("2024-01-01 10:02:00"), "f", 3.0))
    query.processAllAvailable()
    // watermark after batch 1 = 10:02:00 - 1s: labels 1 and 3 are
    // already final, but the 10:02:00 label sits exactly AT the max
    // event time and must WAIT (an equal-ts feature could still come)
    assert(!spark.table("sasof").collect()
      .exists(_.getAs[Long]("label_id") == 2L),
      "label at the watermark boundary must not emit yet")

    // Advance both streams' watermarks past every label.
    feats.addData(FeatureUpdate("u9", ts("2024-01-01 11:00:00"), "f", 0.0))
    labs.addData(LabelEvent("u9", ts("2024-01-01 11:00:00"), 99L, 0.0))
    query.processAllAvailable()
    // one more advance so timed-out state (if any) flushes
    feats.addData(FeatureUpdate("u9", ts("2024-01-01 12:00:00"), "f", 0.0))
    labs.addData(LabelEvent("u9", ts("2024-01-01 12:00:00"), 98L, 0.0))
    query.processAllAvailable()

    val rows = spark.table("sasof").collect()
      .map(r => r.getAs[Long]("label_id") ->
        r.getAs[Map[String, Double]]("features")("f")).toMap
    assert(rows(1L) == 1.0, "label at 10:01 sees the 10:00 feature")
    assert(rows(2L) == 3.0, "feature stamped AT the label ts is visible")
    assert(rows(3L) == -1.0, "entity with no features gets the default")
    assert(spark.table("sasof").count() ==
      spark.table("sasof").dropDuplicates("label_id").count(),
      "every label must be emitted exactly once")
    query.stop()
  }

  test("stateless text operators (chunk) run unchanged on a stream") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // the SAME batch operator: pure generate-and-project, no state —
    // structured streaming accepts it as-is
    val query = TextAnalysis.chunk(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", 4, 2)
      .writeStream.format("memory").queryName("schunk")
      .outputMode(OutputMode.Append()).start()
    input.addData((1L, (1 to 6).map(i => s"w$i").mkString(" ")))
    query.processAllAvailable()
    val chunks = spark.table("schunk").orderBy("chunk_idx").collect()
      .map(_.getString(2))
    assert(chunks.toSeq == Seq("w1 w2 w3 w4", "w3 w4 w5 w6"))
    query.stop()
  }

  test("weightedSample runs unchanged on a stream, equals batch") {
    import graft.operators.FeatureEng
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 300L).map(i => (i, if (i % 2 == 0) 0.5 else 1.0))
    val input = MemoryStream[(Long, Double)]
    // the SAME batch operator: the md5 coin is a pure projection
    val query = FeatureEng.weightedSample(
        input.toDF().toDF("k", "w"), "k", col("w"))
      .writeStream.format("memory").queryName("swsample")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("swsample").collect()
      .map(_.getLong(0)).toSet
    query.stop()
    val batch = FeatureEng.weightedSample(rows.toDF("k", "w"), "k", col("w"))
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("StreamingAsof: maxFeatureAgeMs expires stale floors to the default") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.{FeatureUpdate, LabelEvent}
    implicit val sqlCtx = spark.sqlContext
    val feats = MemoryStream[FeatureUpdate]
    val labs = MemoryStream[LabelEvent]
    val query = StreamingAsof.enrich(feats.toDS(), labs.toDS(),
        "1 second", Seq("f"), default = -1.0,
        maxFeatureAgeMs = 30000L)
      .writeStream.format("memory").queryName("sasof_age")
      .outputMode(OutputMode.Append()).start()
    feats.addData(FeatureUpdate("u1", ts("2024-01-01 10:00:00"), "f", 5.0))
    labs.addData(
      LabelEvent("u1", ts("2024-01-01 10:00:20"), 1L, 1.0), // age 20s
      LabelEvent("u1", ts("2024-01-01 10:05:00"), 2L, 1.0)) // age 5min
    query.processAllAvailable()
    feats.addData(FeatureUpdate("zz", ts("2024-01-01 11:00:00"), "f", 0.0))
    labs.addData(LabelEvent("zz", ts("2024-01-01 11:00:00"), 9L, 0.0))
    query.processAllAvailable()
    feats.addData(FeatureUpdate("zz", ts("2024-01-01 12:00:00"), "f", 0.0))
    labs.addData(LabelEvent("zz", ts("2024-01-01 12:00:00"), 8L, 0.0))
    query.processAllAvailable()
    val rows = spark.table("sasof_age").collect()
      .map(r => r.getAs[Long]("label_id") ->
        r.getAs[Map[String, Double]]("features")("f")).toMap
    assert(rows(1L) == 5.0, "within the age horizon: floor serves")
    assert(rows(2L) == -1.0, "past the age horizon: default, not stale value")
    query.stop()
  }

  test("StreamingAsof matches batch pointInTime on a randomized history") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.{FeatureUpdate, LabelEvent}
    import graft.operators.AsofJoin
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 10:00:00").getTime
    val names = Seq("a", "b")
    val fRows = (1 to 40).map { _ =>
      FeatureUpdate(s"u${rnd.nextInt(3)}",
        new Timestamp(base + rnd.nextInt(60) * 60000L),
        names(rnd.nextInt(2)), (rnd.nextInt(10) + 1).toDouble)
    }
    val lRows = (1 to 12).map { i =>
      LabelEvent(s"u${rnd.nextInt(3)}",
        new Timestamp(base + rnd.nextInt(60) * 60000L), i.toLong,
        rnd.nextInt(2).toDouble)
    }
    val expected = AsofJoin.pointInTime(
        fRows.toDF("entity_id", "ts", "feature_name", "value_float"),
        lRows.toDF("entity_id", "ts", "event_id", "value"),
        "entity_id", "ts", "feature_name", "value_float",
        "event_id", "value", names, default = -1.0)
      .collect().map(r => (r.getAs[Long]("label_id"),
        r.getAs[Double]("f_a"), r.getAs[Double]("f_b"))).toSet

    val feats = MemoryStream[FeatureUpdate]
    val labs = MemoryStream[LabelEvent]
    val out = StreamingAsof.enrich(feats.toDS(), labs.toDS(),
      "1 second", names, default = -1.0)
    val query = StreamingAsof.widen(out, names)
      .writeStream.format("memory").queryName("sasof_rand")
      .outputMode(OutputMode.Append()).start()
    feats.addData(fRows: _*)
    labs.addData(lRows: _*)
    query.processAllAvailable()
    feats.addData(FeatureUpdate("zz", ts("2024-01-02 10:00:00"), "a", 0.0))
    labs.addData(LabelEvent("zz", ts("2024-01-02 10:00:00"), 999L, 0.0))
    query.processAllAvailable()
    feats.addData(FeatureUpdate("zz", ts("2024-01-03 10:00:00"), "a", 0.0))
    labs.addData(LabelEvent("zz", ts("2024-01-03 10:00:00"), 998L, 0.0))
    query.processAllAvailable()

    val got = spark.table("sasof_rand")
      .filter($"label_id" < 900)
      .collect().map(r => (r.getAs[Long]("label_id"),
        r.getAs[Double]("f_a"), r.getAs[Double]("f_b"))).toSet
    assert(got == expected,
      s"streaming/batch asof divergence:\nstream=$got\nbatch=$expected")
    query.stop()
  }

  test("streaming serving: micro-batch upserts reach point lookups, latest wins") {
    implicit val sqlCtx = spark.sqlContext
    import graft.online.OnlineStore
    val root = java.nio.file.Files
      .createTempDirectory("sserve").toString + "/snap"
    val ckpt = java.nio.file.Files
      .createTempDirectory("sserve_ck").toString
    OnlineStore.publishSnapshot(
      Seq(("u1", 1.0), ("u2", 2.0)).toDF("entity_id", "f_a"),
      root, "entity_id", nBuckets = 8, numFiles = 4)
    val input = MemoryStream[(String, Double)]
    val query = graft.streaming.StreamingServing.start(
      input.toDS().toDF("entity_id", "f_a"), root, ckpt)
    def lookup(): Map[String, Double] =
      OnlineStore.pointLookup(spark, root,
        Seq("u1", "u2", "u3").toDF("entity_id"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    input.addData(("u2", 20.0), ("u3", 3.0)) // update + insert
    query.processAllAvailable()
    assert(lookup() == Map("u1" -> 1.0, "u2" -> 20.0, "u3" -> 3.0))
    input.addData(("u2", 200.0)) // second batch: latest wins
    query.processAllAvailable()
    assert(lookup() == Map("u1" -> 1.0, "u2" -> 200.0, "u3" -> 3.0))
    query.stop()
    // history is intact: the pre-stream publish is still readable
    val v0 = graft.offline.VersionedStore
      .read(spark, root, versionAsOf = 0L)
    assert(v0.count() == 2)
  }

  test("streaming retraction: a takedown stream stops serving across snapshot and text index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.online.OnlineStore
    import graft.operators.Search
    // serving snapshot target
    val snapRoot = java.nio.file.Files
      .createTempDirectory("sretr").toString + "/snap"
    OnlineStore.publishSnapshot(
      Seq(("u1", 1.0), ("u2", 2.0), ("u3", 3.0)).toDF("entity_id", "f_a"),
      snapRoot, "entity_id", nBuckets = 8, numFiles = 4)
    val snapIn = MemoryStream[String]
    val q1 = graft.streaming.StreamingRetraction.startSnapshot(
      snapIn.toDS().toDF("entity_id"), snapRoot,
      java.nio.file.Files.createTempDirectory("sretr_ck").toString)
    snapIn.addData("u2")
    q1.processAllAvailable()
    // replay-shaped second batch: same key again + one unknown
    snapIn.addData("u2", "u404")
    q1.processAllAvailable()
    q1.stop()
    val got = OnlineStore.pointLookup(spark, snapRoot,
        Seq("u1", "u2", "u3").toDF("entity_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("u1" -> 1.0, "u3" -> 3.0),
      s"retracted entity must stop resolving: $got")
    // text-index target
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "delta beta")).toDF("doc_id", "text")
    val idxRoot = java.nio.file.Files
      .createTempDirectory("sretr_idx").toString + "/idx"
    Search.buildTextIndex(spark, docs, "doc_id", "text", idxRoot)
    val idxIn = MemoryStream[Long]
    val q2 = graft.streaming.StreamingRetraction.startTextIndex(
      idxIn.toDS().toDF("doc_id"), "doc_id", idxRoot,
      java.nio.file.Files.createTempDirectory("sretr_ick").toString)
    idxIn.addData(2L)
    q2.processAllAvailable()
    idxIn.addData(2L) // replay no-ops
    q2.processAllAvailable()
    q2.stop()
    val served = Search.serveBm25(spark, idxRoot,
        Seq((10L, "alpha")).toDF("q_id", "q_text"), "q_id", "q_text", k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(served == Set(1L),
      s"tombstoned doc must not serve: $served")
  }

  test("streaming retraction: a batch that would empty the target dead-letters instead of crash-looping") {
    implicit val sqlCtx = spark.sqlContext
    import graft.online.OnlineStore
    val root = java.nio.file.Files
      .createTempDirectory("sretr_dl").toString + "/snap"
    OnlineStore.publishSnapshot(
      Seq(("u1", 1.0), ("u2", 2.0)).toDF("entity_id", "f_a"),
      root, "entity_id", nBuckets = 2, numFiles = 1)
    val in = MemoryStream[String]
    val q = graft.streaming.StreamingRetraction.startSnapshot(
      in.toDS().toDF("entity_id"), root,
      java.nio.file.Files.createTempDirectory("sretr_dlck").toString)
    // batch 1: delete EVERY remaining key — VersionedStore refuses
    // (empty snapshots unrepresentable); the writer must dead-letter,
    // not fail the query
    in.addData("u1", "u2")
    q.processAllAvailable()
    assert(q.isActive, "query died on the empty-table refusal")
    // batch 2: the stream keeps draining — a normal partial delete
    // still applies
    in.addData("u1")
    q.processAllAvailable()
    assert(q.isActive)
    q.stop()
    val got = OnlineStore.pointLookup(spark, root,
        Seq("u1", "u2").toDF("entity_id"))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("u2"), s"partial delete after dead-letter: $got")
    // the refused batch's keys are preserved for the operator
    val dl = spark.read.parquet(
        graft.streaming.StreamingRetraction.deadLetterPath(root))
      .select("entity_id").collect().map(_.getString(0)).toSet
    assert(dl == Set("u1", "u2"), s"dead-letter contents: $dl")
  }

  test("StreamingVocab: micro-batches fold word counts exactly once, refresh retrains on drift") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val root = java.nio.file.Files
      .createTempDirectory("svocab").toString + "/tok"
    val base = Seq((1L, "low low lower"), (2L, "newest widest"))
      .toDF("doc_id", "text")
    Bpe.buildVocabStore(base, "doc_id", "text", root, nMerges = 6,
      minPairCount = 1L)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingVocab.start(
      in.toDS().toDF("doc_id", "text"), root,
      java.nio.file.Files.createTempDirectory("svocab_ck").toString,
      refreshEvery = 2, maxDrift = 0.05)
    val b1 = Seq((10L, "low newest low"))
    val b2 = (1 to 40).map(i => (100L + i, "zorblat zorblat quux"))
    in.addData(b1: _*)
    q.processAllAvailable() // batch 0: counts fold, no refresh yet
    val driftMid = Bpe.vocabDrift(spark, root)
    assert(driftMid > 0.0, "batch-0 counts must register as drift")
    in.addData(b2: _*)
    q.processAllAvailable() // batch 1: (1+1)%2==0 → refresh → retrain
    q.stop()
    val got = graft.offline.VersionedStore
      .read(spark, Bpe.vocabCountsTable(root))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Bpe.corpusWordCounts(
        base.unionByName(b1.toDF("doc_id", "text"))
          .unionByName(b2.toDF("doc_id", "text")), "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, s"streamed counts diverge:\n$got\n$want")
    // the shifted vocabulary forced a retrain at the refresh point —
    // drift against the NEW rules' train-time counts is back to zero
    assert(Bpe.vocabDrift(spark, root) == 0.0,
      "refresh at batch 1 must have retrained (drift reset)")
    // and the served model now segments the new vocabulary
    val enc = Bpe.encodeAny(Seq((1L, "zorblat")).toDF("doc_id", "text"),
        "doc_id", "text", Bpe.vocabModel(spark, root))
      .collect()
    assert(enc.nonEmpty)
  }

  test("frozen quality classifier runs stateless on a stream, equals batch application") {
    implicit val sqlCtx = spark.sqlContext
    val th = graft.operators.TextAnalysis.QualityThresholds(
      minWords = 3L, minAvgWordLen = 1.0, minAlphaRatio = 0.3,
      maxTopWordRatio = 0.6, maxTopBigramRatio = 0.5,
      minDistinctRatio = 0.2)
    val vocab = Map("the" -> 50L, "a" -> 30L, "cat" -> 5L, "sat" -> 5L,
      "mat" -> 5L, "on" -> 10L)
    val total = 105L
    val rows = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zz zz"),                       // word_count
      (3L, "the the the the the the a cat")) // top word 6/8 -> top_word
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: starting at all proves the plan
    // carries no stateful aggregation — pure projection end to end
    val query = graft.operators.TextAnalysis.qualityClassifierFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text",
        vocab, total, th = th)
      .writeStream.format("memory").queryName("squality")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("squality").collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("drop_reason")), r.getAs[Double]("lm_score"))))
      .toMap
    query.stop()
    val batch = graft.operators.TextAnalysis.qualityClassifierFrozen(
        rows.toDF("doc_id", "text"), "doc_id", "text", vocab, total,
        th = th)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("drop_reason")), r.getAs[Double]("lm_score"))))
      .toMap
    assert(streamed == batch,
      s"stream/batch divergence:\n$streamed\n$batch")
    assert(streamed(2L)._1.contains("word_count"))
    assert(streamed(3L)._1.contains("top_word"))
    assert(streamed(1L)._1.isEmpty, s"clean doc dropped: ${streamed(1L)}")
  }

  test("frozen line dedup runs stateless on a stream, equals batch application") {
    implicit val sqlCtx = spark.sqlContext
    val boiler = "click here to subscribe"
    val rows = Seq(
      (1L, s"real content one\n$boiler\ntail one"),
      (2L, s"$boiler"),
      (3L, s"real content three"))
    // the frozen artifact comes from an OFFLINE pass (here: just the
    // boilerplate line's md5); the stream applies it statelessly
    val frozen = graft.operators.Dedup.freezeFrequentLines(
      (1L to 12L).map(i => (i, s"own $i\n$boiler")).toDF("doc_id", "text"),
      "doc_id", "text", maxDf = 10, minChars = 5)
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: starting at all proves the plan
    // carries no stateful aggregation — pure projection end to end
    val query = graft.operators.Dedup.lineDedupFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", frozen)
      .writeStream.format("memory").queryName("slinededup")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("slinededup").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    query.stop()
    assert(streamed(1L) == (("real content one\ntail one", 1L)))
    assert(streamed(2L) == (("", 1L)), "all-boilerplate doc comes back empty")
    assert(streamed(3L) == (("real content three", 0L)))
    val batch = graft.operators.Dedup.lineDedupFrozen(
        rows.toDF("doc_id", "text"), "doc_id", "text", frozen)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3))))
      .toMap
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
  }

  test("frozen KN scorer runs stateless on a stream, equals batch application") {
    implicit val sqlCtx = spark.sqlContext
    // the model artifact comes from an OFFLINE fit; the stream scores
    // against it as a pure projection (literal map + array lambdas)
    val train = Seq((10L, "a b"), (11L, "a b"), (12L, "a c"), (13L, "b a"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextAnalysis.knFreeze(train, "doc_id", "text")
    val rows = Seq(
      (1L, "a b a c"),          // all bigrams known
      (2L, "a b zz"),           // unknown bigram skipped from the mean
      (3L, "solo"))             // no bigrams: n=0, NULL score
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: starting at all proves the plan
    // carries no stateful aggregation — pure projection end to end
    val query = graft.operators.TextAnalysis.knScoreFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("sknscore")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2))))).toMap
    val streamed = toMapOf(spark.table("sknscore"))
    query.stop()
    val batch = toMapOf(graft.operators.TextAnalysis.knScoreFrozen(
      rows.toDF("doc_id", "text"), "doc_id", "text", model))
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
    assert(streamed(1L)._1 === 3L)
    assert(streamed(2L)._1 === 1L, "unknown bigram must be skipped")
    assert(streamed(3L) === ((0L, None)))
  }

  test("frozen ExactSubstr strip runs stateless on a stream, equals batch application") {
    implicit val sqlCtx = spark.sqlContext
    val boiler = "b1 b2 b3 b4 b5 b6"
    val corpus = Seq(
      (1L, s"c1 c2 $boiler c3"),
      (2L, s"c4 $boiler c5 c6")).toDF("doc_id", "text")
    val frozen = graft.operators.Dedup.freezeDupGrams(
      corpus, "doc_id", "text", n = 3, minDf = 2L)
    val rows = Seq(
      (10L, s"u1 u2 $boiler u3"),
      (11L, "fresh only text here now"),
      (12L, "x"))
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: starting at all proves the plan
    // carries no stateful aggregation — pure projection end to end
    val query = graft.operators.Dedup.exactSubstrFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", frozen,
        n = 3)
      .writeStream.format("memory").queryName("ssubstr")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("ssubstr").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    query.stop()
    val batch = graft.operators.Dedup.exactSubstrFrozen(
        rows.toDF("doc_id", "text"), "doc_id", "text", frozen, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
    assert(streamed(10L) === "u1 u2 u3")
    assert(streamed(11L) === "fresh only text here now")
  }

  test("bloom-frozen ExactSubstr strip runs stateless on a stream, equals batch, no false negatives") {
    implicit val sqlCtx = spark.sqlContext
    val boiler = "b1 b2 b3 b4 b5 b6"
    val corpus = Seq(
      (1L, s"c1 c2 $boiler c3"),
      (2L, s"c4 $boiler c5 c6")).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("bloom_stream").toString + "/ss"
    graft.operators.Dedup.buildSubstrStore(corpus, "doc_id", "text",
      root, n = 3)
    val mBits = 1 << 14
    val bloom = graft.operators.Dedup.freezeDupGramsBloom(
      spark, root, mBits, kHashes = 2, minDf = 1L)
    val rows = Seq(
      (10L, s"u1 u2 $boiler u3"),
      (11L, "fresh only text here now"),
      (12L, "x"))
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: pure projection end to end —
    // the bitset is a literal, the probe is bit arithmetic
    val query = graft.operators.Dedup.exactSubstrFrozenBloom(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", bloom,
        mBits, kHashes = 2, n = 3)
      .writeStream.format("memory").queryName("sbloomsubstr")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("sbloomsubstr").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    query.stop()
    val batch = graft.operators.Dedup.exactSubstrFrozenBloom(
        rows.toDF("doc_id", "text"), "doc_id", "text", bloom, mBits,
        kHashes = 2, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
    // no false negatives: every token the exact artifact cuts, the
    // bloom artifact cuts — at this generous mBits the two agree
    val exact = graft.operators.Dedup.freezeDupGramsFromStore(
      spark, root, minDf = 1L)
    val want = graft.operators.Dedup.exactSubstrFrozen(
        rows.toDF("doc_id", "text"), "doc_id", "text", exact, n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == want, s"bloom/exact divergence:\n$streamed\n$want")
  }

  test("frozen fastText-style scorer runs stateless on a stream, equals batch scores") {
    implicit val sqlCtx = spark.sqlContext
    val seed = ((1L to 20L).map { i =>
      if (i % 2 == 0) (i, "good great fine solid", true)
      else (i, "bad awful poor broken", false)
    }).toDF("doc_id", "text", "lbl")
    val model = graft.operators.FtClassify.train(seed, "doc_id", "text",
      "lbl", nBuckets = 128, dim = 4, epochs = 8)
    val rows = Seq((100L, "good great unseen"), (101L, "bad awful unseen"),
      (102L, ""))
    val input = MemoryStream[(Long, String)]
    // append mode, no watermark: the frozen scorer is one codegen
    // projection (per-bucket scalars + bias) — no join, no state
    val query = graft.operators.FtClassify.scoreFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
      .writeStream.format("memory").queryName("sftq")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("sftq").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    query.stop()
    val batch = graft.operators.FtClassify.scoreFrozen(
        rows.toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4)))
      .toMap
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
    assert(streamed(100L)._2 && !streamed(101L)._2)
    assert(!streamed.contains(102L), "no-gram docs drop (no evidence)")
  }

  test("frozen unigram encode runs stateless on a stream, equals batch encode") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "tok token to oken token tok"),
      (2L, "token to tok oken")).toDF("doc_id", "text")
    val model = graft.operators.Unigram.train(corpus, "doc_id", "text",
      vocabSize = 8, maxPieceLen = 3, rounds = 2)
    val costs = graft.operators.Unigram.collectCosts(model.vocab)
    val rows = Seq((10L, "token tok"), (11L, "to oken to"), (12L, ""))
    val input = MemoryStream[(Long, String)]
    // append mode, no watermark: the encode plan must be a pure
    // projection — no join, no aggregation, no state
    val query = graft.operators.Unigram.encodeDocs(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", costs,
        maxPieceLen = 3)
      .writeStream.format("memory").queryName("suni")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("suni").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    query.stop()
    val batch = graft.operators.Unigram.encodeDocs(
        rows.toDF("doc_id", "text"), "doc_id", "text", costs,
        maxPieceLen = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(streamed === batch,
      s"stream/batch divergence:\n$streamed\n$batch")
    assert(streamed(12L) === ((0L, "")))
    streamed.foreach { case (id, (_, enc)) =>
      val orig = rows.find(_._1 == id).get._2
      assert(enc.replace(" ", "") === orig.replace(" ", ""), s"doc $id")
    }
  }

  test("sampled unigram encode runs stateless on a stream, draws equal batch draws") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "abcd abcd ab cd abc d"),
      (2L, "ab abc cd d")).toDF("doc_id", "text")
    val model = graft.operators.Unigram.train(corpus, "doc_id", "text",
      vocabSize = 8, maxPieceLen = 3, rounds = 2)
    val costs = graft.operators.Unigram.collectCosts(model.vocab)
    val rows = Seq((10L, "abcd abcd"), (11L, "ab cd"))
    val input = MemoryStream[(Long, String)]
    // append mode, no watermark: the seeded perturb-and-MAP draw is a
    // pure projection — same (seed, doc, occurrence) must sample the
    // same segmentation in a stream as in batch
    val query = graft.operators.Unigram.encodeDocsSampled(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", costs,
        maxPieceLen = 3, alphaMicro = 3L, seed = 42L)
      .writeStream.format("memory").queryName("sunisample")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("sunisample").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    query.stop()
    val batch = graft.operators.Unigram.encodeDocsSampled(
        rows.toDF("doc_id", "text"), "doc_id", "text", costs,
        maxPieceLen = 3, alphaMicro = 3L, seed = 42L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(streamed === batch,
      s"seeded stream draws must equal batch draws:\n$streamed\n$batch")
    streamed.foreach { case (id, (_, enc)) =>
      val orig = rows.find(_._1 == id).get._2
      assert(enc.replace(" ", "") === orig.replace(" ", ""), s"doc $id")
    }
  }

  test("StreamingSubstr: micro-batches fold gram counts; incremental serve sees every ingested batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("substrstream").toString + "/ss"
    val shared = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    val base = Seq((1L, s"$shared base-tail")).toDF("doc_id", "text")
    graft.operators.Dedup.buildSubstrStore(base, "doc_id", "text",
      root, n = 3)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingSubstr.start(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text", root,
      java.nio.file.Files.createTempDirectory("substrstream_ck").toString)
    val b1 = Seq((10L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 b1-tail"))
    val b2 = Seq((20L, "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // a probe shard repeating regions from the base AND each batch is
    // fully detected against the streamed store, equal to the direct
    // against-union path
    val probe = Seq(
      (100L, s"x $shared"),
      (101L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
      (102L, "y r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 z"))
      .toDF("doc_id", "text")
    val served = graft.operators.Dedup.substrSpansIncremental(
        probe, "doc_id", "text", root, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val union = base.unionByName(b1.toDF("doc_id", "text"))
      .unionByName(b2.toDF("doc_id", "text"))
    val direct = graft.operators.Dedup.exactSubstrSpansAgainst(
        union, probe, "doc_id", "text", n = 3, minTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served === direct, "streamed store must equal the batch union")
    assert(served === Set((100L, 2L, 10L), (101L, 1L, 10L),
      (102L, 2L, 10L)))
  }

  test("frozen decontamination runs stateless on a stream, equals batch decontaminate") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "the quick brown fox jumps over lazy dogs"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox jumps high today"), // 2 shared shingles
      (2L, "completely unrelated corpus text here now"),
      (3L, "quick brown fox jumps over lazy dogs indeed")) // heavy overlap
    val frozen = graft.operators.Dedup.freezeEvalShingles(eval, "text", n = 3)
    val input = MemoryStream[(Long, String)]
    // append mode with NO watermark: proves the plan carries no
    // stateful aggregation — one codegen projection end to end
    val query = graft.operators.Dedup.decontaminateFrozen(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", frozen, n = 3)
      .writeStream.format("memory").queryName("sdecontam")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("sdecontam").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    query.stop()
    assert(streamed.contains(3L) && !streamed.contains(2L))
    val batch = graft.operators.Dedup.decontaminate(
        rows.toDF("doc_id", "text"), "doc_id", "text",
        eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\n$batch")
  }

  test("StreamingNearDedup: survivors land exactly once, equal the batch pipeline") {
    import graft.offline.VersionedStore
    import graft.operators.Dedup
    import graft.streaming.StreamingNearDedup
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("snd").toString
    val state = s"$tmp/state"; val out = s"$tmp/out"
    val b1 = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g x"), // near-dups
      (3L, "z y x w v u t s"))
    val b2 = Seq((4L, "a b c d e f g h"),  // exact dup of 1 (state hash)
      (5L, "z y x w v u t q"),             // near-dup of 3 (state bands)
      (6L, "m n o p q r s t"))             // fresh
    val input = MemoryStream[(Long, String)]
    // compactEvery=1: every batch ends key-sorting the state, so
    // batch 2's exact/near lookups run against COMPACTED state — the
    // long-running-stream shape
    val query = StreamingNearDedup.start(input.toDF().toDF("doc_id", "text"),
      state, out, s"$tmp/ckpt", n = 3, threshold = 0.5,
      pruneStateDocs = 1000, compactEvery = 1, compactFiles = 2)
    input.addData(b1: _*)
    query.processAllAvailable()
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()
    assert(graft.offline.VersionedStore
      .read(spark, s"$state/bands").inputFiles.length <= 2,
      "maintenance cadence must leave the state compacted")
    def outIds(): Set[Long] = VersionedStore.read(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = outIds()
    val batchIds = Dedup.pipeline((b1 ++ b2).toDF("doc_id", "text"),
      "doc_id", "text", 3, 0.5).collect().map(_.getLong(0)).toSet
    assert(got == batchIds,
      s"stream survivors $got != batch pipeline $batchIds")
    // full rows rode along, one row per survivor (merge, not append)
    val rows = VersionedStore.read(spark, out).collect()
    assert(rows.length == got.size)
    assert(rows.map(_.getString(1)).forall(_.nonEmpty))
    // a replayed stream over already-registered content (fresh
    // checkpoint, same state) must leave the out table unchanged —
    // the post-registration half of the exactly-once story
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingNearDedup.start(input2.toDF().toDF("doc_id", "text"),
      state, out, s"$tmp/ckpt2", n = 3, threshold = 0.5,
      pruneStateDocs = 1000)
    input2.addData(b1 ++ b2: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(outIds() == got, "replay must not change the out table")
  }

  test("StreamingVectorDedup: survivors land exactly once against the growing index") {
    import graft.offline.VersionedStore
    import graft.operators.Ann
    import graft.streaming.StreamingVectorDedup
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("svd").toString
    val root = s"$tmp/idx"; val out = s"$tmp/out"
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // seed corpus: two well-separated directions -> 2 stable cells
    val seed = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.9, 0.1, 0, 0)),
      (3L, v(0, 0, 1, 0)), (4L, v(0, 0.1, 0.9, 0))
    ).toDF("vec_id", "embedding")
    Ann.ivfBuildIndex(seed, "vec_id", "embedding", nCentroids = 2, root)
    val b1 = Seq(
      (10L, v(1, 0, 0, 0)),        // exact dup of seed 1 -> drop
      (11L, v(0, 1, 0, 0)),        // fresh direction -> keep
      (12L, v(0, 1, 0, 0)))        // within-batch dup of 11 -> drop
    val b2 = Seq(
      (20L, v(0, 1, 0, 0)),        // dup of 11 (registered in b1) -> drop
      (21L, v(0, 0, 0, 1)))        // fresh -> keep
    val input = MemoryStream[(Long, Array[Float])]
    val query = StreamingVectorDedup.start(
      input.toDF().toDF("vec_id", "embedding"), root, out,
      s"$tmp/ckpt", threshold = 0.9, compactEvery = 1, compactFiles = 2)
    input.addData(b1: _*)
    query.processAllAvailable()
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()
    def outIds(): Set[Long] = VersionedStore.read(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = outIds()
    assert(got == Set(11L, 21L),
      s"expected {11, 21} to survive, got $got")
    // replay the full content through a fresh stream: survivors
    // recompute identically and the MERGE is idempotent
    val input2 = MemoryStream[(Long, Array[Float])]
    val q2 = StreamingVectorDedup.start(
      input2.toDF().toDF("vec_id", "embedding"), root, out,
      s"$tmp/ckpt2", threshold = 0.9)
    input2.addData(b1 ++ b2: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(outIds() == got, "replay must not change the out table")
  }

  test("streaming curate chain: quality gate -> first-arrival dedup -> decontam drop == batch chain") {
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // duplicates of the first 5 docs under higher ids + one fresh doc
    val dups = base.take(5).zipWithIndex.map { case ((_, t), i) =>
      (100000L + i, t)
    }
    val b1 = base.toSeq
    val b2 = dups.toSeq :+ ((200000L,
      base.head._2 + " genuinely new tail content"))
    val all = (b1 ++ b2).toDF("doc_id", "text")

    // frozen artifacts, shared by both executions
    val docsDf = b1.toDF("doc_id", "text")
    val (vocab, total) = TextAnalysis.freezeVocabulary(docsDf, "doc_id",
      "text", topK = 100000)
    val th = TextAnalysis.QualityThresholds(minWords = 10L)
    val evalShingles = Dedup.freezeEvalShingles(
      docsDf.filter(col("doc_id") % 10 === 3), "text", n = 3)

    // batch chain with the same frozen policies
    val kept = TextAnalysis.qualityClassifierFrozen(all, "doc_id",
        "text", vocab, total, th = th, keepText = true)
      .filter(col("keep")).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dedupKept = kept.groupBy(r => StreamingDedup.fingerprint(r._2))
      .values.map(_.minBy(_._1)).toSeq
    val contaminated = Dedup.decontaminateFrozen(
        dedupKept.toDF("doc_id", "text"), "doc_id", "text",
        evalShingles, n = 3, minOverlap = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = dedupKept.filterNot(r => contaminated(r._1))
      .map(_._1).toSet
    assert(expect.nonEmpty && expect.size < (b1 ++ b2).size,
      "fixture must exercise every stage")

    // streamed chain, arrivals in id order (batch keep-min ==
    // first-arrival)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingCurate.curate(
        input.toDF().toDF("doc_id", "text"), vocab, total, th,
        evalShingles, shingleN = 3, minOverlap = 1L)
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curate_stream").collect()
      .map(_.getLong(0)).toSet
    assert(streamed === expect,
      "streamed curation must equal the batch chain under id-ordered arrivals")
  }

  test("frozen kmeans assignment is stateless on a stream: streamed == batch, across batches") {
    import graft.operators.Kmeans
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val model = Kmeans.fit(emb, "vec_id", "embedding", k = 4, dim = 64,
      iters = 2)
    val batch = Kmeans.assign(emb, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val q = Kmeans.assign(input.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", model)
      .writeStream.format("memory").queryName("km_stream")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq: _*)
    q.processAllAvailable()
    input.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("km_stream").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(streamed === batch,
      "frozen assignment must be batch-identical on a stream")
  }

  test("gram-projection and md5-minhash signatures are stateless on a stream: streamed == batch, across batches") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val batchGv = Dedup.gramProjectVectors(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batchMh = Dedup.minhashMd5Signatures(docs, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q1 = Dedup.gramProjectVectors(df, "doc_id", "text", 3, 16)
      .writeStream.format("memory").queryName("gv_stream")
      .outputMode(OutputMode.Append()).start()
    val q2 = Dedup.minhashMd5Signatures(df, "doc_id", "text", 3, 16)
      .writeStream.format("memory").queryName("mh_stream")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1.toSeq: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    input.addData(b2.toSeq: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    val sGv = spark.table("gv_stream").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sMh = spark.table("mh_stream").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sGv === batchGv, "gram vectors must be batch-identical")
    assert(sMh === batchMh, "minhash signatures must be batch-identical")
  }

  test("image perceptual signatures are stateless on a stream: streamed == batch") {
    import graft.functions.SyntheticImage
    import graft.operators.MultiModal
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 60L)
      .map(id => (id, SyntheticImage.build(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(s"t$id"))))
    val docs = rows.toDF("doc_id", "payload")
    val batch = MultiModal
      .imagePHashSignatures(docs, "doc_id", "payload")
      .select("doc_id", "ahash", "dhash")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val input = MemoryStream[(Long, Array[Byte])]
    val q = MultiModal
      .imagePHashSignatures(input.toDF().toDF("doc_id", "payload"),
        "doc_id", "payload")
      .select("doc_id", "ahash", "dhash")
      .writeStream.format("memory").queryName("img_stream")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("img_stream").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch,
      "image signatures must be batch-identical on a stream")
  }

  test("audio energy-hash signatures are stateless on a stream: streamed == batch") {
    import graft.functions.SyntheticWav
    import graft.operators.MultiModal
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 60L)
      .map(id => (id, SyntheticWav.build(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(s"t$id"))))
    val docs = rows.toDF("doc_id", "payload")
    val batch = MultiModal
      .audioPHashSignatures(docs, "doc_id", "payload")
      .select("doc_id", "ahash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, Array[Byte])]
    val q = MultiModal
      .audioPHashSignatures(input.toDF().toDF("doc_id", "payload"),
        "doc_id", "payload")
      .select("doc_id", "ahash")
      .writeStream.format("memory").queryName("aud_stream")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("aud_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      "audio signatures must be batch-identical on a stream")
  }

  test("video frame fingerprints are stateless on a stream: streamed == batch") {
    import graft.functions.SyntheticVideo
    import graft.operators.MultiModal
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 60L)
      .map(id => (id, SyntheticVideo.build(id,
        org.apache.spark.unsafe.types.UTF8String.fromString(s"t$id"))))
    val docs = rows.toDF("doc_id", "payload")
    val batch = MultiModal
      .videoFrameHashes(docs, "doc_id", "payload")
      .select("doc_id", "frame_idx", "ahash")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val input = MemoryStream[(Long, Array[Byte])]
    val q = MultiModal
      .videoFrameHashes(input.toDF().toDF("doc_id", "payload"),
        "doc_id", "payload")
      .select("doc_id", "frame_idx", "ahash")
      .writeStream.format("memory").queryName("vid_stream")
      .outputMode(OutputMode.Append()).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vid_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed === batch,
      "video frame fingerprints must be batch-identical on a stream")
  }

  test("frozen multiclass ft scorer is stateless on a stream: streamed == batch") {
    import graft.operators.FtClassify
    implicit val sqlCtx = spark.sqlContext
    val seed = (1L to 30L).map { i =>
      val l = Seq("aa", "bb", "cc")((i % 3).toInt)
      val t = Map("aa" -> "alpha apple arrow", "bb" -> "berry basket bridge",
        "cc" -> "cedar candle copper")(l)
      (i, s"$t tail$i", l)
    }
    val model = FtClassify.trainMc(seed.toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang", nBuckets = 128, dim = 4, epochs = 8)
    val batch = FtClassify.scoreFrozenMc(
        seed.toDF("doc_id", "text", "lang"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val input = MemoryStream[(Long, String)]
    val q = FtClassify.scoreFrozenMc(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .select("doc_id", "pred_label")
      .writeStream.format("memory").queryName("ftmc_stream")
      .outputMode(OutputMode.Append()).start()
    input.addData(seed.map(r => (r._1, r._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ftmc_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === batch)
  }
}
