package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Fns, HllSketch}
import graft.operators.{Bpe, Dedup, Doremi, Dsir, FeatureEng, FtClassify,
  Kmeans, LinkGraph, MultiModal, RangeJoin, Sketch, Skew, TextAnalysis,
  Unigram}

/** The LLM-data operator entry points as a caller uses them: sketch
  * stores, join planning and execution, link graph, multimodal
  * signatures, count stores, tokenizers, k-means and fastText stores.
  * Each call spells out the (doc_id, text) / (vec_id, embedding)
  * column names and the default dials a caller would pass, and each
  * test checks the operator's own invariant — store == direct,
  * retraction == never ingested, full probe == exact, and so on.
  */
class FacadeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sf)

  private def shingleStream: DataFrame =
    docs.select(col("source"),
      explode(Fns.shingles(col("text"), 3)).as("shingle"))

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  // --- in-plan sketches ------------------------------------------------

  test("distinctEstimate / sliceOverlap / quantileEstimate delegate") {
    val d = Sketch.hllDistinct(shingleStream, "shingle", Seq("source"))
    assert(d.columns.contains("hll_estimate") && d.count() > 0)
    val o = Sketch.kmvOverlap(shingleStream, "shingle", "source", k = 64,
      audit = false)
    assert(o.columns.toSeq === Seq("slice_a", "slice_b", "jaccard_est"),
      "production default must be the audit-free path")
    assert(o.count() > 0)
    val q = Sketch.quantileSketch(
      docs.select(col("source"), col("doc_id"),
        length(col("text")).cast("double").as("v")),
      "v", "doc_id", Seq("source"), k = 256, qs = Seq(0.5, 0.95))
    assert(q.columns.contains("p50_sample") && q.count() > 0)
  }

  test("bloomTakedown and bloomBitset/bloomProbe agree (fast family)") {
    val d = docs.select(col("doc_id"), col("doc_id").cast("string").as("k"))
    val drops = d.filter(col("doc_id") % 7 === 0).select("k")
    val joined = Sketch.bloomMembership(d, "k", drops, "k", mBits = 512,
        kHashes = 2, fast = true)
      .select(col("doc_id"), col("bloom_hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bits = Sketch.bloomBitsetLit(drops, "k", mBits = 512, kHashes = 2,
      fast = true)
    val probed = d.select(col("doc_id"),
        Sketch.bloomProbe(bits, col("k"), mBits = 512, kHashes = 2,
          fast = true).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(probed === joined)
    assert(joined.values.count(identity) >= drops.count())
  }

  // --- persisted stores ------------------------------------------------

  test("sketchStore facade: build/upsert/read + takedown/rebuild") {
    val root = tmpRoot("fc-hll")
    val all = shingleStream.localCheckpoint(false)
    Sketch.buildSketchStore(
      all.filter(length(col("shingle")) % 2 === 0), "shingle",
      Seq("source"), root, HllSketch.DefaultP)
    assert(Sketch.upsertSketches(
      all.filter(length(col("shingle")) % 2 === 1), "shingle",
      Seq("source"), root, "s1"))
    val served = Sketch.readDistinct(spark, root, Seq("source"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("hll_estimate")).toMap
    val direct = Sketch.mergeEstimate(
        Sketch.hllSketchTable(all, "shingle", Seq("source")), Seq("source"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("hll_estimate")).toMap
    assert(served === direct)
    val victim = served.keys.min
    assert(Sketch.registerTakedown(Seq(victim).toDF("source"), root,
      "hll", "t1"))
    assert(!Sketch.readDistinct(spark, root, Seq("source"))
      .collect().map(_.getAs[String]("source")).contains(victim))
    Sketch.rebuildSketchStore(all.filter(col("source") =!= victim),
      "shingle", Seq("source"), root, "t1")
    assert(Sketch.readDistinct(spark, root, Seq("source"))
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("hll_estimate")).toMap === served - victim)
  }

  test("kmvStore / quantileStore facade round trips") {
    val all = shingleStream.localCheckpoint(false)
    val kroot = tmpRoot("fc-kmv")
    Sketch.buildKmvStore(all.filter(length(col("shingle")) % 2 === 0),
      "shingle", "source", kroot, k = 32)
    assert(Sketch.upsertKmv(
      all.filter(length(col("shingle")) % 2 === 1), "shingle", "source",
      kroot, "s1"))
    val fromStore = Sketch.readOverlap(spark, kroot)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    val direct = Sketch.kmvOverlap(all, "shingle", "source", k = 32,
        audit = false)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(fromStore === direct)
    val qroot = tmpRoot("fc-qs")
    val vals = docs.select(col("source"), col("doc_id"),
      length(col("text")).cast("double").as("v")).localCheckpoint(false)
    Sketch.buildQuantileStore(vals.filter(col("doc_id") % 2 === 0),
      "v", "doc_id", "source", qroot, k = 64)
    assert(Sketch.upsertQuantileSample(vals.filter(col("doc_id") % 2 === 1),
      "v", "doc_id", "source", qroot, "s1"))
    val served = Sketch.readQuantiles(spark, qroot, Seq(0.5, 0.95))
    assert(served.columns.contains("p95_sample") && served.count() > 0)
  }

  test("cmStore facade: build/upsert/estimates/retract") {
    val root = tmpRoot("fc-cm")
    val keys = Tables.orders(spark, sf)
      .select(col("o_custkey").cast("string").as("k")).localCheckpoint(false)
    val base = keys.filter(xxhash64(col("k")) % 2 === 0)
    val shard = keys.filter(xxhash64(col("k")) % 2 =!= 0)
    Sketch.buildCmStore(base, "k", root, depth = 3, width = 512,
      fast = true)
    assert(Sketch.upsertCm(shard, "k", root, "s1"))
    val probes = keys.distinct().select(col("k").as("probe_key"))
      .limit(20).localCheckpoint(false)
    val est = Sketch.readCmEstimates(spark, root, probes, "probe_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = keys.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (k, e) =>
      assert(e >= exact.getOrElse(k, 0L), "CM must never undercount") }
    assert(Sketch.retractCm(shard, "k", root, "s1"))
    val back = Sketch.readCmEstimates(spark, root, probes, "probe_key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseExact = base.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    back.foreach { case (k, e) =>
      assert(e >= baseExact.getOrElse(k, 0L)) }
  }

  // --- join planning / joinAuto ---------------------------------------

  private def plainJoin(a: DataFrame, aKey: String, b: DataFrame,
                        bKey: String): Set[Seq[Any]] =
    a.join(b, a(aKey) === b(bKey), "inner")
      .select((a.columns ++ b.columns).map(col): _*)
      .collect().map(_.toSeq).toSet

  test("joinAuto dispatches all four strategies, each == the plain join") {
    val big = spark.range(2000)
      .select(col("id").as("ak"), (col("id") % 7).as("av"))
      .localCheckpoint(false)
    val big2 = spark.range(1500)
      .select((col("id") % 500).as("bk"), col("id").as("bv"))
      .localCheckpoint(false)
    val small = spark.range(40)
      .select(col("id").as("bk"), (col("id") + 100).as("bv"))
      .localCheckpoint(false)
    val small2 = spark.range(30)
      .select(col("id").as("ak"), (col("id") + 7).as("av"))
      .localCheckpoint(false)
    // one key holds 50% of rows → the provable hot bound trips
    val hot = spark.range(2000)
      .select(when(col("id") % 2 === 0, lit(3L)).otherwise(col("id"))
        .as("ak"), col("id").as("av"))
      .localCheckpoint(false)

    // broadcast_a: a is the small side
    val ba = Skew.joinAuto(small2, "ak", big2, "bk", broadcastRows = 100)
    assert(ba.strategy === "broadcast_a")
    assert(ba.df.collect().map(_.toSeq).toSet ===
      plainJoin(small2, "ak", big2, "bk"))
    // broadcast_b: b smaller than a
    val bb = Skew.joinAuto(big, "ak", small, "bk", broadcastRows = 100)
    assert(bb.strategy === "broadcast_b")
    assert(bb.df.collect().map(_.toSeq).toSet ===
      plainJoin(big, "ak", small, "bk"))
    // shuffle: both sides over the broadcast budget, no provable skew
    val sh = Skew.joinAuto(big, "ak", big2, "bk", broadcastRows = 10)
    assert(sh.strategy === "shuffle")
    assert(sh.df.collect().map(_.toSeq).toSet ===
      plainJoin(big, "ak", big2, "bk"))
    // shuffle_salted: the hot side trips the skew rule
    val ss = Skew.joinAuto(hot, "ak", big2, "bk", broadcastRows = 10,
      skewFactor = 4)
    assert(ss.strategy === "shuffle_salted")
    assert(ss.df.collect().map(_.toSeq).toSet ===
      plainJoin(hot, "ak", big2, "bk"))
    // the pre-flight estimate is one-sided for every scenario
    assert(ss.joinSizeEst >= ss.df.count())
    assert(sh.joinSizeEst >= sh.df.count())
  }

  test("joinAuto salts the RIGHT side when b is the skewed frame") {
    val flat = spark.range(1200)
      .select(col("id").as("ak"), (col("id") % 5).as("av"))
      .localCheckpoint(false)
    val hotB = spark.range(1200)
      .select(when(col("id") % 2 === 0, lit(9L)).otherwise(col("id"))
        .as("bk"), col("id").as("bv"))
      .localCheckpoint(false)
    val r = Skew.joinAuto(flat, "ak", hotB, "bk", broadcastRows = 10,
      skewFactor = 4)
    assert(r.strategy === "shuffle_salted")
    assert(r.df.collect().map(_.toSeq).toSet ===
      plainJoin(flat, "ak", hotB, "bk"))
    // output column order stays a-then-b even though b was salted
    assert(r.df.columns.toSeq === Seq("ak", "av", "bk", "bv"))
  }

  test("joinAuto on an empty side broadcasts it (n_rows 0, not NULL)") {
    val a = spark.range(100).select(col("id").as("ak"))
      .filter(col("ak") < 0) // empty
    val b = spark.range(50).select(col("id").as("bk"))
    val r = Skew.joinAuto(a, "ak", b, "bk")
    assert(r.strategy === "broadcast_a")
    assert(r.df.count() === 0L)
  }

  test("joinAutoFromStores: store-fed decision == inline-sketch decision, zero corpus scans at plan time") {
    val big = spark.range(2000)
      .select(col("id").as("ak"), (col("id") % 7).as("av"))
      .localCheckpoint(false)
    val small = spark.range(40)
      .select(col("id").as("bk"), (col("id") + 100).as("bv"))
      .localCheckpoint(false)
    val hot = spark.range(2000)
      .select(when(col("id") % 2 === 0, lit(3L)).otherwise(col("id"))
        .as("ak"), col("id").as("av"))
      .localCheckpoint(false)
    def root() = java.nio.file.Files
      .createTempDirectory("cm_joinauto").toString + "/cm"
    // defaults match joinAuto's inline family (3 x 1024, fast)
    val (rBig, rSmall, rHot) = (root(), root(), root())
    Sketch.buildCmStore(big, "ak", rBig, 3, 1024, fast = true)
    Sketch.buildCmStore(small, "bk", rSmall, 3, 1024, fast = true)
    Sketch.buildCmStore(hot, "ak", rHot, 3, 1024, fast = true)
    for (((a, ak, ra), (b, bk, rb), opts) <- Seq(
      ((big, "ak", rBig), (small, "bk", rSmall), (100L, 8L)),
      ((hot, "ak", rHot), (small.select(col("bk"), col("bv")), "bk",
        rSmall), (10L, 4L)))) {
      val inline = Skew.joinAuto(a, ak, b, bk,
        broadcastRows = opts._1, skewFactor = opts._2)
      val stored = Skew.joinAutoFromStores(a, ak, b, bk, ra, rb,
        broadcastRows = opts._1, skewFactor = opts._2)
      assert(stored.strategy === inline.strategy)
      assert(stored.joinSizeEst === inline.joinSizeEst)
      assert(stored.planSource === "cm_store")
      assert(inline.planSource === "inline_sketch")
      assert(stored.df.collect().map(_.toSeq).toSet ===
        inline.df.collect().map(_.toSeq).toSet)
    }
    // parameter-family mismatch is loud, not silently wrong
    val rNarrow = root()
    Sketch.buildCmStore(small, "bk", rNarrow, 3, width = 512, fast = true)
    val e = intercept[IllegalArgumentException](
      Skew.joinAutoFromStores(big, "ak", small, "bk", rBig, rNarrow))
    assert(e.getMessage.contains("depth, width, fast"))
  }

  test("joinPlan / cmSketch / cmFrequencies / saltedJoin delegate") {
    val a = spark.range(300).select(col("id").as("k"))
    val b = spark.range(900).select((col("id") % 300).as("k"))
    def sketch(df: DataFrame) =
      Sketch.cmSketchRows(df, "k", 3, 1024, fast = true)
    val plan = Sketch.cmJoinPlan(sketch(a), sketch(b), 5000L, 8L)
    assert(plan.count() === 1)
    val freqs = Sketch.cmPointEstimate(sketch(b),
      a.limit(10).select(col("k").as("probe_key")), "probe_key", 3, 1024,
      fast = true)
    assert(freqs.collect().forall(_.getLong(1) >= 3L))
    val l = spark.range(200).select(col("id").as("lk"), col("id").as("lv"))
    val r = spark.range(600).select((col("id") % 200).as("rk"),
      col("id").as("rv"))
    val salted = Skew.saltedJoin(l, "lk", r, "rk", salts = 4, saltCols = Nil)
      .select("lk", "lv", "rk", "rv")
      .collect().map(_.toSeq).toSet
    assert(salted === plainJoin(l, "lk", r, "rk"))
  }

  // --- link graph ------------------------------------------------------

  test("pageRank / trustRank / trustSelect delegate") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val tr = LinkGraph.trustRankMicro(edges, Seq(1L).toDF("node"),
        nIter = 3, dampingPct = 85)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tr(4L) === 0L, "unendorsed host must hold zero trust")
    val d = docs.select(col("doc_id"), (col("doc_id") % 4 + 1).as("host"),
      size(split(col("text"), " ")).as("n_words"))
    val sel = LinkGraph.trustSelect(edges, Seq(1L).toDF("node"), d,
      "doc_id", "host", "n_words", budgetTokens = 5000L)
    assert(sel.count() > 0)
    assert(sel.agg(max("cum_tokens")).head().getLong(0) <= 5000L)
    // off-graph hosts score ZERO but stay eligible for leftover
    // budget — not silently excluded from selection (round-12 fix)
    val dOff = docs.limit(20).select(col("doc_id"),
      (col("doc_id") % 4 + 100).as("host"), // hosts 100.. not in graph
      size(split(col("text"), " ")).as("n_words"))
    val selOff = LinkGraph.trustSelect(edges, Seq(1L).toDF("node"), dOff,
      "doc_id", "host", "n_words", budgetTokens = 100000L)
    assert(selOff.count() > 0, "off-graph docs must compete for budget")
    assert(selOff.agg(max("score")).head().getLong(0) === 0L)
  }

  test("intervalJoin / intervalJoinAuto delegate and agree") {
    val pts = spark.range(500).select(col("id").as("pid"),
      (col("id") * 3 % 400).as("t"))
    val ivs = spark.range(40).select(col("id").as("iv_id"),
      (col("id") * 11 % 350).as("lo"),
      (col("id") * 11 % 350 + col("id") % 25 + 1).as("hi"))
    val manual = RangeJoin.pointInInterval(pts, "t", ivs, "lo", "hi",
        bucket = 16, keys = Nil)
      .select("pid", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = RangeJoin.pointInIntervalAuto(pts, "t", ivs, "lo", "hi",
        keys = Nil)
      .select("pid", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === manual && auto.nonEmpty)
  }

  // --- round-10 text/report operators ----------------------------------

  test("minkScores / knScores / corpusReportKAnon / frameSamplePlan delegate") {
    val mink = TextAnalysis.minkScore(docs.limit(50), "doc_id", "text", 0.2)
    assert(mink.columns.contains("mink_score"))
    assert(mink.count() > 0)
    val kn = TextAnalysis.knBigramScore(docs.limit(50), "doc_id", "text",
      0.75)
    assert(kn.columns.exists(_.contains("score")) && kn.count() > 0)
    val card = TextAnalysis.corpusReportKAnon(docs, "text", Seq("source", "lang"),
      k = 3)
    assert(card.columns.contains("suppressed") && card.count() > 0)
    val frames = MultiModal.frameSampleByTime(
      MultiModal.withPayload(docs, "doc_id", "text"), "doc_id", "payload",
      intervalMs = 1000L, maxFrames = 16)
    assert(frames.count() >= 0) // text corpus: no media payloads is fine
  }

  test("imagePHash / imageNearDupPairs delegate") {
    val withPayload = docs.limit(120).select(col("doc_id"),
      graft.functions.SyntheticImage
        .syntheticImage(col("doc_id").cast("long"), col("text"))
        .as("payload"))
    val sig = MultiModal.imagePHashSignatures(withPayload, "doc_id",
      "payload")
    assert(sig.columns.toSeq === Seq("doc_id", "format", "width",
      "height", "arows", "ahash", "drows", "dhash"))
    assert(sig.count() > 0)
    val pairs = MultiModal.imageNearDupPairs(withPayload, "doc_id", "payload",
      maxHamming = 2)
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "hamming"))
    assert(pairs.count() >= 0)
    val wide = MultiModal.imageNearDupPairsWide(withPayload, "doc_id",
      "payload", maxHamming = 2)
    assert(wide.columns.toSeq === Seq("doc_a", "doc_b", "hamming"))
    assert(wide.count() <= pairs.count()) // combined radius tightens
    val manifest = MultiModal.imageKeepManifest(
      withPayload.withColumn("status", lit(200)), "doc_id", "status",
      "payload", minPixels = 128L, maxHamming = 2)
    assert(manifest.columns.toSeq ===
      Seq("doc_id", "status", "width", "height", "reason"))
    assert(manifest.count() == withPayload.count()) // every doc tagged
  }

  test("audioPHash / audioNearDupPairs delegate") {
    val withPayload = docs.limit(120).select(col("doc_id"),
      graft.functions.SyntheticWav
        .syntheticWav(col("doc_id").cast("long"), col("text"))
        .as("payload"))
    val sig = MultiModal.audioPHashSignatures(withPayload, "doc_id",
      "payload")
    assert(sig.columns.toSeq === Seq("doc_id", "sample_rate",
      "channels", "n_samples", "arows", "ahash"))
    assert(sig.count() > 0)
    val pairs = MultiModal.audioNearDupPairs(withPayload, "doc_id", "payload",
      maxHamming = 2)
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "hamming"))
    assert(pairs.count() >= 0)
  }

  test("videoFrameHashes / videoNearDupPairs delegate") {
    val withPayload = docs.limit(120).select(col("doc_id"),
      graft.functions.SyntheticVideo
        .syntheticVideo(col("doc_id").cast("long"), col("text"))
        .as("payload"))
    val fh = MultiModal.videoFrameHashes(withPayload, "doc_id", "payload",
      maxFrames = 64)
    assert(fh.columns.toSeq === Seq("doc_id", "frame_idx", "ahash",
      "k1", "k2"))
    assert(fh.count() > 0)
    val pairs = MultiModal.videoNearDupPairs(withPayload, "doc_id", "payload",
      minShared = 2L, maxDf = 100L, maxFrames = 64)
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "shared_frames"))
    assert(pairs.count() >= 0)
    val fuzzy = MultiModal.videoNearDupPairsBanded(withPayload, "doc_id",
      "payload", maxHamming = 2, minShared = 2L, maxDf = 100L,
      maxFrames = 64)
    assert(fuzzy.columns.toSeq === Seq("doc_a", "doc_b", "shared_frames"))
    assert(fuzzy.count() >= pairs.count()) // superset of uncapped-exact-ish
    val segs = MultiModal.videoSharedSegments(withPayload, "doc_id",
      "payload", minLen = 2L, maxDf = 100L, maxFrames = 64)
    assert(segs.columns.toSeq ===
      Seq("doc_a", "doc_b", "a_start", "b_start", "seg_len"))
    assert(segs.count() >= 0)
  }

  test("phash store facades delegate") {
    val root = tmpRoot("facade_phash")
    val sigs = MultiModal.imagePHashSignatures(
      docs.limit(60).select(col("doc_id"),
        graft.functions.SyntheticImage
          .syntheticImage(col("doc_id").cast("long"), col("text"))
          .as("payload")), "doc_id", "payload")
    val n = MultiModal.phashStoreUpsert(sigs, root)
    assert(n > 0 && MultiModal.phashStoreUpsert(sigs, root) == n)
    val served = MultiModal.phashServeNearDups(
      sigs.select("doc_id", "ahash"), root, maxHamming = 2)
    assert(served.columns.toSeq ===
      Seq("query_id", "match_id", "hamming"))
    assert(served.count() >= n) // every stored doc self-matches at 0
    MultiModal.phashPublishServeIndex(spark, root, maxHamming = 2,
      nBuckets = 32, numFiles = 8)
    val pruned = MultiModal.phashServeNearDupsPruned(
      sigs.select("doc_id", "ahash"), root, maxHamming = 2)
    assert(pruned.columns.toSeq ===
      Seq("query_id", "match_id", "hamming"))
    assert(pruned.count() == served.count()) // same contract, pruned read
    assert(MultiModal.phashStoreDelete(
      sigs.select("doc_id").limit(1), root) >= 0)
  }

  test("epochSchedule delegates") {
    val got = FeatureEng.epochSchedule(docs, "doc_id", "text", "source",
      budgetTokens = 3000L, maxEpochs = 2, decayBp = 5000L)
    assert(got.columns.toSeq === Seq("doc_id", "source", "n_tokens",
      "epoch", "weight_bp"))
  }

  test("count-store retraction delegates: dsir/kn/bpe upsert -> retract -> never-ingested") {
    val base = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val shard = Seq((10L, "delta delta alpha")).toDF("doc_id", "text")
    val isT = col("doc_id") === 1L
    val dr = tmpRoot("facade_dsir_r")
    Dsir.buildModelStore(base, "doc_id", "text", isT, dr, nBuckets = 256,
      alpha = 1.0)
    assert(Dsir.upsertModelCounts(shard, "doc_id", "text", isT, dr, "s1"))
    assert(Dsir.retractModelCounts(shard, "doc_id", "text", isT, dr, "s1"))
    assert(Dsir.freezeFromStore(spark, dr) ==
      Dsir.freezeModel(base, "doc_id", "text", isT, 256, 1.0))
    val kr = tmpRoot("facade_kn_r")
    TextAnalysis.knBuildStore(base, "doc_id", "text", kr, discount = 0.75)
    assert(TextAnalysis.knUpsertCounts(shard, "doc_id", "text", kr, "s1"))
    assert(TextAnalysis.knRetractCounts(shard, "doc_id", "text", kr, "s1"))
    assert(TextAnalysis.knFreezeFromStore(spark, kr, maxTypes = 1000000)
        .asMap ===
      TextAnalysis.knFreeze(base, "doc_id", "text", discount = 0.75,
        maxTypes = 1000000).asMap)
    val br = tmpRoot("facade_bpe_r")
    Bpe.buildVocabStore(base, "doc_id", "text", br, nMerges = 5,
      minPairCount = 1L)
    assert(Bpe.upsertVocabCounts(shard, "doc_id", "text", br, "s1"))
    assert(Bpe.retractVocabCounts(shard, "doc_id", "text", br, "s1"))
    val counts = graft.offline.VersionedStore
      .read(spark, Bpe.vocabCountsTable(br))
      .filter(col("cnt") > 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("delta") && counts("alpha") === 2L)
  }

  test("unigram family delegates: train/freeze/encode round-trip") {
    val corpus = Seq((1L, "aba ab aba ba b ab aba"),
      (2L, "ab aba ba ab")).toDF("doc_id", "text")
    val model = Unigram.train(corpus, "doc_id", "text", vocabSize = 6,
      maxPieceLen = 3, rounds = 2)
    val costs = Unigram.collectCosts(model.vocab)
    assert(costs.nonEmpty && Set("a", "b").subsetOf(costs.keySet))
    val enc = Unigram.encodeDocs(corpus, "doc_id", "text", costs,
        maxPieceLen = 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // piece boundaries may differ from word boundaries, but the
    // characters must round-trip exactly
    assert(enc(1L).replace(" ", "") ===
      "aba ab aba ba b ab aba".replace(" ", ""))
    assert(enc(2L).replace(" ", "") === "ab aba ba ab".replace(" ", ""))
    val words = Unigram.encodeWords(
        Seq("aba", "ba").toDF("word"), costs, maxPieceLen = 3)
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[String]]("pieces").mkString("")).toMap
    assert(words === Map("aba" -> "aba", "ba" -> "ba"))
    // sampled mode: alpha 0 equals the exact encode
    val s0 = Unigram.encodeDocsSampled(corpus, "doc_id", "text", costs,
        maxPieceLen = 3, alphaMicro = 0L, seed = 1L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s0 === enc)
    // persisted model: refresh writes, store serves bit-equal
    val root = tmpRoot("facade_uni_store")
    Bpe.buildVocabStore(corpus, "doc_id", "text", root, nMerges = 5,
      minPairCount = 1L)
    val m = Unigram.refreshUnigram(spark, root, vocabSize = 6,
      maxPieceLen = 3, rounds = 2)
    val (servedCosts, servedL) = Unigram.modelFromStore(spark, root)
    assert(servedL === 3 && servedCosts === Unigram.collectCosts(m.vocab))
  }

  test("substr family delegates: spans/dedup, frozen strip, incremental + gram store") {
    val shared = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"
    val corpus = Seq((1L, s"$shared tail"), (2L, shared))
      .toDF("doc_id", "text")
    val spans = Dedup.exactSubstrSpans(corpus, "doc_id", "text", 3, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((2L, 1L, 10L)))
    val deduped = Dedup.exactSubstrDedup(corpus, "doc_id", "text", 3, 8).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(deduped(1L) === s"$shared tail" && deduped(2L) === "")
    val frozen = Dedup.freezeDupGrams(corpus, "doc_id", "text", 3, minDf = 2L)
    assert(frozen.nonEmpty)
    val stripped = Dedup.exactSubstrFrozen(
        Seq((9L, s"x $shared y")).toDF("doc_id", "text"), "doc_id", "text",
        frozen, 3)
      .head().getString(1)
    assert(stripped === "x y")
    val shard = Seq((10L, s"pre $shared")).toDF("doc_id", "text")
    assert(Dedup.exactSubstrSpansAgainst(corpus, shard, "doc_id", "text",
        3, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((10L, 2L)))
    assert(Dedup.exactSubstrDedupAgainst(corpus, shard, "doc_id", "text",
        3, 8)
      .head().getString(1) === "pre")
    val root = tmpRoot("facade_substr")
    Dedup.buildSubstrStore(corpus, "doc_id", "text", root, 3)
    assert(Dedup.upsertSubstrShard(
      Seq((20L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")).toDF("doc_id", "text"),
      "doc_id", "text", root, "s1"))
    val incr = Dedup.substrSpansIncremental(
        Seq((30L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 end")).toDF("doc_id", "text"),
        "doc_id", "text", root, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr === Set((30L, 1L, 10L)))
    assert(Dedup.substrDedupIncremental(
        Seq((30L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 end")).toDF("doc_id", "text"),
        "doc_id", "text", root, 8).head().getString(1) === "end")
    assert(Dedup.freezeDupGramsFromStore(spark, root, minDf = 1L).toSet ===
      Dedup.freezeDupGrams(corpus.unionByName(
          Seq((20L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")).toDF("doc_id", "text")),
        "doc_id", "text", 3, minDf = 1L).toSet)
    // retraction: the shard's grams subtract exactly
    assert(Dedup.retractSubstrShard(
      Seq((20L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")).toDF("doc_id", "text"),
      "doc_id", "text", root, "s1"))
    assert(Dedup.substrSpansIncremental(
        Seq((30L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 end")).toDF("doc_id", "text"),
        "doc_id", "text", root, 8)
      .count() === 0L)
  }

  test("round-12 family delegates: doremi / kmeans (+store) / ft multiclass (+store)") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)

    // doremi: the pluggable excess path agrees with the one-call fit
    val w = Doremi.domainWeights(docs, "doc_id", "text", "source",
      etaMicro = 500000L, steps = 5, smoothMicro = 10000L).collect()
    assert(w.nonEmpty && w.forall(_.getAs[Long]("share_micro") > 0))
    val viaExcess = Doremi.weightsFromExcess(
        Doremi.domainExcess(docs, "doc_id", "text", "source"),
        etaMicro = 500000L, steps = 5, smoothMicro = 10000L)
      .select("source", "share_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w.map(r => r.getString(0) ->
      r.getAs[Long]("share_micro")).toMap === viaExcess)
    val mix = Doremi.domainMixLearned(docs, "doc_id", "text", "source",
      etaMicro = 500000L, steps = 5, smoothMicro = 10000L)
    assert(mix.count() > 0)

    // kmeans: fit → save → load bit-equal; assignment via the loaded
    // model matches the direct one
    val km = Kmeans.fit(emb, "vec_id", "embedding", k = 4, dim = 64,
      iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("km_store").toString
    Kmeans.saveModel(spark, km, s"$tmp/km")
    val kmLoaded = Kmeans.modelFromStore(spark, s"$tmp/km")
    assert(kmLoaded.k === km.k && kmLoaded.dim === km.dim)
    assert(kmLoaded.centroids.toSeq === km.centroids.toSeq)
    val a1 = Kmeans.assign(emb, "vec_id", "embedding", km).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = Kmeans.assign(emb, "vec_id", "embedding", kmLoaded).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2)
    assert(Kmeans.clusterBalance(docs, "doc_id", "text", emb, "vec_id",
      "embedding", k = 4, dim = 64, iters = 3).count() > 0)

    // multiclass ft: train → save → load bit-equal; stored scorer ==
    // in-memory scorer
    val seed = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val mc = FtClassify.trainMc(seed, "doc_id", "text", "lang",
      nBuckets = 256, dim = 4, epochs = 4, lrMicro = 16000000L,
      maxClasses = 256)
    FtClassify.saveModelMc(spark, mc, s"$tmp/ftmc")
    val mcLoaded = FtClassify.modelMcFromStore(spark, s"$tmp/ftmc")
    assert(mcLoaded.labels.toSeq === mc.labels.toSeq)
    assert(mcLoaded.emb.toSeq === mc.emb.toSeq)
    assert(mcLoaded.w.toSeq === mc.w.toSeq)
    assert(mcLoaded.bMicro.toSeq === mc.bMicro.toSeq)
    val s1 = FtClassify.scoreFrozenMc(docs, "doc_id", "text", mc).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val s2 = FtClassify.scoreFrozenMc(docs, "doc_id", "text", mcLoaded)
      .collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(s1 === s2)
  }

  test("round-13 facades delegate: md5 minhash, gram vectors, tiered assign/dedup, refresh stores, ccnet, curriculum, rekeyed pack") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    // tiered assignment / dedup: full probe == the exact operators
    val km = Kmeans.fit(emb, "vec_id", "embedding", k = 4, dim = 64,
      iters = 2)
    assert(Kmeans.assignTiered(emb, "vec_id", "embedding", km,
        nCoarse = 2, nProbe = 2)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      == Kmeans.assign(emb, "vec_id", "embedding", km).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    assert(Kmeans.semdedupPairsTiered(emb, "vec_id", "embedding", 4, 64, 2,
        0.985, 2, 2).collect().toSet
      == Kmeans.semdedupPairs(emb, "vec_id", "embedding", 4, 64, 2, 0.985)
        .collect().toSet)
    // refresh stores round-trip
    val tmp = java.nio.file.Files.createTempDirectory("r13fac").toString
    Kmeans.initRefreshStore(spark, km, s"$tmp/km")
    assert(Kmeans.upsertAssignStats(emb, "vec_id", "embedding", s"$tmp/km",
      "s1"))
    val kr = Kmeans.refreshCentroids(spark, s"$tmp/km", maxDrift = 0.0)
    assert(kr.retrained || kr.drift == 0.0)
    assert(Kmeans.retractAssignStats(spark, s"$tmp/km", "s1"))
    val seed = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("lang"))
    val m0 = FtClassify.initRefreshStoreMc(seed, "doc_id", "text", "lang",
      s"$tmp/ft", nBuckets = 256, dim = 4, epochs = 3, lrMicro = 16000000L)
    assert(FtClassify.upsertSeedDocsMc(seed, "doc_id", "text", "lang",
      s"$tmp/ft") > 0)
    val fr = FtClassify.refreshMc(spark, s"$tmp/ft", maxDrift = 0.1)
    assert(!fr.retrained && fr.model.emb.toSeq === m0.emb.toSeq)
    assert(Kmeans.inContextPackRekeyed(docs, "doc_id", "text", emb,
      "vec_id", "embedding", k = 2, dim = 64, iters = 1, seqLen = 256L)
      .count() > 0)
  }
}
