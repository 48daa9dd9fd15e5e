package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end workflow of a reference feature-store user, expressed
  * entirely through the Graft facade: register a view → point-in-time
  * training set → deterministic split → materialize vectors → serve →
  * validate. One integration path over real sf0.001 data.
  */
class TrainingPipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("register → asof training set → split → materialize → serve → validate") {
    val d = TestSpark.sfDir
    val records = Tables.featureRecords(spark, d)
    val view = Graft.registerView("user_activity", "user", 1,
      Seq("click", "view", "error", "signup"))

    // 1. training set: purchases are labels, features as-of label time
    val ev = Tables.events(spark, d)
    val features = records.select(col("entity_id"), col("event_time").as("ts"),
      col("feature_name"), col("value_float"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").cast("string").as("entity_id"), col("ts"),
        col("event_id"), col("value"))
    val training = Graft.pointInTimeJoin(features, labels, view.featureNames)
    val nLabels = labels.count()
    assert(training.count() == nLabels) // one row per label, always

    // 2. deterministic split on the label id
    val split = Graft.trainTestSplit(training, "label_id")
    assert(split.count() == nLabels)
    val trainFrac = split.filter(col("split") === "train").count().toDouble / nLabels
    assert(trainFrac > 0.6 && trainFrac < 0.95)

    // 3. materialize + serve a key batch
    val vectors = Graft.materialize(records, view)
    val keys = ev.select(col("user_id").cast("string").as("entity_id"))
      .distinct().limit(10)
    val served = Graft.serve(vectors, keys)
    assert(served.count() == 10)
    assert(served.columns.toSet ==
      Set("entity_id", "n_default") ++ view.featureNames.map("f_" + _))

    // 4. validation gate over the same records
    val report = Graft.validate(records, view, "2024-02-01 00:00:00",
      view.featureNames.map(_ -> 90L * 86400000L).toMap).head()
    assert(report.getAs[Boolean]("schema_ok"))
    assert(report.getAs[Boolean]("validation_pass"))
  }

  test("LLM curation pipeline: line dedup → redact → dedup → strip spans → quality filter → decontaminate → pack") {
    import graft.operators.{Dedup, TextAnalysis, FeatureEng}
    val raw = Tables.documents(spark, TestSpark.sfDir)
    val n = raw.count()

    // 0a. boilerplate pass: cut corpus-frequent lines first (cheap,
    // improves every downstream dedup/quality signal); on this
    // single-line corpus with maxDf above the dup-cluster sizes it
    // must be a no-op — which is itself worth pinning
    val lined = Dedup.lineDedup(raw, "doc_id", "text",
        maxDf = 50, minChars = 5)
      .select(col("doc_id"), col("text_clean").as("text"))
    assert(lined.count() == n, "line dedup keeps every document")

    // 0b. anonymize before anything persists or pairs
    val docs = TextAnalysis.redactPii(lined, "doc_id", "text")
      .select(col("doc_id"), col("text_redacted").as("text"))
    assert(docs.count() == n)

    // 1. doc-level dedup: the production keep list (exact → LSH → verify)
    val kept = Dedup.keepList(docs, "doc_id", "text", n = 3,
      threshold = 0.8, maxDf = 0, exact = false)
    val keptDocs = docs.join(kept, Seq("doc_id"), "left_semi")
    assert(kept.count() <= n && kept.count() > 0)

    // 2. span-level dedup on the survivors: strip duplicated substrings
    val spans = Dedup.overlapSpans(keptDocs, "doc_id", "text",
      n = 3, minTokens = 8, maxDf = 100)
    val stripped = Dedup.stripSpans(keptDocs, "doc_id", "text", spans)
      .withColumnRenamed("text_clean", "text")
    assert(stripped.count() == keptDocs.count(),
      "span-level dedup keeps every document")
    // stripping only removes tokens: no doc grows
    val grew = stripped.as("s")
      .join(keptDocs.select(col("doc_id"), col("text").as("orig")), "doc_id")
      .filter(length(col("s.text")) > length(col("orig"))).count()
    assert(grew == 0, s"$grew docs grew after stripSpans")

    // 3. quality filter on the cleaned text
    val scored = TextAnalysis.qualityClassifier(stripped, "doc_id", "text",
      TextAnalysis.QualityThresholds(minWords = 10L))
    val quality = stripped.join(
      scored.filter(col("keep")).select("doc_id"), Seq("doc_id"),
      "left_semi")
    assert(quality.count() > 0 && quality.count() <= stripped.count())

    // 4. decontaminate against a pseudo-eval slice
    val evalDocs = docs.filter(col("doc_id") % 10 === 0)
    val contaminated = Dedup.decontaminate(
      quality.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      evalDocs, "doc_id", "text", n = 3, minOverlap = 5L)
    val clean = quality.filter(col("doc_id") % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    assert(clean.join(contaminated, Seq("doc_id"), "left_semi").count() == 0,
      "no contaminated doc may survive the anti-join")

    // 5. soft quality sampling: tilt the surviving corpus by score —
    // weight >= 1 docs are certain, nothing outside `clean` can enter
    val sampled = FeatureEng.weightedSample(
      clean.join(TextAnalysis.quality(clean, "doc_id", "text")
        .select("doc_id", "quality_score"), Seq("doc_id")),
      "doc_id", col("quality_score"))
    assert(sampled.count() <= clean.count())

    // 6. pack into training sequences under a token budget
    val packed = FeatureEng.packSequences(sampled, "doc_id", "text",
      budgetTokens = 512L)
    assert(packed.count() == sampled.count(),
      "every surviving doc lands in exactly one sequence")
    // packing is by exact running start offset: every doc STARTS
    // inside its bin's budget (a straddling doc may extend past it)
    assert(packed.filter(col("bin_offset") >= 512L).count() == 0,
      "every doc must start within its bin's token budget")
    assert(packed.filter(col("bin") < 0).count() == 0)

    // 7. materialize the epoch in shuffled training order
    val outRoot = java.nio.file.Files
      .createTempDirectory("curated").toString + "/epoch0"
    val rows = graft.offline.TrainingExport.exportShuffled(
      sampled, outRoot, "doc_id", nShards = 4)
    assert(rows == sampled.count(),
      "the exported epoch holds exactly the sampled corpus")
    val back = spark.read.parquet(outRoot + "/data")
    assert(back.count() == rows &&
      back.select("shard").distinct().count() == 4L)
  }
}
