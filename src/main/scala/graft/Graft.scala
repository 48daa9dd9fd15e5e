package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.offline.{OfflineStore, TrainingExport}
import graft.online.OnlineStore
import graft.operators.{AsofJoin, FeatureEng}
import graft.registry.{FeatureViewDef, Registry}
import graft.stats.Profiler
import graft.validation.Validation

/** The feature-store surface of the graft engine — the calls a user
  * of the reference feature store maps onto:
  *
  *  reference call                        → graft call
  *  generateTrainingDataset               → Graft.pointInTimeJoin / trainTestSplit / exportTraining
  *  MaterializationService.materialize    → Graft.materialize / materializeFull
  *  OnlineServingService.getBatch         → Graft.serve / serveWithWarnings / servePoint
  *  (online snapshot lifecycle)           → Graft.publishServingSnapshot / servingUpsert / servingCompact
  *  FeatureRegistryService.*              → Graft.registerView / Registry.*
  *  ValidationService.validate            → Graft.validate
  *  FeatureStatistics                     → Graft.profile
  *  (new) LLM-data pipeline               → graft.operators.* (Dedup, Ann, TextAnalysis, …)
  *  (new) text retrieval                  → graft.operators.Search
  *
  * The LLM-data and retrieval families have no reference counterpart;
  * they are called in `graft.operators.*` directly, as SparkEntry's
  * declared queries do.
  *
  * Every DataFrame-returning method returns a lazy plan — callers
  * compose, Catalyst optimizes, nothing executes until an action.
  */
object Graft {

  // --- training data -------------------------------------------------
  def pointInTimeJoin(features: DataFrame, labels: DataFrame,
                      featureNames: Seq[String], default: Double = 0.0,
                      lookbackDays: Int = 180): DataFrame =
    AsofJoin.pointInTime(features, labels, "entity_id", "ts",
      "feature_name", "value_float", "event_id", "value",
      featureNames, default, lookbackDays)

  def trainTestSplit(df: DataFrame, keyCol: String, trainPct: Int = 80)
  : DataFrame = FeatureEng.trainTestSplit(df, keyCol, trainPct)

  // --- offline store --------------------------------------------------
  def materialize(records: DataFrame, view: FeatureViewDef,
                  default: Double = 0.0): DataFrame =
    OfflineStore.materializeVectors(records, view.featureNames, default)

  def materializeFull(records: DataFrame, view: FeatureViewDef,
                      default: Double, asOf: String): DataFrame =
    OfflineStore.materializeFull(records, view.featureNames, default, asOf)

  // --- serving --------------------------------------------------------
  def serve(vectors: DataFrame, keys: DataFrame): DataFrame =
    OnlineStore.batchLookup(vectors, keys)

  def serveWithWarnings(records: DataFrame, keys: DataFrame,
                        view: FeatureViewDef, default: Double, asOf: String,
                        maxAgeMs: Long): DataFrame =
    OnlineStore.batchLookupWithWarnings(records, keys, view.featureNames,
      default, asOf, maxAgeMs)

  /** Publish a materialized snapshot hash-bucketed and sorted for
    * point-read serving (files opened ∝ key batch at lookup time). */
  def publishServingSnapshot(vectors: DataFrame, root: String,
                             keyCol: String = "entity_id",
                             nBuckets: Int = 256, numFiles: Int = 64)
  : Long =
    OnlineStore.publishSnapshot(vectors, root, keyCol, nBuckets, numFiles)

  /** Batch multi-get against a published snapshot with file-level
    * pruning to the requested keys' buckets. */
  def servePoint(spark: SparkSession, root: String, keys: DataFrame)
  : DataFrame =
    OnlineStore.pointLookup(spark, root, keys)

  /** Keyed-MERGE refresh of a published serving snapshot (no
    * republish); compact periodically to restore file pruning. */
  def servingUpsert(updates: DataFrame, root: String): Long =
    OnlineStore.upsertSnapshot(updates, root)

  /** Re-sort a published serving snapshot by bucket after upserts. */
  def servingCompact(spark: SparkSession, root: String,
                     numFiles: Int): Long =
    OnlineStore.compactSnapshot(spark, root, numFiles)

  // --- registry / validation / stats ---------------------------------
  def registerView(name: String, entity: String, version: Int,
                   featureNames: Seq[String]): FeatureViewDef =
    Registry.makeView(name, entity, version, featureNames)

  def validate(records: DataFrame, view: FeatureViewDef, asOf: String,
               slaMs: Map[String, Long]): DataFrame =
    Validation.validateView(records, view, asOf, slaMs)

  def profile(records: DataFrame): DataFrame =
    Profiler.profile(records, "feature_name", "value_float")

  // --- training export -------------------------------------------------
  def exportTraining(df: DataFrame, path: String, keyCol: String,
                     trainPct: Int = 80): TrainingExport.ExportManifest =
    TrainingExport.exportDataset(df, path, keyCol, trainPct)
}
