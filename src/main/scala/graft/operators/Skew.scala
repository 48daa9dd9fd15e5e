package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Manual skew mitigation for aggregations whose key distribution is
  * pathological (one entity producing a large share of all events —
  * common in clickstream data, where AQE's skew handling only covers
  * joins, not aggregates).
  *
  * Two-stage salted aggregate: stage 1 groups on (key, salt) so a hot
  * key's rows spread over `salts` reducers; stage 2 merges the
  * partials. Costs one extra (tiny) shuffle; bounds any single
  * reducer's load at 1/salts of the hottest key. Sums here are
  * decimal-exact, so re-aggregating partials is lossless and
  * order-independent.
  *
  * The salt MUST be deterministic in row content. Salting on
  * monotonically_increasing_id (or rand) re-assigns rows to different
  * salts when a fetch failure recomputes a map task — reducers that
  * already consumed the old output then double-count or drop rows,
  * the hazard class SPARK-23207 fixed for round-robin repartition
  * (groupBy on a nondeterministic key gets no such protection). So
  * the salt hashes the row's HASHABLE columns (maps are excluded —
  * xxhash64 on MapType is an AnalysisException since Spark 3.0): a
  * hot key still spreads because its non-key columns vary. Rows
  * identical in every hashed column collapse onto one salt — correct,
  * just unspread; callers whose hot keys repeat whole rows (e.g. a
  * pure (key, 1.0) count shape) should pass `saltCols` naming
  * high-cardinality columns to restore the spread, and with real
  * event data (timestamps, ids) full-row duplicates are the rare
  * case — exact duplicates of a hot key are a dedup problem, not a
  * skew one.
  */
object Skew {

  /** xxhash64 (like groupBy) rejects MapType at any nesting depth. */
  private def hashable(dt: DataType): Boolean = dt match {
    case _: MapType         => false
    case ArrayType(et, _)   => hashable(et)
    case s: StructType      => s.fields.forall(f => hashable(f.dataType))
    case _                  => true
  }

  /** @param saltCols columns to derive the salt from; empty (default)
    *   means every hashable column of the row. Pass explicit
    *   high-cardinality columns when hot keys duplicate whole rows.
    */
  def saltedAgg(df: DataFrame, key: String, value: String, salts: Int,
                saltCols: Seq[String] = Nil): DataFrame = {
    val hashIn: Seq[Column] =
      if (saltCols.nonEmpty) saltCols.map(col)
      else {
        val ok = df.schema.fields.collect {
          case f if hashable(f.dataType) => col(f.name)
        }.toIndexedSeq
        // If every column is a map, there is nothing xxhash64 accepts
        // (a summable value column would already be in `ok`) — the
        // caller must name salt columns explicitly.
        require(ok.nonEmpty,
          "no hashable columns to salt on — pass saltCols explicitly")
        ok
      }
    val salted = df.withColumn("_salt",
      pmod(xxhash64(hashIn: _*), lit(salts)))
    salted
      .groupBy(col(key), col("_salt"))
      .agg(
        count(lit(1)).as("_n"),
        sum(col(value).cast("decimal(18,2)")).as("_s"))
      .groupBy(col(key).as("entity_id"))
      .agg(
        sum(col("_n")).as("n"),
        sum(col("_s")).cast("double").as("total"))
  }

  /** Salted equi-join — the executor for [[graft.operators.Sketch
    * .cmJoinPlan]]'s `shuffle_salted` verdict (AQE's skew handling
    * covers sort-merge joins it can observe at runtime; this is the
    * explicit form for when the skew is known UP FRONT from the
    * sketch bounds, or the join shape AQE won't split).
    *
    * The SKEWED side's rows spread over `salts` reducers via a
    * deterministic content-hash salt (same hazard rule as
    * [[saltedAgg]]: nondeterministic salts double-count under fetch
    * replay); the other side replicates `salts`× so every (key,
    * salt) bucket still sees all its matches. Replication multiplies
    * the small side's shuffle volume by `salts` — the price of
    * bounding any single reducer at ~1/salts of the hot key, paid
    * only when the planner says so.
    *
    * Inner-join semantics, exact duplicate preservation: output rows
    * equal the plain join's (spec-held), in whatever partition order.
    */
  def saltedJoin(skewed: DataFrame, skewKey: String, other: DataFrame,
                 otherKey: String, salts: Int,
                 saltCols: Seq[String] = Nil): DataFrame = {
    require(salts >= 2, "salts must be >= 2 (1 is a plain join)")
    val hashIn: Seq[Column] =
      if (saltCols.nonEmpty) saltCols.map(skewed(_))
      else {
        val ok = skewed.schema.fields.collect {
          case f if hashable(f.dataType) => skewed(f.name)
        }.toIndexedSeq
        require(ok.nonEmpty,
          "no hashable columns to salt on — pass saltCols explicitly")
        ok
      }
    val l = skewed.withColumn("_salt_l",
      pmod(xxhash64(hashIn: _*), lit(salts)))
    val r = other.withColumn("_salt_r",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    l.join(r, l(skewKey) === r(otherKey) && l("_salt_l") === r("_salt_r"))
      .drop("_salt_l", "_salt_r")
  }

  /** [[joinAuto]]'s result: the executed join plus the decision that
    * picked it, the pre-flight size estimate, and WHICH evidence path
    * produced the decision (`inline_sketch` — two fresh one-pass
    * sketches — or `cm_store` — kilobytes read from persisted CM
    * stores, zero corpus scans): the audit trail. */
  final case class AutoJoin(df: DataFrame, strategy: String,
                            joinSizeEst: Long,
                            planSource: String = "inline_sketch")

  /** The advisory→execution loop CLOSED: sketch both sides (one pass
    * each, kilobyte state), read [[Sketch.cmJoinPlan]]'s strategy row,
    * and dispatch it — broadcast_a/broadcast_b hint the small side,
    * shuffle_salted routes through [[saltedJoin]] with the provably
    * skewed side salted, shuffle is the plain hash join. Inner join;
    * output rows equal the plain join's under every strategy
    * (spec-held), columns a-then-b. Frames must not share column
    * names (alias before calling — the usual join-surface contract).
    */
  def joinAuto(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
               depth: Int = 3, width: Int = 1024,
               broadcastRows: Long = 5000L, skewFactor: Long = 8L,
               salts: Int = 8, saltCols: Seq[String] = Nil): AutoJoin = {
    val skA = Sketch.cmSketchRows(a.select(col(aKey).as("k")), "k",
      depth, width, fast = true)
    val skB = Sketch.cmSketchRows(b.select(col(bKey).as("k")), "k",
      depth, width, fast = true)
    dispatchAutoJoin(a, aKey, b, bKey, skA, skB, broadcastRows,
      skewFactor, salts, saltCols, planSource = "inline_sketch")
  }

  /** [[joinAuto]] fed from PERSISTED CM stores ([[Sketch.buildCmStore]]
    * / [[Sketch.upsertCm]] roots whose sketched key is the join key):
    * planning reads two kilobyte cell tables — zero corpus scans —
    * so a join both planned and executed repeatedly (the daily-build
    * shape) pays the sketch pass once at ingest, not twice per call.
    * The stores must share (depth, width, fast) — cell positions only
    * align within one parameter family, and the AMS join-size inner
    * product is meaningless across families (checked loudly). The
    * decision and dispatch rules are [[joinAuto]]'s exactly
    * (spec-held equal on the same data); the audit trail records
    * `planSource = "cm_store"`. */
  def joinAutoFromStores(a: DataFrame, aKey: String, b: DataFrame,
                         bKey: String, rootA: String, rootB: String,
                         broadcastRows: Long = 5000L,
                         skewFactor: Long = 8L, salts: Int = 8,
                         saltCols: Seq[String] = Nil): AutoJoin = {
    val spark = a.sparkSession
    val pa = Sketch.readCmParams(spark, rootA)
    val pb = Sketch.readCmParams(spark, rootB)
    require(pa == pb,
      s"CM stores disagree on (depth, width, fast): $rootA has $pa, " +
        s"$rootB has $pb — join planning needs one parameter family")
    dispatchAutoJoin(a, aKey, b, bKey,
      Sketch.readCmSketch(spark, rootA), Sketch.readCmSketch(spark, rootB),
      broadcastRows, skewFactor, salts, saltCols, planSource = "cm_store")
  }

  private def dispatchAutoJoin(a: DataFrame, aKey: String, b: DataFrame,
                               bKey: String, skA: DataFrame,
                               skB: DataFrame, broadcastRows: Long,
                               skewFactor: Long, salts: Int,
                               saltCols: Seq[String],
                               planSource: String): AutoJoin = {
    require(a.columns.toSet.intersect(b.columns.toSet).isEmpty,
      "joinAuto frames must not share column names — alias first")
    // one row — the planning decision is driver-bounded. cmStats
    // coalesces an empty side to n_rows = 0 (→ broadcast_a/_b), so the
    // no-row fallback below is belt-and-braces against future stats
    // changes, not a live path.
    val planOpt = Sketch.cmJoinPlan(skA, skB, broadcastRows, skewFactor)
      .collect().headOption
    if (planOpt.isEmpty) {
      val outCols0 = (a.columns ++ b.columns).toIndexedSeq.map(col)
      return AutoJoin(a.join(b, a(aKey) === b(bKey), "inner")
        .select(outCols0: _*), "shuffle", 0L, planSource)
    }
    val plan = planOpt.get
    val strategy = plan.getAs[String]("strategy")
    val cond = a(aKey) === b(bKey)
    val outCols = (a.columns ++ b.columns).toIndexedSeq.map(col)
    val joined = strategy match {
      case "broadcast_a" => broadcast(a).join(b, cond, "inner")
      case "broadcast_b" => a.join(broadcast(b), cond, "inner")
      case "shuffle"     => a.join(b, cond, "inner")
      case "shuffle_salted" =>
        // salt the side whose provable hot-key bound tripped the rule
        val aSkewed = plan.getAs[Long]("hot_a") *
          plan.getAs[Long]("distinct_a_lb") >=
          skewFactor * plan.getAs[Long]("n_a")
        val salted =
          if (aSkewed) saltedJoin(a, aKey, b, bKey, salts, saltCols)
          else saltedJoin(b, bKey, a, aKey, salts, saltCols)
        salted.select(outCols: _*)
    }
    AutoJoin(joined.select(outCols: _*), strategy,
      plan.getAs[Long]("join_size_est"), planSource)
  }
}
