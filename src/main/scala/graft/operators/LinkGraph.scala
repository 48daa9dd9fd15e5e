package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl-quality weighting — the standard
  * web-corpus signal (a page linked by many well-linked hosts is
  * worth more training tokens than a link-farm leaf; CommonCrawl
  * publishes exactly this as its host-level ranking).
  *
  * Ranks here are FIXED-POINT INTEGER arithmetic in micro-units
  * (the Dsir micro-log-ratio precedent): the unit mass is
  * `massMicro` (10^12), damping is an integer percentage, and every
  * per-edge contribution is an integer `div`. Floating-point power
  * iteration sums in engine- and partitioning-dependent order, so
  * two runs of the "same" PageRank can disagree in the last ulps and
  * a SQL oracle can never replay it exactly; integer division makes
  * the whole 5-iteration fit bit-reproducible across engines,
  * partitionings, and reruns — worth the ≤(n_edges + 2·|teleport
  * set|) micro-units of mass the floors leak per iteration (one per
  * per-edge contribution, plus base and dangling-share floors per
  * teleport node; documented, not hidden).
  *
  * Scale shape: each iteration is one equi-join of the edge table
  * with the current rank vector plus one groupBy(dst) — the classic
  * iterative-join plan, hash-partitionable on node id, lineage cut
  * per iteration by a lazy localCheckpoint exactly like
  * [[Dedup]]'s pointer-jump rounds. Dangling mass (nodes with no
  * outlinks) is redistributed to the teleport set, the standard
  * correction.
  */
object LinkGraph {

  /** Power-iteration PageRank over an edge table: teleport set =
    * every node (uniform restart).
    *
    * @param edges      (src, dst) long columns; self-loops dropped,
    *                   duplicate edges collapsed (simple-graph
    *                   semantics — one vote per distinct link)
    * @param nIter      fixed iteration count (the oracle unrolls it)
    * @param dampingPct damping factor as an integer percent
    * @param massMicro  total rank mass in micro-units
    * @return (node, pr_micro) — pr_micro / massMicro is the rank
    */
  def pageRankMicro(edges: DataFrame, nIter: Int = 5,
                    dampingPct: Int = 85,
                    massMicro: Long = 1000000000000L): DataFrame =
    run(edges, None, nIter, dampingPct, massMicro)

  /** TrustRank (Gyöngyi et al. 2004): PageRank with the teleport set
    * restricted to TRUSTED SEED nodes — the graph form of seed-based
    * corpus curation (CCNet/DCLM's "looks like the good set", but
    * propagated along links instead of n-grams). Trust originates
    * only at seeds and decays through link distance; a host no seed
    * transitively endorses scores EXACTLY ZERO — the spam-demotion
    * property uniform PageRank cannot give (its uniform teleport
    * hands every link farm a base rank).
    *
    * @param seeds single long column of trusted node ids (rows
    *              outside the graph are ignored; duplicates collapse)
    */
  def trustRankMicro(edges: DataFrame, seeds: DataFrame, nIter: Int = 5,
                     dampingPct: Int = 85,
                     massMicro: Long = 1000000000000L): DataFrame =
    run(edges, Some(seeds), nIter, dampingPct, massMicro)

  /** Trust-budgeted data selection: TrustRank host scores joined onto
    * per-doc token counts, then the prefix-sum budget cut spends
    * `budgetTokens` on the most-trusted hosts first. `docs` carries
    * (idCol, hostCol, tokensCol); returns (doc_id, score = trust
    * micro-units, n_tokens, cum_tokens). */
  def trustSelect(edges: DataFrame, seeds: DataFrame, docs: DataFrame,
                  idCol: String, hostCol: String, tokensCol: String,
                  budgetTokens: Long, nIter: Int = 5): DataFrame = {
    val trust = trustRankMicro(edges, seeds, nIter)
    // LEFT join + trust 0: a doc whose host never appears in the edge
    // graph scores zero (same as a host no seed endorses) and stays
    // eligible for leftover budget — an inner join would silently
    // drop off-graph documents from selection entirely
    FeatureEng.selectToBudget(
      docs.join(trust, docs(hostCol) === trust("node"), "left_outer"),
      idCol, coalesce(trust("pr_micro"), lit(0L)), docs(tokensCol),
      budgetTokens)
  }

  private def run(edges: DataFrame, seedsOpt: Option[DataFrame],
                  nIter: Int, dampingPct: Int,
                  massMicro: Long): DataFrame = {
    require(nIter >= 1 && dampingPct >= 0 && dampingPct <= 100)
    // Deliberately NOT pre-partitioned by src: the ×100 probe (round
    // 11, 200M edges) A/B'd an explicit repartition(src) before the
    // lineage cut — localCheckpoint preserves outputPartitioning, so
    // iterations would skip the e-side join exchange — and it
    // measured ~2× SLOWER at both 20M (49.5 s vs 25.1 s) and 200M
    // (218 s vs 145 s): pinning the fit to one static 64-way layout
    // costs more than AQE re-sizing each iteration's exchanges, and
    // the per-iteration contribution groupBy(dst) dominates either
    // way (docs/SCALE_NOTES.md round 11). On a real cluster the
    // equivalent lever is bucketed edge-table STORAGE, not an
    // in-plan repartition.
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    // teleport set: the seeds present in the graph, or every node
    val tele = seedsOpt
      .map(sd => nodes.join(
        sd.select(col(sd.columns.head).cast("long").as("node")).distinct(),
        Seq("node"), "left_semi"))
      .getOrElse(nodes)
      .localCheckpoint(false)
    // A seed set entirely absent from the graph leaves nt = 0, and the
    // integer div-by-zero would propagate NULL ranks silently through
    // every iteration — fail loudly instead. Seeded case only: the
    // uniform teleport set is empty only for an empty GRAPH, where
    // every frame is empty and the hazard never evaluates — not worth
    // an extra job on every pageRank call.
    seedsOpt.foreach { _ =>
      require(!tele.isEmpty,
        "teleport set is empty — no seed node appears in the graph")
    }
    val ntDf = tele.agg(count(lit(1)).as("nt"))
    val teleFlag = tele.withColumn("is_t", lit(1))
    val d = dampingPct
    val m = s"CAST($massMicro AS BIGINT)"
    var r = nodes.join(teleFlag, Seq("node"), "left").crossJoin(ntDf)
      .select(col("node"),
        when(col("is_t") === 1, expr(s"$m div nt"))
          .otherwise(lit(0L)).as("rank"))
      .localCheckpoint(false)
    for (_ <- 1 to nIter) {
      val withOut = r.join(outdeg, r("node") === outdeg("src"), "left")
      val dangDf = withOut.filter(col("outd").isNull)
        .agg(coalesce(sum("rank"), lit(0L)).as("dang"))
      val contrib = e
        .join(withOut.filter(col("outd").isNotNull)
          .select(col("node").as("cn"), col("rank"), col("outd")),
          e("src") === col("cn"))
        .select(col("dst").as("node"),
          expr(s"($d * rank) div (100 * outd)").as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
      r = nodes.join(teleFlag, Seq("node"), "left")
        .crossJoin(ntDf).crossJoin(dangDf)
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("is_t") === 1,
            expr(s"((100 - $d) * $m) div (100 * nt)") +
              expr(s"($d * dang) div (100 * nt)"))
            .otherwise(lit(0L)) +
            coalesce(col("inflow"), lit(0L))).as("rank"))
        .localCheckpoint(false)
    }
    r.select(col("node"), col("rank").as("pr_micro"))
  }
}
