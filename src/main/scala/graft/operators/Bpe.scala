package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns

/** Byte-pair-encoding tokenizer TRAINING at corpus scale (Sennrich et
  * al. 2016, the GPT-2/SentencePiece vocabulary algorithm), plus the
  * matching encoder. The piece an LLM data engine usually shells out
  * for — here it runs where the corpus lives.
  *
  * Scale shape — the part that matters at 100 TB: the corpus is read
  * ONCE, into a (word, count) table; training then iterates over that
  * WORD table (vocabulary-sized, Heaps'-law sublinear in the corpus),
  * never the corpus. Each merge round is one pair-count aggregate +
  * one argmax collect (a single driver row) + one higher-order-fold
  * transform, with the state localCheckpoint'ed per round to cut the
  * iteration lineage (the [[Dedup.clusters]] pattern). Word-internal
  * merges only (the standard word-boundary BPE); pair counts count
  * every adjacent position. Ties break deterministically: highest
  * count, then (left, right) in UTF-8 BINARY order — Spark's string
  * comparison, which is code-point order and differs from Java's
  * UTF-16 compareTo only on ties involving non-BMP characters (the
  * spec's naive reference compares UTF-8 bytes for exactly this
  * reason) — so training is reproducible across partitionings and
  * matches the reference implementation exactly.
  */
object Bpe {

  /** One merged training state: ordered merge rules and the final
    * per-word segmentation (the encode lookup table). */
  final case class BpeModel(rules: DataFrame, wordPieces: DataFrame)

  /** `word` column → single-character symbol array — the untrained
    * baseline, shared by the initial training state and encode's OOV
    * fallback so the two can never diverge. "Character" here means
    * CODE POINT (Spark's substring/length are code-point indexed), so
    * a non-BMP character is ONE initial symbol — unlike a Java
    * `String#charAt` split, which would yield its two surrogate
    * halves (the spec's naive reference iterates code points for
    * exactly this parity). */
  private val charSymsExpr =
    "transform(sequence(1, length(word)), i -> substring(word, i, 1))"

  /** Distinct corpus words with occurrence counts — the ONLY corpus
    * statistic BPE training consumes, and therefore the natural
    * incremental-maintenance artifact: counts are additive over
    * shards, so the [[buildVocabStore]] family folds corpus arrivals
    * into a persisted (word, cnt) table without rescanning anything. */
  def corpusWordCounts(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    docs.select(explode(Fns.words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial state: distinct corpus words with counts, split into
    * single-character symbols. */
  private def initState(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = stateFromCounts(corpusWordCounts(docs, idCol, textCol))

  private def stateFromCounts(wordCounts: DataFrame): DataFrame =
    wordCounts.select(col("word"), col("cnt").cast("long").as("cnt"))
      .withColumn("syms", expr(charSymsExpr))

  /** Greedy left-to-right non-overlapping application of ONE merge
    * rule (l, r) -> l||r to a symbol array, as a higher-order fold:
    * append each symbol unless the accumulator ends with `l` and the
    * symbol is `r`, in which case the tail is replaced by the merged
    * token. The merged token is a different string than `l`, so a
    * run like "aaa" under (a,a) folds to [aa, a] — exactly the
    * greedy scan. */
  private def applyMerge(syms: org.apache.spark.sql.Column, l: String,
                         r: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Train up to `nMerges` merge rules. Stops early when no adjacent
    * pair reaches `minPairCount` occurrences. Returns the ordered
    * rule table (rank, left, right, merged, pair_count) and the final
    * word segmentation — both small (rule-count- and vocabulary-
    * sized). */
  def train(docs: DataFrame, idCol: String, textCol: String,
            nMerges: Int, minPairCount: Long = 2L): BpeModel =
    trainFromCounts(corpusWordCounts(docs, idCol, textCol), nMerges,
      minPairCount)

  /** [[train]] over a pre-computed (word, cnt) table — the entry the
    * persisted vocabulary store retrains through (no corpus scan). */
  def trainFromCounts(wordCounts: DataFrame, nMerges: Int,
                      minPairCount: Long = 2L): BpeModel = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    var state = stateFromCounts(wordCounts).localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // size guard: sequence(0, -1) DESCENDS in Spark, so a fully
      // merged single-symbol word would index syms[-1]
      val best = state
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .filter(col("pc") >= minPairCount)
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        rules += ((round + 1, l, r, l + r, pc))
        // no unpersist: localCheckpoint blocks aren't CacheManager
        // entries, the ContextCleaner frees prior rounds' RDDs on GC
        // (the Dedup.clusters convention)
        state = state.withColumn("syms",
          applyMerge(col("syms"), l, r)).localCheckpoint()
        round += 1
      }
    }
    BpeModel(
      rules.toSeq.toDF("rank", "left", "right", "merged", "pair_count"),
      state.select("word", "cnt", "syms"))
  }

  /** Greedy left-to-right application of a WHOLE BATCH of
    * non-interacting merge rules in one fold pass. Rules are keyed by
    * a two-level map literal `left -> (right -> merged)` (no string
    * concatenation, so corpus symbols can contain any separator).
    * The caller guarantees no rule's RIGHT symbol equals another
    * rule's LEFT symbol (and no merged string collides with a live
    * symbol), which makes simultaneous application equal to
    * sequential application in rank order: no merge can enable or
    * disable another rule's match, and each adjacency matches at most
    * one rule (shared lefts disambiguate by the next symbol, shared
    * rights by the previous). */
  private def applyMergeBatch(syms: org.apache.spark.sql.Column,
                              rules: Seq[(String, String, String)])
  : org.apache.spark.sql.Column = {
    val byL = rules.groupBy(_._1)
    val ruleMap = map(byL.toSeq.flatMap { case (l, rs) =>
      Seq(lit(l), map(rs.flatMap(t => Seq(lit(t._2), lit(t._3))): _*))
    }: _*)
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => {
        val hit = try_element_at(
          try_element_at(ruleMap, element_at(acc, -1)), s)
        // when-chain, not &&: branches evaluate lazily, so the
        // element_at(acc, -1) lookup never runs on an empty array
        when(size(acc) === 0, array(s))
          .when(hit.isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1), array(hit)))
          .otherwise(concat(acc, array(s)))
      })
  }

  /** Batched BPE training — EXACTLY equal to [[train]] (same rules,
    * same ranks, same segmentations; spec-held to the same naive
    * reference) but applying up to `maxBatch` merges per round, so a
    * 32k-vocabulary tokenizer costs hundreds of Spark jobs instead of
    * 64k. [[train]]'s per-merge 2-job floor (~0.13 s/merge of pure
    * scheduling measured on this box) makes real vocabularies hours
    * of driver time regardless of corpus size; this is the fix.
    *
    * Why batching can be exact: after applying a merge (a,b)→ab,
    *  - a pair (x,y) with x ≠ b and y ≠ a keeps its exact count —
    *    fusing a·b consumes an x only when x == b (pattern "a b y")
    *    and a y only when y == a (pattern "x a b"); merely sharing
    *    the left symbol (x == a) or right symbol (y == b) changes
    *    nothing — and
    *  - every NEWLY CREATED pair contains the token ab, and each of
    *    its occurrences sits on a pre-merge trigram "x a b" or
    *    "a b y" — so its count is bounded by the max pre-round
    *    trigram count through (a,b). (This also covers pairs of two
    *    merged tokens: an "ab·cd" occurrence sits on the pre-round
    *    trigram "b c d" of the (c,d) rule.)
    * So each round computes pair counts, per-pair created-pair
    * bounds, AND the trigram counts whose boundary pairs both sit in
    * the top-(maxBatch+1) window (all over the vocabulary-sized word
    * table), then SIMULATES the sequential argmax on the driver:
    * conflicting candidates' counts decay by their exact trigram
    * terms (x == b costs trig(a,b,y); y == a costs trig(x,a,b)), and
    * a candidate whose decay is NOT provable from trigrams alone —
    * hit from both sides (4-gram overlap), hit by a rule that was
    * itself accepted after decaying (its pre-round trigrams
    * over-count what it still destroys), or touched by an l==r rule
    * (greedy alternation) — turns UNCERTAIN, tracked by an upper
    * bound. A pick is accepted only while it STRICTLY beats the
    * window floor (the +1th raw count — unseen pairs only decay),
    * every uncertain bound, and every accepted rule's created-pair
    * ceiling: exactly the comparisons the sequential argmax would
    * win, so the batch — including its recorded pair_counts, which
    * are the DECAYED values — is provably the sequential result.
    * Accepted rules apply in rank-ordered LAYERS (a rule whose right
    * is some earlier same-layer rule's left starts a new fold pass),
    * all layers in one projection. A round that can prove nothing
    * falls back to one global sequential argmax, guaranteeing
    * progress. Worst case throughout is plain sequential training —
    * still exact.
    *
    * Returns the model plus the round count (the probe's evidence
    * that batching actually batched).
    */
  def trainBatched(docs: DataFrame, idCol: String, textCol: String,
                   nMerges: Int, minPairCount: Long = 2L,
                   maxBatch: Int = 128,
                   progress: (Int, Int) => Unit = (_, _) => ())
  : (BpeModel, Int) =
    trainBatchedFromCounts(corpusWordCounts(docs, idCol, textCol),
      nMerges, minPairCount, maxBatch, progress)

  /** Below this many merges the sequential trainer wins (2 cheap jobs
    * per merge); above it the batched trainer's ~10x fewer rounds do —
    * the measured crossover is a few hundred merges (SCALE_NOTES
    * round 8). */
  private val BatchedMinMerges = 200

  /** Train from a (word, cnt) table with whichever exact trainer is
    * cheaper for `nMerges` — [[trainFromCounts]] below
    * `BatchedMinMerges`, [[trainBatchedFromCounts]] from it on. Both
    * learn identical rules; a corpus trains through
    * `trainAutoFromCounts(corpusWordCounts(docs, idCol, textCol), …)`. */
  def trainAutoFromCounts(wordCounts: DataFrame, nMerges: Int,
                          minPairCount: Long = 2L): BpeModel =
    if (nMerges < BatchedMinMerges)
      trainFromCounts(wordCounts, nMerges, minPairCount)
    else trainBatchedFromCounts(wordCounts, nMerges, minPairCount)._1

  /** [[trainBatched]] over a pre-computed (word, cnt) table. */
  def trainBatchedFromCounts(wordCounts: DataFrame, nMerges: Int,
                             minPairCount: Long = 2L,
                             maxBatch: Int = 128,
                             progress: (Int, Int) => Unit = (_, _) => ())
  : (BpeModel, Int) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1")
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    var state = stateFromCounts(wordCounts).localCheckpoint()
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var rounds = 0
    var done = false
    while (rules.size < nMerges && !done) {
      val pairsAll = state
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
      val pairs = pairsAll.filter(col("pc") >= minPairCount)
      val tris = state
        .filter(size(col("syms")) >= 3)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 3), " +
            "i -> struct(syms[i] AS s1, syms[i+1] AS s2, syms[i+2] AS s3))"))
          .as("t"))
        .groupBy(col("t.s1").as("s1"), col("t.s2").as("s2"),
          col("t.s3").as("s3"))
        .agg(sum("cnt").as("tc"))
      // created (x, ab) pairs sit on trigrams (*, a, b); created
      // (ab, y) pairs on (a, b, *) — bound each rule by the max
      val cRight = tris.groupBy(col("s2").as("l"), col("s3").as("r"))
        .agg(max("tc").as("cr"))
      val cLeft = tris.groupBy(col("s1").as("l"), col("s2").as("r"))
        .agg(max("tc").as("cl"))
      // merged-string collision guard: if concat(l, r) ALREADY exists
      // as a symbol with adjacencies (it appears in the pair table),
      // applying the merge ADDS instances to pre-existing pairs named
      // with that symbol — their counts can rise above later
      // candidates', which the disjoint-pairs-keep-their-counts
      // invariant doesn't cover. Possible once merges produce
      // multi-char symbols (e.g. (b,c)→bc early, later (a,bc) merges
      // to "abc" while "abc" was already created via (ab,c)). A
      // flagged rule is still safely ACCEPTED (gains materialize only
      // after its application) but must END its round.
      //
      // The live-symbol set comes from the UNFILTERED pair table:
      // with minPairCount > 1 a live symbol whose every adjacency has
      // count below the threshold would vanish from `pairs` and
      // escape the guard, letting an undetected collision push a
      // post-merge count past the created-pair ceiling by up to
      // minPairCount - 1. (A symbol with NO adjacency at all — only
      // fully-merged single-symbol words — is safely absent: with no
      // existing pairs named by it, there is nothing for created
      // pairs to pool with.)
      val symbols = pairsAll.select(explode(array(col("l"), col("r")))
        .as("sym")).distinct()
      val want = math.min(maxBatch, nMerges - rules.size)
      // +1 row: the extra row's RAW count is the window floor — every
      // unseen pair is at or below it (counts only decay mid-batch;
      // gains are excluded by the collision guard)
      val lim = want + 1
      val cand = pairs
        .join(cRight, Seq("l", "r"), "left")
        .join(cLeft, Seq("l", "r"), "left")
        .withColumn("cb", least(col("pc"),
          greatest(coalesce(col("cr"), lit(0L)),
            coalesce(col("cl"), lit(0L)))))
        .join(symbols.withColumn("collides", lit(true)),
          concat(col("l"), col("r")) === col("sym"), "left")
        .withColumn("collides", coalesce(col("collides"), lit(false)))
        .select("l", "r", "pc", "cb", "collides")
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(lim)
        .collect()
      if (cand.isEmpty) done = true
      else {
        // Decay-aware driver simulation of the sequential argmax over
        // the window. A candidate (x, y) INTERACTS with an accepted
        // rule (a, b) only when x == b ("a b y": the merge consumes
        // the b, destroying exactly trig(a,b,y) occurrences of
        // (x, y)) or y == a ("x a b": consumes the a, destroying
        // trig(x,a,b)); sharing the left (x == a) or right (y == b)
        // symbol changes NOTHING. So with the trigram counts whose
        // boundary pairs both sit in the window, the decayed counts
        // of conflicting candidates are EXACTLY computable — as long
        // as the destroying rule is PRISTINE (accepted at its raw
        // count: a rule accepted after decay has lost occurrences,
        // so its pre-round trigrams over-count what it destroys) and
        // the candidate has not been hit from BOTH sides (an x-side
        // and a y-side term can double-count one 4-gram instance).
        // Candidates outside those provable cases turn UNCERTAIN
        // (tracked by an upper bound); acceptance requires the pick
        // to STRICTLY beat the window floor, every uncertain bound,
        // and every accepted rule's created-pair ceiling — exactly
        // the comparisons the sequential argmax would win.
        val subTri = {
          val wDf = cand.map(r => (r.getString(0), r.getString(1)))
            .toSeq.toDF("wl", "wr")
          tris
            .join(broadcast(wDf),
              col("s1") === col("wl") && col("s2") === col("wr"),
              "left_semi")
            .join(broadcast(wDf),
              col("s2") === col("wl") && col("s3") === col("wr"),
              "left_semi")
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
              r.getLong(3)).toMap
        }
        val n = cand.length
        val lArr = Array.tabulate(n)(cand(_).getString(0))
        val rArr = Array.tabulate(n)(cand(_).getString(1))
        val raw = Array.tabulate(n)(cand(_).getLong(2))
        val cbArr = Array.tabulate(n)(cand(_).getLong(3))
        val coll = Array.tabulate(n)(cand(_).getBoolean(4))
        val cur = raw.clone()
        val uncertain = new Array[Boolean](n)
        val hi = raw.clone()
        val accepted = new Array[Boolean](n)
        val sawDx = new Array[Boolean](n)
        val sawDy = new Array[Boolean](n)
        val floor = if (n < lim) minPairCount - 1 else raw(n - 1)
        // tie-break comparisons in UTF-8 binary order (Spark's sort)
        def u8(s: String) =
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        def u8cmp(a: String, b: String): Int =
          java.util.Arrays.compareUnsigned(u8(a), u8(b))
        var maxCb = Long.MinValue
        // merged strings accepted THIS round: two same-round rules
        // producing the SAME merged string (e.g. (a,bc) and (ab,c)
        // both -> "abc", reachable via word-boundary-divergent
        // segmentations) pool their created-pair occurrences into one
        // symbol-string pair, so the true created count can reach the
        // SUM of their ceilings while maxCb tracks only the max of
        // per-rule min(bc, cb) terms — a later pick could then be
        // accepted where the sequential argmax would take the pooled
        // created pair. Same shape as the live-symbol collision: the
        // duplicate rule itself is safely accepted (its own count
        // comparison predates any application), but nothing after it
        // is provable this round.
        val acceptedMerged = scala.collection.mutable.Set.empty[String]
        // layered application preserving rank order: a rule whose
        // RIGHT equals a current-layer rule's LEFT must apply in a
        // LATER pass (the one-pass scan would otherwise consume the
        // earlier rule's left symbol from the left first)
        val maxLayers = 6
        val layers = scala.collection.mutable.ArrayBuffer
          .empty[Seq[(String, String, String)]]
        var curLayer = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, String)]
        var curLefts = scala.collection.mutable.Set.empty[String]
        var took = 0
        var stopRound = false
        while (took < want && !stopRound) {
          var best = -1
          var j = 0
          while (j < n) {
            if (!accepted(j) && !uncertain(j) && cur(j) >= minPairCount &&
                (best < 0 || cur(j) > cur(best) ||
                  (cur(j) == cur(best) && {
                    val c1 = u8cmp(lArr(j), lArr(best))
                    c1 < 0 || (c1 == 0 && u8cmp(rArr(j), rArr(best)) < 0)
                  }))) best = j
            j += 1
          }
          var maxUncHi = Long.MinValue
          var u = 0
          while (u < n) {
            if (!accepted(u) && uncertain(u) && hi(u) > maxUncHi)
              maxUncHi = hi(u)
            u += 1
          }
          if (best < 0 || cur(best) <= floor || cur(best) <= maxCb ||
              cur(best) <= maxUncHi) {
            if (sys.env.contains("GRAFT_BPE_DEBUG") && took > 0) {
              val why =
                if (best < 0) "exhausted"
                else if (cur(best) <= floor) "floor"
                else if (cur(best) < maxCb) "cbound-lt"
                else if (cur(best) == maxCb) "cbound-eq"
                else if (cur(best) < maxUncHi) "uncertain-lt"
                else "uncertain-eq"
              println(s"[bpe] round stop: $why at batch=$took " +
                s"cur=${if (best >= 0) cur(best) else -1}")
            }
            stopRound = true
          } else {
            val needNewLayer = curLefts.contains(rArr(best))
            if (needNewLayer && layers.size + 1 >= maxLayers) {
              stopRound = true
            } else {
              if (needNewLayer) {
                layers += curLayer.toSeq
                curLayer = scala.collection.mutable.ArrayBuffer.empty
                curLefts = scala.collection.mutable.Set.empty
              }
              val (bl, br, bc) = (lArr(best), rArr(best), cur(best))
              curLayer += ((bl, br, bl + br))
              curLefts += bl
              accepted(best) = true
              took += 1
              rules += ((rules.size + 1, bl, br, bl + br, bc))
              maxCb = math.max(maxCb, math.min(bc, cbArr(best)))
              val tainted = bc < raw(best)
              val isRun = bl == br
              var k = 0
              while (k < n) {
                // uncertain candidates FREEZE: their cur is no longer
                // exact, so a later "exact" decay term could
                // double-count instances the taint source already
                // destroyed — subtracting would let hi undershoot the
                // true count and break the acceptance proof. hi stays
                // as set (decay only shrinks true counts, so a frozen
                // upper bound remains valid).
                if (!accepted(k) && !uncertain(k)) {
                  if (isRun) {
                    // greedy alternation makes a run rule's trigram
                    // decay inexact — touching candidates go opaque
                    if (lArr(k) == bl || rArr(k) == bl) {
                      uncertain(k) = true
                      hi(k) = math.min(hi(k), cur(k))
                    }
                  } else {
                    val dxHit = lArr(k) == br
                    val dyHit = rArr(k) == bl
                    if (dxHit || dyHit) {
                      val dx = if (dxHit)
                        subTri.getOrElse((bl, br, rArr(k)), 0L) else 0L
                      val dy = if (dyHit)
                        subTri.getOrElse((lArr(k), bl, br), 0L) else 0L
                      if (tainted) {
                        uncertain(k) = true
                        hi(k) = math.min(hi(k), cur(k))
                      } else if (dxHit && dyHit) {
                        // both sides of ONE rule (the reverse pair):
                        // overlap bounded by min(dx, dy) 4-grams, so
                        // at least max(dx, dy) really died
                        uncertain(k) = true
                        hi(k) = math.min(hi(k),
                          cur(k) - math.max(dx, dy))
                      } else if ((dx > 0L && sawDy(k)) ||
                                 (dy > 0L && sawDx(k))) {
                        // cross-rule two-sided history: a 4-gram can
                        // be counted by both an old and a new term
                        uncertain(k) = true
                        hi(k) = math.min(hi(k), cur(k))
                      } else {
                        cur(k) -= (dx + dy)
                        if (cur(k) < 0L) cur(k) = 0L
                        if (dx > 0L) sawDx(k) = true
                        if (dy > 0L) sawDy(k) = true
                      }
                    }
                  }
                }
                k += 1
              }
              // merged string collides with a live symbol (gains for
              // existing pairs) or duplicates a same-round accepted
              // rule's merged string (created-pair ceilings pool):
              // nothing after it is provable this round
              val dupMerged = !acceptedMerged.add(bl + br)
              if (coll(best) || dupMerged) stopRound = true
            }
          }
        }
        if (curLayer.nonEmpty) layers += curLayer.toSeq
        if (took == 0) {
          // zero provable progress (e.g. the whole window ties at the
          // floor) — take ONE exact global argmax like the sequential
          // trainer, guaranteeing termination
          val best = pairs
            .orderBy(col("pc").desc, col("l"), col("r"))
            .limit(1).collect()(0)
          val (l, r, pc) =
            (best.getString(0), best.getString(1), best.getLong(2))
          rules += ((rules.size + 1, l, r, l + r, pc))
          state = state.withColumn("syms",
            applyMerge(col("syms"), l, r)).localCheckpoint()
        } else {
          // all layers in ONE projection: nested fold passes
          val newSyms = layers.foldLeft(col("syms"))(
            (c, layer) => applyMergeBatch(c, layer))
          state = state.withColumn("syms", newSyms).localCheckpoint()
        }
        rounds += 1
        progress(rounds, rules.size)
      }
    }
    (BpeModel(
      rules.toSeq.toDF("rank", "left", "right", "merged", "pair_count"),
      state.select("word", "cnt", "syms")), rounds)
  }

  /** Encode a corpus with a trained model: each word joins the final
    * segmentation table (BPE is deterministic per word, so the
    * training state IS the encoder — the standard piece-cache trick;
    * no per-rule loop at encode time). Out-of-vocabulary words fall
    * back to single characters, the untrained-symbol baseline.
    * Output: one row per (doc, word position) with the piece array —
    * explode or flatten downstream as needed.
    *
    * Scale shape: one corpus tokenize + one equi-join against the
    * vocabulary-sized piece table (AQE broadcasts it when small);
    * the corpus never shuffles.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             model: BpeModel): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(Fns.words(col(textCol))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    words.join(model.wordPieces.select(col("word"), col("syms")),
        Seq("word"), "left")
      .withColumn("pieces", coalesce(col("syms"), expr(charSymsExpr)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("word"), col("pieces"))
  }

  /** Segment ONE word by REPLAYING the trained merge rules in rank
    * order, each applied greedily left-to-right — byte-for-byte the
    * training semantics (the same per-rule fold), so for any word
    * that was IN the training corpus this reproduces the cached
    * training segmentation exactly (spec-proven), and for unseen
    * words it produces what training WOULD have produced had the
    * word been present with count 0.
    *
    * Deliberately NOT the min-rank-present loop some encoders use:
    * the two differ when a later rule's merged string collides with
    * an earlier rule's left/right symbol (the min-rank loop would
    * revisit the earlier rule; sequential training never does), and
    * the cache this must agree with IS the sequential result. A
    * symbol-set membership check skips the vast majority of rules in
    * O(1), so cost is ~O(nRules) hash probes + O(applicable · len)
    * fold work per DISTINCT word. */
  def encodeWord(word: String, rules: IndexedSeq[(String, String)])
  : Vector[String] = {
    var syms = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    // symbols ever present — false positives only cost a wasted fold
    val present = scala.collection.mutable.Set.empty[String]
    syms.foreach(present += _)
    var ri = 0
    while (ri < rules.length && syms.length >= 2) {
      val (l, r) = rules(ri)
      if (present(l) && present(r)) {
        var acc = List.empty[String] // reversed
        var mergedAny = false
        syms.foreach { s =>
          if (acc.nonEmpty && acc.head == l && s == r) {
            acc = (l + r) :: acc.tail
            mergedAny = true
          } else acc = s :: acc
        }
        if (mergedAny) {
          syms = acc.reverse.toVector
          present += (l + r)
        }
      }
      ri += 1
    }
    syms
  }

  /** Encode a corpus INCLUDING words the training corpus never saw:
    * seen words ride the piece-cache equi-join exactly like
    * [[encode]]; unseen words are segmented by replaying the merge
    * ranks ([[encodeWord]]) — the real tokenizer-serving semantics,
    * instead of [[encode]]'s characters-only OOV fallback.
    *
    * Scale shape: the corpus tokenizes once; the piece cache joins
    * broadcast-ish (vocabulary-sized); only the DISTINCT unseen words
    * reach the rule engine (mapPartitions over a word-table-sized
    * frame with the broadcast rank map — the rule table is the model
    * artifact, driver-bounded like the SQ8 grids and DSIR models),
    * and their segmentations join back by word. The corpus itself
    * never shuffles; genuinely imperative work (the per-word merge
    * loop) touches words, never documents.
    */
  def encodeAny(docs: DataFrame, idCol: String, textCol: String,
                model: BpeModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ruleSeq: IndexedSeq[(String, String)] =
      model.rules.select("rank", "left", "right").collect()
        .sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    val ranksBc = spark.sparkContext.broadcast(ruleSeq)
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(Fns.words(col(textCol))).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .localCheckpoint(false) // feeds the join twice below
    val cached = words.join(
      model.wordPieces.select(col("word"), col("syms")), Seq("word"), "left")
    val unseenPieces = cached.filter(col("syms").isNull)
      .select("word").distinct().as[String]
      .mapPartitions { it =>
        val rk = ranksBc.value
        it.map(w => (w, encodeWord(w, rk)))
      }.toDF("word", "oov_syms")
    // broadcast hint: post-mapPartitions frames carry no stats, so
    // the planner would sort-merge (shuffling the CORPUS word
    // stream); the unseen table is vocabulary-sized — the same
    // broadcast-side assumption as the piece cache above
    cached.join(broadcast(unseenPieces), Seq("word"), "left")
      .withColumn("pieces", coalesce(col("syms"), col("oov_syms")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("word"), col("pieces"))
  }

  // --- persisted vocabulary store (incremental tokenizer upkeep) -----
  //
  // The tokenizer-maintenance counterpart of the DSIR count store
  // (Dsir.scala buildModelStore/upsertModelCounts): BPE training's
  // only corpus statistic is the (word, cnt) table and counts are
  // ADDITIVE over shards, so a persisted word-count table plus a
  // shard ledger turns "a new corpus shard arrived" from a full
  // corpus retokenize into one shard-sized MERGE. Whether the RULES
  // must be retrained is then a drift decision against the counts
  // the current rules were trained on (stored inside the segments
  // artifact) — the ivfIndexStats retrain-vs-keep pattern.

  def vocabCountsTable(root: String): String = s"$root/word_counts"
  def vocabAppliedTable(root: String): String = s"$root/applied"
  def vocabParamsTable(root: String): String = s"$root/params"
  def vocabRulesTable(root: String): String = s"$root/rules"
  def vocabSegsTable(root: String): String = s"$root/segments"

  /** Build and PERSIST the tokenizer store under `root`:
    * `word_counts` (range-partitioned and sorted by word, so shard
    * merges prune files by footer range), `params`, the shard
    * `applied` ledger, and the trained `rules` + `segments` (the
    * model, trained from the counts — segments keep each word's
    * train-time cnt, which is what drift is measured against). */
  def buildVocabStore(docs: DataFrame, idCol: String, textCol: String,
                      root: String, nMerges: Int,
                      minPairCount: Long = 2L, numFiles: Int = 8): Unit = {
    import graft.offline.VersionedStore
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = corpusWordCounts(docs, idCol, textCol)
    VersionedStore.overwrite(
      counts.repartitionByRange(math.max(1, numFiles), col("word"))
        .sortWithinPartitions("word"),
      vocabCountsTable(root))
    VersionedStore.overwrite(
      Seq((nMerges.toLong, minPairCount)).toDF("n_merges", "min_pair_count"),
      vocabParamsTable(root))
    VersionedStore.overwrite(
      Seq("__init__").toDF("shard_id"), vocabAppliedTable(root))
    retrainFromStore(spark, root)
  }

  /** Fold ONE corpus shard's word counts into the store: a keyed
    * MERGE on `word` rewriting only the files whose word ranges the
    * shard touches, EXACTLY-ONCE under the engine-wide
    * [[graft.offline.Ledger.ingestOnce]] intent/done protocol (both
    * tokenizer trainers and the drift measure read these counts as
    * exact — a crash-replayed double count would silently tilt merge
    * ranks and unigram costs). Returns whether the shard was applied.
    * Rules are NOT retrained here — call [[refreshVocab]] on whatever
    * cadence suits. */
  def upsertVocabCounts(shardDocs: DataFrame, idCol: String,
                        textCol: String, root: String,
                        shardId: String): Boolean = {
    import graft.offline.Ledger
    val spark = shardDocs.sparkSession
    Ledger.requireFrameFree(shardId)
    if (Ledger.isApplied(spark, vocabAppliedTable(root), shardId))
      return false
    Ledger.ingestOnce(spark, vocabAppliedTable(root),
      vocabCountsTable(root), Seq("word"), Seq("cnt"),
      corpusWordCounts(shardDocs, idCol, textCol), shardId)
  }

  /** Retract one previously-ingested shard from the word-count store
    * — the right-to-be-forgotten path every additive count store
    * carries ([[graft.offline.Ledger.retractOnce]]'s intent/done
    * crash protocol): word counts subtract exactly and exhausted
    * words are deleted, so both tokenizer trainers
    * ([[retrainFromStore]], [[Unigram.trainFromStore]]) thereafter
    * fit a corpus that never saw the shard. Rules are NOT retrained
    * here — [[refreshVocab]]'s drift gate will see the mass change. */
  def retractVocabCounts(shardDocs: DataFrame, idCol: String,
                         textCol: String, root: String,
                         shardId: String): Boolean = {
    import graft.offline.Ledger
    val spark = shardDocs.sparkSession
    Ledger.retractOnce(spark, vocabAppliedTable(root),
      vocabCountsTable(root), Seq("word"), Seq("cnt"),
      corpusWordCounts(shardDocs, idCol, textCol), shardId)
  }

  /** The store's current counts with full-retraction crash residue
    * filtered (cnt = 0 rows deleteKeys could not remove are NOT
    * corpus words) — every counts consumer reads through this. */
  private[operators] def storeCounts(spark: SparkSession,
                                     root: String): DataFrame = {
    import graft.offline.VersionedStore
    VersionedStore.read(spark, vocabCountsTable(root))
      .filter(col("cnt") > 0)
  }

  /** Token-mass drift between the CURRENT counts and the counts the
    * stored rules were trained on: L1 distance over the word union
    * (new words and vanished words count fully) normalized by the
    * current total mass. 0 right after (re)training; approaches the
    * new-shard mass fraction as unseen-vocabulary shards arrive. */
  def vocabDrift(spark: SparkSession, root: String): Double = {
    import graft.offline.VersionedStore
    val cur = storeCounts(spark, root)
      .select(col("word"), col("cnt").as("c_now"))
    val trained = VersionedStore.read(spark, vocabSegsTable(root))
      .select(col("word"), col("cnt").as("c_train"))
    val r = cur.join(trained, Seq("word"), "full_outer")
      .agg(
        sum(abs(coalesce(col("c_now"), lit(0L)) -
          coalesce(col("c_train"), lit(0L)))).as("l1"),
        sum(coalesce(col("c_now"), lit(0L))).as("mass"))
      .head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) 0.0
    else r.getLong(0).toDouble / r.getLong(1)
  }

  final case class VocabRefresh(drift: Double, retrained: Boolean,
                                nRules: Long)

  /** Retrain-vs-keep: measure [[vocabDrift]]; above `maxDrift`,
    * retrain the rules from the STORED counts (no corpus scan — the
    * store is the corpus statistic) and re-persist rules + segments;
    * otherwise keep serving the current model. Old rule versions stay
    * readable (copy-on-write overwrite), so in-flight encodes are
    * unaffected. */
  def refreshVocab(spark: SparkSession, root: String,
                   maxDrift: Double = 0.1): VocabRefresh = {
    import graft.offline.VersionedStore
    val drift = vocabDrift(spark, root)
    if (drift > maxDrift) {
      retrainFromStore(spark, root)
      VocabRefresh(drift, retrained = true,
        VersionedStore.read(spark, vocabRulesTable(root)).count())
    } else
      VocabRefresh(drift, retrained = false,
        VersionedStore.read(spark, vocabRulesTable(root)).count())
  }

  /** The stored model, for [[encode]]/[[encodeAny]]. */
  def vocabModel(spark: SparkSession, root: String): BpeModel = {
    import graft.offline.VersionedStore
    BpeModel(VersionedStore.read(spark, vocabRulesTable(root)),
      VersionedStore.read(spark, vocabSegsTable(root)))
  }

  private def retrainFromStore(spark: SparkSession, root: String): Unit = {
    import graft.offline.VersionedStore
    val p = VersionedStore.read(spark, vocabParamsTable(root)).head()
    val (nMerges, minPc) = (p.getLong(0).toInt, p.getLong(1))
    val model = trainAutoFromCounts(storeCounts(spark, root), nMerges,
      minPc)
    VersionedStore.overwrite(model.rules, vocabRulesTable(root))
    VersionedStore.overwrite(model.wordPieces, vocabSegsTable(root))
  }
}
