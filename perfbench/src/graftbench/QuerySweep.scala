package graftbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** Declared queries over the generated tables, each built, planned and
  * run to a noop sink, in a seed-shuffled order. After an untimed warm-up
  * pass, measured passes repeat while the next fits in the budget. Row
  * counts of every pass are checked against the DuckDB oracle outside
  * the JVM. */
object QuerySweep {
  /** A fixed, stratified slice of `SparkEntry.queries` (170 entries take
    * ~140 s warm at sf 0.01 on 4 cores, past one run's limit): TPC-H
    * aggregation, the feature-store family over `events`, text over
    * `documents`, vector search over `embeddings`, and a
    * construction-heavy tokenizer (9 jobs before its DataFrame exists).
    * The same queries run on every seed, so passes compare. */
  val Slice: Seq[String] = Seq(
    "q1_agg", "q_asof_join", "q_materialize_vectors", "q_dedup_exact",
    "q_ann_topk", "q_unigram_encode")

  /** One untimed pass on the cold JVM, then at least `MinPasses`
    * measured ones: each query's median is then never its slowest
    * still-warming pass. */
  val WarmupPasses = 1
  val MinPasses = 5

  def run(st: RunState): Unit = {
    import st._
    val dir = args.data
    val names = Slice
    val oracle = SparkEntry.oracleSql
    extra("oracle_sql") = names.flatMap(n => oracle.get(n).map(n -> _)).toMap

    val perQuery = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 0
    def runPass(warmup: Boolean): Unit = {
      pass += 1
      tracer.unit("pass")
      val order = new scala.util.Random(args.seed * 1000 + pass).shuffle(names)
      order.foreach { q =>
        tracer.request(s"$q#$pass")
        var (c, p, e) = (0.0, 0.0, 0.0)
        val before = CountingSink.rows.sum()
        val ok = op("query") {
          tracer.time("query") {
            val (df, cs) = tracer.timed("construct")(SparkEntry.queries(q)(spark, dir))
            c = cs
            p = tracer.time("plan")(df.queryExecution.executedPlan)
            e = tracer.time("exec")(df.write.format(classOf[CountingSink].getName)
              .mode("overwrite").save())
          }
        }.ok
        perQuery += Map("query" -> q, "pass" -> pass, "warmup" -> warmup,
          "ok" -> ok, "construct_s" -> c,
          "plan_s" -> p, "exec_s" -> e, "total_s" -> (c + p + e),
          "rows" -> (CountingSink.rows.sum() - before))
      }
    }
    (0 until WarmupPasses).foreach(_ => runPass(warmup = true))
    ops.filterInPlace(!_.ok) // a failed warm-up operation still counts
    if (args.trace) {
      // each loader once, as the queries call them
      val loaders: Seq[(String, () => Any)] = Seq(
        "lineitem" -> (() => Tables.lineitem(spark, dir)),
        "orders" -> (() => Tables.orders(spark, dir)),
        "customer" -> (() => Tables.customer(spark, dir)),
        "supplier" -> (() => Tables.supplier(spark, dir)),
        "part" -> (() => Tables.part(spark, dir)),
        "nation" -> (() => Tables.nation(spark, dir)),
        "region" -> (() => Tables.region(spark, dir)),
        "events" -> (() => Tables.events(spark, dir)),
        "documents" -> (() => Tables.documents(spark, dir)),
        "embeddings" -> (() => Tables.embeddings(spark, dir)),
        "featureRecords" -> (() => Tables.featureRecords(spark, dir)))
      tracer.enabled = true
      tracer.request("tables")
      loaders.foreach { case (n, f) => tracer.time(s"tables.$n")(f()) }
      tracer.enabled = false
    }

    def loop(budget: Double): Unit =
      Main.repeat(budget, MinPasses)(runPass(warmup = false))
    measure("query")(loop)
    extra("per_query") = perQuery

    if (args.trace) {
      import Main.median
      drain()
      val v = new TraceView(tracer.spans.toSeq, listener)
      val L = layers
      val loads = tracer.spans.filter(_.name.startsWith("tables."))
      L("tables.load_ms") = 1000 * loads.map(_.seconds).sum
      L("tables.load_jobs") = loads.map(v.jobs(_).toDouble).sum
      // per-pass sums, then the median pass
      val qs = v.named("query")
      val byPass = qs.groupBy(_.req.split('#').last).values.toSeq
      def kid(s: Span, n: String) = v.subtree(s).find(_.name == n)
      def passSum(n: String)(f: Span => Double): Double =
        median(byPass.map(_.flatMap(kid(_, n)).map(f).sum))
      L("construct.s") = passSum("construct")(_.seconds)
      L("construct.jobs") = passSum("construct")(v.jobs(_).toDouble)
      L("construct.stages") = passSum("construct")(v.stages(_).size.toDouble)
      L("catalyst.plan_s") = passSum("plan")(_.seconds)
      L("exec.s") = passSum("exec")(_.seconds)
      L("exec.stages") = passSum("exec")(v.stages(_).size.toDouble)
      L("exec.tasks") = passSum("exec")(v.stages(_).map(_.tasks).sum.toDouble)
      L("exec.shuffle_read_bytes") =
        passSum("exec")(v.stages(_).map(_.shuffleRead).sum.toDouble)
      L("exec.shuffle_write_bytes") =
        passSum("exec")(v.stages(_).map(_.shuffleWrite).sum.toDouble)
      L("exec.spill_bytes") = passSum("exec")(v.stages(_).map(_.spill).sum.toDouble)
      L("exec.ms_per_stage") =
        if (L("exec.stages") > 0) 1000 * L("exec.s") / L("exec.stages") else 0.0
      L("trace.gap_frac") = median(qs.map(s => v.selfSeconds(s) / s.seconds))
      // the per-query profile rows: one per traced query execution
      extra("sweep_rows") = qs.map { s =>
        val parts = Seq("construct", "plan", "exec").map(n => n -> kid(s, n))
        val all = v.stages(s)
        Map("query" -> s.req, "ok" -> s.ok, "total_s" -> s.seconds) ++
          parts.map { case (n, k) => s"${n}_s" -> k.map(_.seconds).getOrElse(0.0) } ++
          Map("jobs" -> v.jobs(s), "construct_jobs" -> kid(s, "construct").map(v.jobs).getOrElse(0),
            "stages" -> all.size, "tasks" -> all.map(_.tasks).sum,
            "shuffle_read_bytes" -> all.map(_.shuffleRead).sum,
            "shuffle_write_bytes" -> all.map(_.shuffleWrite).sum)
      }
    }
  }
}
