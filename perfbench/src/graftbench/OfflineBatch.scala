package graftbench

import graft.Graft

/** The nightly feature-store job: materialize and publish the serving
  * snapshot, build the point-in-time training set and export it, then
  * validate the view. One iteration is one `batch` operation; the first
  * warms the JVM and is not timed. The exported rows are checked against
  * a floor-entry reference outside the JVM, after the run. */
object OfflineBatch {
  val Features: Seq[String] = (0 until 8).map(i => s"f$i")
  private val AsOf = "2024-04-01 00:00:00"
  /** Iterations measured at least, after one untimed warm-up iteration
    * on the cold JVM. */
  val MinIterations = 2
  /** Files of the published snapshot: ~400 entities each. */
  val SnapshotFiles = 8

  def run(st: RunState): Unit = {
    import st._
    val records = spark.read.parquet(s"${args.data}/features.parquet")
    val labels = spark.read.parquet(s"${args.data}/labels.parquet")
    val features = records.withColumnRenamed("event_time", "ts")
    val view = Graft.registerView("bench_view", "entity", 1, Features)
    val sla = Features.map(_ -> 30L * 86400L * 1000L).toMap
    val snapshotRoot = s"${args.out}/store/snapshot"
    val exportRoot = s"${args.out}/store/training"

    val rowsPerS = scala.collection.mutable.ArrayBuffer[Double]()
    val batchRowsPerS = scala.collection.mutable.ArrayBuffer[Double]()
    var iteration = 0
    def once(): Unit = {
      iteration += 1
      tracer.unit("batch")
      tracer.request(s"batch-$iteration")
      var rows = 0L
      var pitS = 0.0
      var report: Array[org.apache.spark.sql.Row] = Array()
      val o = op("batch") {
        tracer.time("batch") {
          val vectors = tracer.timed("materialize.construct")(
            Graft.materializeFull(records, view, 0.0, AsOf))._1
          tracer.time("publish")(Graft.publishServingSnapshot(
            vectors, snapshotRoot, "entity_id", 256, SnapshotFiles))
          val (pit, c) = tracer.timed("asof.construct")(
            Graft.pointInTimeJoin(features, labels, Features))
          val p = tracer.time("asof.plan")(pit.queryExecution.executedPlan)
          val (m, e) = tracer.timed("export")(
            Graft.exportTraining(pit, exportRoot, "entity_id"))
          rows = m.trainRows + m.testRows
          pitS = c + p + e
          report = tracer.timed("validate")(
            Graft.validate(records, view, AsOf, sla).collect())._1
        }
      }
      if (o.ok) {
        rowsPerS += rows / pitS
        batchRowsPerS += rows / o.seconds
        check(report.length == 1 && report(0).getAs[Boolean]("schema_ok"),
          s"validate report ${report.mkString(",")}")
        if (report.nonEmpty)
          named("validate_n_entities") = report(0).getAs[Long]("n_entities")
      }
    }
    // warm-up on the cold JVM, checked but not timed
    once()
    ops.filterInPlace(!_.ok) // a failed warm-up operation still counts
    rowsPerS.clear()
    batchRowsPerS.clear()
    def loop(budget: Double): Unit =
      Main.repeat(budget, MinIterations)(once())
    measure("batch")(loop)
    named("train_rows_per_s") = Main.median(rowsPerS.toSeq)
    named("batch_rows_per_s") = Main.median(batchRowsPerS.toSeq)
    extra("export_root") = exportRoot
    if (args.trace) layerMetrics(st)
  }

  private def layerMetrics(st: RunState): Unit = {
    import Main.median
    st.drain()
    val v = new TraceView(st.tracer.spans.toSeq, st.listener)
    val batches = v.named("batch").filter(_.ok)
    def per(f: Span => Double) = median(batches.map(f))
    def kid(b: Span, name: String): Span =
      v.subtree(b).find(_.name == name).get
    val L = st.layers
    L("asof.construct_s") = per(kid(_, "asof.construct").seconds)
    L("asof.plan_s") = per(kid(_, "asof.plan").seconds)
    L("asof.exec_s") = per(b => v.stageWall(v.stages(kid(b, "export"))))
    L("asof.stages") = per(b => v.stages(kid(b, "export")).size)
    L("asof.shuffle_bytes") =
      per(b => v.stages(kid(b, "export")).map(_.shuffleWrite).sum.toDouble)
    L("asof.spill_bytes") =
      per(b => v.stages(kid(b, "export")).map(_.spill).sum.toDouble)
    // the window stage is the export stage that reads the most shuffle
    L("asof.task_skew") = per { b =>
      val st = v.stages(kid(b, "export")).filter(_.taskMs.nonEmpty)
      if (st.isEmpty) 0.0 else {
        val w = st.maxBy(_.shuffleRead)
        val med = median(w.taskMs.map(_.toDouble))
        if (med > 0) w.taskMs.max / med else 0.0
      }
    }
    val scans = (b: Span) => v.stages(kid(b, "publish")).filter(_.inputBytes > 0)
    L("materialize.exec_s") = per(b => v.stageWall(scans(b)))
    L("materialize.shuffle_bytes") =
      per(b => scans(b).map(_.shuffleWrite).sum.toDouble)
    L("export.s") = per(kid(_, "export").seconds)
    L("export.bytes_written") =
      per(b => v.stages(kid(b, "export")).map(_.bytesWritten).sum.toDouble)
    L("validate.s") = per(kid(_, "validate").seconds)
    L("publish.s") = per(kid(_, "publish").seconds)
    L("publish.bytes_written") =
      per(b => v.stages(kid(b, "publish")).map(_.bytesWritten).sum.toDouble)
    L("trace.gap_frac") = per(b => v.selfSeconds(b) / b.seconds)
  }
}
