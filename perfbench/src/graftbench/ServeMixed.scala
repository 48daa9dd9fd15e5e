package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Graft
import graft.offline.VersionedStore

/** One scoring client in a closed loop against a published snapshot. A
  * round is two cycles of nine 16-key lookups and one upsert of ~200
  * changed vectors, then one compaction; whole rounds run while the next
  * one is expected to end within the budget (at least one). Every lookup
  * is checked, outside its timed interval, against the last acknowledged
  * vector of each key, and at the end the whole snapshot is. */
object ServeMixed {
  val LookupsPerUpsert = 9
  val UpsertsPerCompact = 2
  val NumFiles = 64

  def run(st: RunState): Unit = {
    import st._
    val vectors = spark.read.parquet(s"${args.data}/vectors.parquet")
    val fcols = vectors.columns.filter(_.startsWith("f_")).toSeq
    val schema = vectors.schema

    // set-up: the initial publish, three times into fresh roots (the
    // repeats also warm the write path the upserts share)
    var root = ""
    for (k <- 0 until 3) {
      root = s"${args.out}/store/serving$k"
      setupSamples += tracer.time("publish")(
        Graft.publishServingSnapshot(vectors, root, "entity_id", 256, NumFiles))
    }

    // the checker's copy of every acknowledged vector (not timed)
    val expected = mutable.HashMap[String, Seq[Double]]()
    vectors.collect().foreach(r =>
      expected(r.getString(0)) = fcols.map(c => r.getAs[Double](c)))
    val lookups = spark.read.parquet(s"${args.data}/lookups.parquet")
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getString(1)).toSeq)
    val upserts = spark.read.parquet(s"${args.data}/upserts.parquet")
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => Row.fromSeq(r.toSeq.tail)).toSeq)
    val keySchema = StructType(Seq(StructField("entity_id", StringType)))
    val rowBytes = (k: String) => k.length + 8 * fcols.size

    // traced-run counters, gathered outside the timed calls
    val filesOpened = mutable.ArrayBuffer[Double]()
    val pruneRatio = mutable.ArrayBuffer[Double]()
    val filesAdded = mutable.ArrayBuffer[Double]()
    val updateBytes = mutable.ArrayBuffer[Double]()
    val manifestMs = mutable.ArrayBuffer[Double]()
    var rowsReturned = 0L

    def dataFiles(): Set[String] = {
      val base = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_graft_log")).toSet
      finally s.close()
    }

    var li = 0
    var ui = 0
    def lookup(): Unit = {
      val keys = lookups(li % lookups.size)
      li += 1
      tracer.unit("lookup")
      tracer.request(s"lookup-$li")
      var served: DataFrame = null
      var rows: Array[Row] = Array()
      val o = op("lookup") {
        tracer.time("lookup") {
          val kdf = spark.createDataFrame(keys.map(Row(_)).asJava, keySchema)
          served = tracer.timed("lookup.construct")(
            Graft.servePoint(spark, root, kdf))._1
          rows = tracer.timed("lookup.exec")(served.collect())._1
        }
      }
      if (!o.ok) return
      val got = rows.groupBy(_.getAs[String]("entity_id"))
      keys.foreach { k =>
        (expected.get(k), got.get(k)) match {
          case (None, None) =>
          case (Some(want), Some(Array(r))) =>
            check(fcols.map(c => r.getAs[Double](c)) == want,
              s"lookup $li: key $k served a stale or wrong vector")
          case (want, have) =>
            check(false, s"lookup $li: key $k expected " +
              s"${want.fold("no row")(_ => "one row")}, got ${have.fold(0)(_.length)} rows")
        }
      }
      check(got.keySet.subsetOf(keys.toSet), s"lookup $li: rows for keys not asked for")
      if (tracer.enabled) {
        val opened = served.inputFiles.length
        filesOpened += opened
        pruneRatio += opened.toDouble / NumFiles
        rowsReturned += rows.length
      }
    }

    def upsert(): Unit = {
      val batch = upserts(ui % upserts.size)
      ui += 1
      tracer.unit("upsert")
      tracer.request(s"upsert-$ui")
      val before = if (tracer.enabled) dataFiles() else Set.empty[String]
      val o = op("upsert") {
        tracer.time("upsert")(
          Graft.servingUpsert(spark.createDataFrame(batch.asJava, schema), root))
      }
      if (o.ok) batch.foreach(r =>
        expected(r.getString(0)) = fcols.indices.map(i => r.getDouble(i + 1)))
      if (tracer.enabled) {
        filesAdded += (dataFiles() -- before).size
        updateBytes += batch.map(r => rowBytes(r.getString(0))).sum
        manifestMs += 1000 * tracer.time("vstore.manifest") {
          VersionedStore.latestVersion(spark, root)
          VersionedStore.schemaOf(spark, root)
        }
      }
      if (ui % UpsertsPerCompact == 0) {
        tracer.unit("compact")
        tracer.request(s"compact-$ui")
        op("compact")(tracer.time("compact")(
          Graft.servingCompact(spark, root, NumFiles)))
      }
    }

    // warm-up, checked but not timed: one cycle of lookups and an upsert
    // loads classes and lets the JIT compile the lookup path
    (0 until LookupsPerUpsert).foreach(_ => lookup())
    upsert()
    ops.filterInPlace(!_.ok) // a failed warm-up operation still counts
    ui = 0

    var elapsed = 0.0
    var opsDone = 0
    def loop(budget: Double): Unit = {
      val n0 = ops.size
      elapsed += Main.repeat(budget, 1) {
        (0 until UpsertsPerCompact).foreach { _ =>
          (0 until LookupsPerUpsert).foreach(_ => lookup())
          upsert()
        }
      }
      opsDone += ops.size - n0
    }
    measure("lookup")(loop)
    named("serve_ops_per_s") = opsDone / elapsed

    // untimed: the snapshot holds exactly the acknowledged vectors, so an
    // upsert that lost a row fails even if no lookup asked for its key
    val state = VersionedStore.read(spark, root)
      .select(("entity_id" +: fcols).map(org.apache.spark.sql.functions.col): _*)
      .collect()
    check(state.length == expected.size,
      s"snapshot holds ${state.length} rows for ${expected.size} keys")
    state.foreach { r =>
      val k = r.getString(0)
      check(expected.get(k).contains(fcols.indices.map(i => r.getDouble(i + 1))),
        s"snapshot key $k holds a stale or wrong vector")
    }

    if (args.trace) {
      import Main.median
      drain()
      val v = new TraceView(tracer.spans.toSeq, listener)
      val L = layers
      val looks = v.named("lookup").filter(_.ok)
      def kid(s: Span, n: String) = v.subtree(s).find(_.name == n).get
      L("lookup.construct_ms") = 1000 * median(looks.map(kid(_, "lookup.construct").seconds))
      L("lookup.exec_ms") = 1000 * median(looks.map(kid(_, "lookup.exec").seconds))
      L("lookup.jobs") = median(looks.map(v.jobs(_).toDouble))
      L("lookup.files_opened") = median(filesOpened.toSeq)
      L("lookup.prune_ratio") = median(pruneRatio.toSeq)
      val scanned = looks.flatMap(v.stages).map(_.inputRecords).sum
      L("lookup.rows_scanned_per_row") =
        if (rowsReturned > 0) scanned.toDouble / rowsReturned else 0.0
      val ups = v.named("upsert").filter(_.ok)
      L("upsert.jobs") = median(ups.map(v.jobs(_).toDouble))
      L("upsert.write_amp") = median(ups.zip(updateBytes).map { case (s, b) =>
        v.stages(s).map(_.bytesWritten).sum / b })
      L("upsert.files_added") = median(filesAdded.toSeq)
      val comps = v.named("compact").filter(_.ok)
      L("compact.s") = median(comps.map(_.seconds))
      L("compact.bytes_written") =
        median(comps.map(v.stages(_).map(_.bytesWritten).sum.toDouble))
      L("vstore.manifest_ms") = median(manifestMs.toSeq)
      L("vstore.versions") = VersionedStore.latestVersion(spark, root) + 1.0
      L("trace.gap_frac") = median(looks.map(s => v.selfSeconds(s) / s.seconds))
    }
  }
}
