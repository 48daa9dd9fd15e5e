package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. */
final case class Op(kind: String, seconds: Double, ok: Boolean,
                    traced: Boolean)

/** What a workload hands back: its operations in order, the set-up
  * samples it took, its own named results and (traced runs) per-layer
  * metrics, plus check failures found outside the timed intervals. */
final class RunState(val spark: SparkSession, val args: Args,
                     val tracer: Tracer, val listener: CallListener) {
  val ops = scala.collection.mutable.ArrayBuffer[Op]()
  val setupSamples = scala.collection.mutable.ArrayBuffer[Double]()
  val named = scala.collection.mutable.LinkedHashMap[String, Any]()
  val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  val mismatches = scala.collection.mutable.ArrayBuffer[String]()
  val extra = scala.collection.mutable.LinkedHashMap[String, Any]()

  /** Times one operation; a throw is recorded as a failed operation. */
  def op(kind: String)(body: => Unit): Op = {
    val traced = tracer.enabled
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[bench] $kind failed: $e")
        false
    }
    val o = Op(kind, (System.nanoTime() - t0) / 1e9, ok, traced)
    ops += o
    o
  }

  /** An untraced run measures `loop` for the whole budget. A traced run
    * measures it for one and a half budgets with tracing on for every
    * other unit; the mean `kind` times of the two halves give the
    * tracing overhead. */
  def measure(kind: String)(loop: Double => Unit): Unit = {
    phase("measuring")
    if (args.trace) tracer.alternate = true
    try loop(if (args.trace) 1.5 * args.seconds else args.seconds)
    finally { tracer.alternate = false; tracer.enabled = false }
    phase("measured")
    if (args.trace) {
      def meanOf(traced: Boolean): Double = {
        val xs = ops.filter(o => o.kind == kind && o.ok && o.traced == traced)
          .map(_.seconds)
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val untraced = meanOf(false)
      layers("trace.overhead_frac") =
        if (untraced > 0) meanOf(true) / untraced - 1.0 else 0.0
    }
  }

  private val born = System.nanoTime()
  /** Notes a phase boundary in the JVM log (stderr). */
  def phase(what: String): Unit =
    System.err.println(f"[bench] ${(System.nanoTime() - born) / 1e9}%.2f s: $what")

  def drain(): Unit =
    org.apache.spark.BenchListenerAccess.drain(spark.sparkContext)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 20) mismatches += what
    else if (!ok) mismatches(19) = s"... and more; last: $what"
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, out: String, cores: Int)

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"), m("cores").toInt)
  }

  /** Runs `unit` at least `min` times, then again while the next run,
    * if it takes as long as the last, ends within `budget` seconds.
    * Returns the seconds spent. */
  def repeat(budget: Double, min: Int)(unit: => Unit): Double = {
    val t0 = System.nanoTime()
    def now = (System.nanoTime() - t0) / 1e9
    var n = 0
    var last = 0.0
    while (n < min || now + last <= budget) {
      val u0 = now
      unit
      last = now - u0
      n += 1
    }
    now
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; empty input gives 0. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def json(v: Any): String = new ObjectMapper().writeValueAsString(toJava(v))

  /** Heap still reachable after full collections, once Spark's context
    * cleaner has released what the first collection made unreachable. */
  private def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${args.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // only the traced run listens: untraced runs carry no listener cost
    val listener = new CallListener
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    println("READY")
    System.out.flush()

    val st = new RunState(spark, args,
      new Tracer(spark.sparkContext, false), listener)
    args.workload match {
      case "offline_batch" => OfflineBatch.run(st)
      case "serve_mixed" => ServeMixed.run(st)
      case "query_sweep" => QuerySweep.run(st)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    st.drain()
    val liveMb = liveHeapMb()
    st.phase("workload done")
    if (args.trace) {
      val view = new TraceView(st.tracer.spans.toSeq, listener)
      val lines = view.rows.map(json).mkString("", "\n", "\n")
      Files.writeString(Paths.get(args.out, "spans.jsonl"), lines)
    }
    val result = Map(
      "ops" -> st.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds,
        "ok" -> o.ok, "traced" -> o.traced)),
      "setup_samples_s" -> st.setupSamples,
      "named" -> st.named,
      "layers" -> st.layers,
      "mismatches" -> st.mismatches,
      "extra" -> st.extra,
      "peak_rss_mb" -> peakRssMb(),
      "heap_live_mb" -> liveMb,
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    Files.writeString(Paths.get(args.out, "result.json"), json(result))
    spark.stop()
    st.phase("stopped")
  }
}
