package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession
import graft.lang.{Compiler, Graft, Parser}

/** One input file set handed to the engine. */
final case class Input(name: String, rows: Long, bytes: Long, types: Int)

/** One query of a workload's fixed rotation. `run` throws on a failed
  * or wrong answer.
  */
final case class Op(kind: String, run: Bench => Unit)

trait Workload {
  /** Generate the inputs, their twins and the expected answers. */
  def setup(b: Bench): Unit
  def rotation: IndexedSeq[Op]
  /** Rotations the timed loop runs at least, even past --seconds. */
  def minRotations: Int
  def inputs: Seq[Input]
  /** Layer probes run after a traced loop. */
  def probes(b: Bench): Map[String, Double]
}

final case class OpRecord(id: Int, kind: String, traced: Boolean, latencyNs: Long,
                          ok: Boolean, allocBytes: Long)

/** The running benchmark: session, tracer and the calls into each layer. */
final class Bench(val spark: SparkSession, val dir: Path, val seed: Long, val cores: Int,
                  val tracer: Tracer, val phases: mutable.LinkedHashMap[String, Double]) {
  private var primaryNs = -1L

  /** Time the part of an op the client waits for: the op's latency.
    * The answer check runs outside it.
    */
  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally primaryNs = System.nanoTime() - t0
  }
  def takePrimary(): Long = { val p = primaryNs; primaryNs = -1L; p }

  /** Wall time of each named set-up step, summed over set-ups, in ms. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  /** SQL-metric totals over the traced queries' executed plans. */
  val counters = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private def note(df: DataFrame): Unit = if (tracer.enabled) {
    PlanMetrics.sum(df, Set("framesSkipped", "framesRead", "numFiles"))
      .foreach { case (k, v) => counters(k) += v }
    counters("plans") += 1
  }

  /** Parse and compile a Zed query. Untraced this is `Graft.query`
    * itself; traced, the same two calls are timed one by one.
    */
  def compile(zed: String): DataFrame =
    if (!tracer.enabled) Graft.query(spark, "", zed)
    else {
      val p = tracer.span("lang.parse")(Parser.parse(zed))
      tracer.span("lang.compile")(new Compiler(spark, "").run(p))
    }

  private def planned(df: DataFrame): Unit =
    if (tracer.enabled) tracer.span("plan.physical")(df.queryExecution.executedPlan): Unit

  def collect(df: DataFrame): Seq[Row] = {
    planned(df)
    val rows = tracer.span("exec.run")(df.collect().toSeq)
    note(df)
    rows
  }

  /** Every row to a sink that only counts them. */
  def sink(df: DataFrame): Long = {
    planned(df)
    val n = tracer.span("exec.run")(df.queryExecution.toRdd.count())
    note(df)
    n
  }

  def query(zed: String): Seq[Row] = collect(compile(zed))

  /** Untimed answer check, kept out of the layer spans. */
  def check(body: => Unit): Unit = tracer.span("bench.check")(body)
}

object Main {
  val setupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: Path, commit: String, calibration: Option[Double])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      m.getOrElse("commit", "unknown"), m.get("calibration").map(_.toDouble))
  }

  def workloadOf(name: String): Workload = name match {
    case "conn_search" => new ConnSearch
    case "mixed_shapes" => new MixedShapes
    case other => sys.error(s"unknown workload $other")
  }

  def session(a: Args): SparkSession = {
    val s = GraftSession.ready(GraftSession.configure(
      SparkSession.builder().master(s"local[${a.cores}]").appName("graft-benchmark")
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString),
      a.cores.toString).getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Median time to sort 10M seeded longs on one thread (as graft.Bench). */
  def calibrate(): Double = {
    def fill(): Array[Long] = {
      val a = new Array[Long](10000000)
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      a
    }
    java.util.Arrays.sort(fill())
    Util.median((1 to 3).map { _ =>
      val a = fill(); val t0 = System.nanoTime(); java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** Run every op of one rotation, recording latency, outcome and alloc. */
  private def rotate(b: Bench, w: Workload, firstId: Int,
                     errors: mutable.Map[String, String]): Seq[OpRecord] = {
    val sc = b.spark.sparkContext
    w.rotation.zipWithIndex.map { case (op, i) =>
      val id = firstId + i
      b.tracer.op = id
      if (b.tracer.enabled) sc.setJobGroup(s"op-$id", op.kind)
      val a0 = if (b.tracer.enabled) Alloc.total() else 0L
      val t0 = System.nanoTime()
      val ok =
        try { b.tracer.span("op")(op.run(b)); true }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(op.kind, e.toString.take(400)); false }
      val wall = System.nanoTime() - t0
      val primary = b.takePrimary()
      val alloc = if (b.tracer.enabled) Alloc.total() - a0 else 0L
      if (b.tracer.enabled) sc.clearJobGroup()
      OpRecord(id, op.kind, b.tracer.enabled, if (primary >= 0) primary else wall, ok, alloc)
    }
  }

  /** The tail percentile: the highest one with at least 10 samples beyond
    * it when the loop runs its minimum number of rotations. It is fixed per
    * workload, so it does not move with the number of rotations a run fits
    * in, and it falls inside one query kind's band of the sorted latencies.
    */
  def tailFraction(w: Workload): Double = {
    val n = w.minRotations * w.rotation.length
    (n - 10).toDouble / n
  }

  /** Correct queries per second of a median rotation: the rotation's
    * query count over the sum of each query kind's median latency, scaled
    * by the share of queries answered correctly. A single slow query does
    * not move it, as it would a plain mean.
    */
  def queriesPerS(rs: Seq[OpRecord]): Double = {
    val rotationS = rs.groupBy(_.kind).values.map(k => Util.median(k.map(_.latencyNs / 1e9))).sum
    val kinds = rs.map(_.kind).distinct.length
    kinds / rotationS * rs.count(_.ok) / rs.length
  }

  /** Linear-interpolated quantile, `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Per-layer metric names and units, in BENCHMARK.json order. A traced
    * run prints all of them; one a workload does not exercise reads 0.
    */
  val layerUnits: Seq[(String, String)] = Seq(
    "lang.parse_ms" -> "ms", "lang.compile_ms" -> "ms",
    "plan.physical_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.jobs_per_query" -> "count", "exec.tasks_per_query" -> "count",
    "exec.gc_share" -> "ratio", "exec.shuffle_bytes_per_row" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.cpu_share" -> "ratio",
    "sources.zng_decode_mb_per_s" -> "MB/s", "sources.zng_frames_skipped_ratio" -> "ratio",
    "sources.input_bytes_per_query" -> "bytes", "sources.zeek_decode_mb_per_s" -> "MB/s",
    "lake.load_ms" -> "ms", "lake.scan_ms" -> "ms", "lake.compact_ms" -> "ms",
    "lake.live_objects" -> "count", "lake.files_read_per_query" -> "count",
    "lake.bytes_rewritten_per_input_byte" -> "ratio",
    "service.overhead_ms" -> "ms", "service.response_bytes_per_query" -> "bytes",
    "variant.eval_ms" -> "ms", "variant.alloc_bytes_per_row" -> "bytes",
    "jvm.alloc_bytes_per_row" -> "bytes",
    "ingest_mb_per_s" -> "MB/s", "stored_bytes_per_input_byte" -> "ratio",
    "failed_ops_ratio" -> "ratio",
    "trace.layer_coverage" -> "ratio", "trace.overhead_ratio" -> "ratio")

  /** Layer numbers from the traced rotations, the listener and the probes. */
  private def layers(b: Bench, w: Workload, records: Seq[OpRecord], stats: JobStats,
                     tracedWallNs: Long): Map[String, Double] = {
    val t = b.tracer
    val traced = records.filter(_.traced)
    val n = math.max(1, traced.length).toDouble
    // let the listener bus deliver the last task-end events
    Thread.sleep(500)
    val tot = stats.total(traced.map(r => s"op-${r.id}").toSet)
    val rows = math.max(1.0, n * w.inputs.map(_.rows).sum)
    val busyNs = math.max(1L, traced.map(_.latencyNs).sum).toDouble
    val checkNs = t.spans.filter(_.name == "bench.check").map(_.durNs).sum
    val opIds = t.spans.filter(_.name == "op").map(_.id).toSet
    val layerNs = t.spans.filter(s => opIds(s.parent) && s.name != "bench.check").map(_.durNs).sum
    // overhead: per op kind, median traced latency over median untraced,
    // leaving out the loop's first (untraced) rotation, which still warms
    val ratios = records.drop(w.rotation.length).groupBy(_.kind).values.flatMap { rs =>
      val (on, off) = rs.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Util.median(on.map(_.latencyNs.toDouble)) / Util.median(off.map(_.latencyNs.toDouble)))
    }
    def med(name: String) = { val d = t.durations(name); if (d.isEmpty) 0.0 else Util.median(d) }
    val skipped = b.counters("framesSkipped").toDouble
    val read = b.counters("framesRead").toDouble
    Map(
      "lang.parse_ms" -> med("lang.parse"),
      "lang.compile_ms" -> med("lang.compile"),
      "plan.physical_ms" -> med("plan.physical"),
      "exec.run_ms" -> med("exec.run"),
      "exec.jobs_per_query" -> tot.jobs / n,
      "exec.tasks_per_query" -> tot.tasks / n,
      "exec.gc_share" -> (if (tot.runMs == 0) 0.0 else tot.gcMs.toDouble / tot.runMs),
      "exec.shuffle_bytes_per_row" -> tot.shuffleBytes / rows,
      "exec.spill_bytes" -> tot.spillBytes / n,
      "exec.cpu_share" -> tot.cpuNs / (busyNs * b.cores),
      "sources.zng_frames_skipped_ratio" -> (if (skipped + read == 0) 0.0 else skipped / (skipped + read)),
      "sources.input_bytes_per_query" -> tot.inputBytes / n,
      "lake.files_read_per_query" ->
        (if (b.counters("plans") == 0) 0.0 else b.counters("numFiles").toDouble / b.counters("plans")),
      "jvm.alloc_bytes_per_row" -> traced.map(_.allocBytes).sum / rows,
      "trace.layer_coverage" -> layerNs / math.max(1.0, (tracedWallNs - checkNs).toDouble),
      "trace.overhead_ratio" ->
        (if (ratios.isEmpty) 1.0 else math.exp(ratios.map(math.log).sum / ratios.size))
    )
  }

  private def retainedHeapMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq.toMap)
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, several times: the first counts from JVM start; each later
    // one stops the session and repeats everything in a fresh directory
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    var b: Bench = null
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var warmFailed = 0
    var warmOps = 0
    for (rep <- 1 to setupReps) {
      if (rep > 1) { spark.stop(); Util.deleteTree(b.dir) }
      val t0 = if (rep == 1) jvmStart else System.currentTimeMillis()
      spark = session(a)
      phases("session") = phases.getOrElse("session", 0.0) + System.currentTimeMillis() - t0
      w = workloadOf(a.workload)
      b = new Bench(spark, a.work.resolve(a.workload), a.seed, a.cores, new Tracer(false), phases)
      Util.deleteTree(b.dir)
      Files.createDirectories(b.dir)
      w.setup(b)
      val warm = b.phase("warm-up")(rotate(b, w, 0, errors))
      warmOps += warm.length
      warmFailed += warm.count(!_.ok)
      setups += (System.currentTimeMillis() - t0) / 1000.0
    }

    // the timed loop: whole rotations until --seconds have passed; the
    // traced run alternates untraced and traced rotations, so comparing
    // the two gives the tracing overhead
    val stats = new JobStats
    if (a.trace) spark.sparkContext.addSparkListener(stats)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var tracedWallNs = 0L
    val loopStart = System.nanoTime()
    var rot = 0
    def more = (System.nanoTime() - loopStart) / 1e9 < a.seconds || rot < w.minRotations ||
      (a.trace && rot < 2)
    while (more) {
      b.tracer.enabled = a.trace && rot % 2 == 1
      val r0 = System.nanoTime()
      records ++= rotate(b, w, records.length, errors)
      if (b.tracer.enabled) tracedWallNs += System.nanoTime() - r0
      rot += 1
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9
    b.tracer.enabled = false

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val untraced = records.filterNot(_.traced).toSeq
    val lat = untraced.map(_.latencyNs / 1e6)
    val tailP = tailFraction(w)
    var probeFailed = 0
    val layerValues =
      if (!a.trace) Map.empty[String, Double]
      else layers(b, w, records.toSeq, stats, tracedWallNs) ++ {
        try w.probes(b)
        catch { case e: Throwable =>
          errors("probes") = e.toString.take(400); probeFailed = 1; Map.empty[String, Double] }
      }
    val attempted = warmOps + records.length
    val failed = warmFailed + records.count(!_.ok) + probeFailed
    val failedRatio = failed / math.max(1, attempted).toDouble
    if (!a.trace) {
      metrics("setup_s") = (Util.median(setups.toSeq), "s")
      metrics("queries_per_s") = (queriesPerS(untraced), "1/s")
      metrics("latency_p50_ms") = (Util.median(lat), "ms")
      metrics("latency_tail_ms") = (quantile(lat, tailP), "ms")
      metrics("retained_heap_mb") = (retainedHeapMb(), "MB")
    } else {
      val values = layerValues + ("failed_ops_ratio" -> failedRatio)
      layerUnits.foreach { case (k, u) => metrics(k) = (values.getOrElse(k, 0.0), u) }
      b.tracer.writeJsonl(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> a.cores, "spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
      "commit" -> a.commit, "calibration_s" -> a.calibration.getOrElse(calibrate()),
      "inputs" -> w.inputs, "setup_s_each" -> setups.toSeq,
      "setup_ms_by_step" -> phases,
      "rotations" -> rot, "loop_seconds" -> loopSeconds, "samples" -> lat.length,
      "latency_tail_percentile" -> 100 * tailP,
      "latency_p50_ms_by_kind" -> untraced.groupBy(_.kind).map { case (k, rs) =>
        k -> Util.median(rs.map(_.latencyNs / 1e6)) },
      "failed_ops_ratio" -> failedRatio,
      "errors" -> errors)
    if (a.trace) record("self_ms_per_op") = b.tracer.selfNs.map { case (k, v) =>
      k -> v / 1e6 / math.max(1, records.count(_.traced)) }
    spark.stop()

    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (k, (v, u)) => json(k) + ":{\"value\":" + json(v) + ",\"unit\":" + json(u) + "}" }
        .mkString("{", ",", "}") + "}"
    val recordLine = json(Map("run_record" -> record))
    Files.write(a.work.resolve(s"result-${a.workload}-${a.seed}-${if (a.trace) 1 else 0}.json"),
      (recordLine + "\n" + result + "\n").getBytes("UTF-8"))
    println(recordLine)
    println(result)
  }
}
