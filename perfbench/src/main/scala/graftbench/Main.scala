package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed op, or one micro-batch of a streaming op. Pass -1 is the
  * untimed check pass. */
final case class Sample(pass: Int, op: String, kind: String, seconds: Double,
                        ok: Boolean, error: String)

/** What a workload sees of the harness: the session, the tracer, and the
  * recorders for ops, samples and output checks. */
final class Run(val tracer: Tracer) {
  val samples = mutable.ArrayBuffer[Sample]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** Per-op counters the workload measures itself (merged with the
    * tracer's per-op counters). */
  val counters = mutable.HashMap[Int, mutable.HashMap[String, Double]]()
  val opWindows = mutable.LinkedHashMap[Int, (Long, Long)]()
  val opPass = mutable.HashMap[Int, Int]()
  var pass = -1
  private var nextOp = 0

  /** Times `body` as one op; a throw is recorded, not propagated. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    val id = nextOp
    nextOp += 1
    val start = tracer.now
    val t0 = System.nanoTime()
    val r = try Right(tracer.op(id, name)(body)) catch { case NonFatal(e) => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    opWindows(id) = (start, tracer.now)
    opPass(id) = pass
    System.err.println(f"[graft-bench] pass $pass%d op $name%s $seconds%.3f s")
    samples += Sample(pass, name, kind, seconds, r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)).orNull)
    r.toOption
  }

  def sample(name: String, kind: String, seconds: Double): Unit =
    samples += Sample(pass, name, kind, seconds, ok = true, error = null)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  /** Adds to a counter of the op that ran last. */
  def count(name: String, v: Double): Unit = {
    val id = nextOp - 1
    counters.getOrElseUpdate(id, mutable.HashMap()).updateWith(name)(x => Some(x.getOrElse(0.0) + v))
  }
}

/** A workload: set-up (repeated and timed), an untimed check pass that
  * also warms the JVM, then timed passes over a fixed op list. */
trait Workload {
  /** Typical wall time of one timed pass on an idle 4-core machine; it
    * turns `--seconds` into a fixed number of passes per run, so every run
    * of a workload has the same sample count. */
  def nominalPassSeconds: Double
  def setup(spark: SparkSession): Unit
  def check(run: Run): Unit
  def pass(run: Run): Unit
  /** Values measured after a pass, outside its timing. */
  def afterPass(run: Run): Map[String, Double] = Map.empty
  def oracle: Map[String, String] = Map.empty
}

object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val out = o("out")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    val w = Workloads(o("workload"), seed, o("data"), out)

    var spark = base
    val setupSeconds = (0 until SetupRepeats).map { i =>
      val s0 = if (i == 0) t0 else System.nanoTime()
      spark = if (i == 0) base else base.newSession()
      w.setup(spark)
      (System.nanoTime() - s0) / 1e9
    }

    val tracer = new Tracer(spark)
    val run = new Run(tracer)
    val c0 = System.nanoTime()
    w.check(run)
    val checkSeconds = (System.nanoTime() - c0) / 1e9

    val planned = math.max(1, math.round(o("seconds").toDouble / w.nominalPassSeconds).toInt)
    // A traced run brackets one traced pass between two untraced ones; the
    // tracing overhead is the traced pass minus their mean. The first pass
    // after the check pass still runs ~10 % slow, so it goes before them.
    val tracedPass = if (trace) 2 else -1
    val total = if (trace) 4 else planned
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val passes = (0 until total).map { p =>
      val traced = p == tracedPass
      if (traced) tracer.enable() else tracer.disable()
      run.pass = p
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val p0 = System.nanoTime()
      w.pass(run)
      val wall = (System.nanoTime() - p0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      val heap = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val after = w.afterPass(run)
      Map("pass" -> p, "traced" -> traced, "wall_s" -> wall, "gc_s" -> gc,
        "heap_peak_mb" -> heap, "after" -> after)
    }

    val (spans, tracerCounters) =
      if (trace) tracer.report(run.opWindows.toMap)
      else (Nil, Map.empty[Int, Map[String, Double]])
    val opCounters = (tracerCounters.keySet ++ run.counters.keySet).toSeq.sorted.map { id =>
      id.toString -> (tracerCounters.getOrElse(id, Map.empty) ++
        run.counters.get(id).map(_.toMap).getOrElse(Map.empty))
    }.toMap

    val result = Map(
      "workload" -> o("workload"), "seed" -> seed, "nproc" -> cores,
      "trace" -> trace, "passes_planned" -> total,
      "setup_s" -> setupSeconds,
      "jvm_start_s" -> (t0Ms - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "session_s" -> sessionSeconds, "check_s" -> checkSeconds,
      "samples" -> run.samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
        "kind" -> s.kind, "s" -> s.seconds, "ok" -> s.ok, "error" -> s.error)),
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "passes" -> passes,
      "op_pass" -> run.opPass.map { case (k, v) => k.toString -> v }.toMap,
      "op_counters" -> opCounters,
      "oracle" -> w.oracle)
    Json.write(Paths.get(out, "result.json"), result)
    if (trace) Json.write(Paths.get(out, "spans.json"), spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "op" -> s.op, "start" -> s.start, "end" -> s.end)))
    spark.stop()
  }
}

/** Minimal JSON writer over Scala collections (Jackson is on Spark's
  * classpath). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(if (d.isNaN || d.isInfinite) 0.0 else d)
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: java.nio.file.Path, v: Any): Unit =
    Files.write(path, mapper.writeValueAsBytes(toJava(v)))
}
