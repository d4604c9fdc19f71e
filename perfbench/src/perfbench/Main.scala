package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `setup` makes the inputs and runs
  * the warm pass; `pass` runs one timed pass through `Trace.span`s and
  * returns its wall; `check` verifies outputs outside any timed span
  * and leaves dumps for the DuckDB half of the check (perfbench/check.py).
  */
trait Workload {
  def setup(tr: Trace): Unit
  def pass(tr: Trace): Double
  def check(): Seq[(String, Boolean)]
  /** Per-layer values this workload measures itself, for one pass. */
  def layers(pass: Int): Map[String, Double] = Map.empty
  /** Facts for the run record (sizes, sample counts). */
  def facts: Map[String, Any] = Map.empty
  /** Passes a run measures even when they outlast `--seconds`. */
  def minPasses: Int = 1
}

/** Runs one workload in one process and writes `<work>/result.json`.
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --data DIR
  * `--workload train` runs every workload's set-up and exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val spark = Session.build(cores, work)
    log("session up")
    val canaryBefore = Canary.seconds()
    val tr = new Trace(spark)
    def workload(name: String): Workload = name match {
      case "etl_onefile" => new Etl(spark, seed, s"$work/etl")
      case "gold_serve" => new Serve(spark, seed, s"$work/serve")
      case "battery_hot" => new BatteryHot(spark, seed, o("data"), s"$work/battery")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (o("workload") == "train") {
      // the class-data archive's training run: load what every workload loads
      Seq("etl_onefile", "gold_serve", "battery_hot").foreach(workload(_).setup(tr))
      spark.stop()
      return
    }
    val w = workload(o("workload"))
    w.setup(tr)
    tr.spans.clear()
    settle()
    log("setup done")

    // the measured window: closed loop, one client thread; a traced run
    // alternates untraced and traced passes so their ratio is the
    // tracing overhead
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassRec]
    resetHeapPeaks()
    var failure: Option[Throwable] = None
    def more = (System.nanoTime() - t0) / 1e9 < seconds ||
      passes.count(!_.traced) < w.minPasses ||
      (traced && passes.count(_.traced) == 0)
    while (failure.isEmpty && more) {
      val on = traced && passes.size % 2 == 1
      if (passes.nonEmpty) settle()
      tr.setOn(on)
      tr.pass = passes.size + 1
      val gc0 = gcMs()
      val startMs = System.currentTimeMillis()
      try {
        val wall = w.pass(tr)
        passes += PassRec(tr.pass, on, wall, startMs, System.currentTimeMillis(), gcMs() - gc0)
      } catch { case e: Throwable => failure = Some(e) }
    }
    tr.setOn(false)
    val peakHeapMb = heapPeakMb()
    failure.foreach { e =>
      System.err.println(s"[perfbench] pass failed: $e"); e.printStackTrace()
    }
    log(s"window done: ${passes.size} passes")
    val canaryAfter = Canary.seconds()
    val checks = if (failure.isEmpty) w.check() else Seq("passes completed" -> false)
    log("checks done")
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] check failed: ${c._1}"))

    val timed = tr.spans.toSeq
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o("workload"), "seed" -> seed, "cores" -> cores,
      "first_op_epoch_ms" -> firstOpMs,
      "pass_s" -> passes.filterNot(_.traced).map(_.wall),
      "spans" -> timed.filter(s => passes.exists(p => p.n == s.pass && !p.traced))
        .groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds) },
      "ops_attempted" -> (timed.size + failure.size),
      "ops_failed" -> failure.size,
      "checks" -> checks.toMap,
      "canary_s" -> Seq(canaryBefore, canaryAfter),
      "facts" -> w.facts)
    if (traced) rec("per_layer") = Layers.compute(tr, passes.filter(_.traced).toSeq, w,
      cores, passes.filterNot(_.traced).map(_.wall).toSeq, math.max(canaryBefore, canaryAfter),
      peakHeapMb)
    Files.writeString(Paths.get(work, "result.json"), Json(rec))
    spark.stop()
    log("stopped")
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $msg")

  /** Untimed, before every pass: collect the garbage earlier work left
    * and let the JIT finish the compilations it has queued (up to 3 s),
    * so a pass does not pay for what ran before it. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 3000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < until) {
      last = jit.getTotalCompilationTime
      Thread.sleep(200)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peaks since the window opened. */
  private def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

final case class PassRec(n: Int, traced: Boolean, wall: Double, startMs: Long, endMs: Long, gcMs: Long)

/** The session every workload runs under: Bench.scala's session conf, at the
  * machine's core count, with every scratch directory in the work dir. */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host-speed canary in the style of `graft.Bench.hostSpeed`: a
  * single-thread SplitMix64 loop, min of 3 after a discarded warm run.
  * Pure ALU work, so it moves with the host, not with the engine. */
object Canary {
  def seconds(): Double = {
    def once(): Double = {
      val n = 1 << 24
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < n) {
        h += 0x9E3779B97F4A7C15L
        var z = h
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        h ^= z ^ (z >>> 31)
        i += 1
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (h == 0x1234L) System.err.println("[perfbench] canary sentinel")
      s
    }
    once()
    Seq(once(), once(), once()).min
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: java.lang.Number) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => apply(other.toString)
  }
}
