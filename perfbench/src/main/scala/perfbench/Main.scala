package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: sets up one workload, measures it for the
 * given seconds, checks every output, and prints the result as the last
 * line of stdout. `run.py` builds the classpath and starts it.
 *
 * Usage: perfbench.Main --workload <query|lifecycle|pipeline>
 *          --seed <n> --seconds <s> --trace <0|1> --work <dir> --bench <dir>
 *        perfbench.Main --record-digests <outDir> --work <dir>
 */
object Main {
  private val t0 = System.nanoTime()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    Files.createDirectories(Paths.get(work))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session up")
    try {
      opts.get("record-digests") match {
        case Some(out) => Workloads.recordDigests(spark, out)
        case None => run(spark, opts, work)
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String], work: String): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val tracer = new Tracer(spark.sparkContext, opts.getOrElse("trace", "0") == "1")
    val ctx = new Ctx(spark, tracer, seed, opts("seconds").toDouble, work, opts("bench"))
    val setup = workload match {
      case "query" => Workloads.query _
      case "lifecycle" => Workloads.lifecycle _
      case "pipeline" => Workloads.pipeline _
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val measure = setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    log("setup done")
    ctx.measuring = true
    val host0 = Stats.hostCpu
    val cpu0 = Stats.processCpuSeconds
    val jit0 = Stats.jitSeconds
    val gc0 = Stats.gcSeconds
    val out = try measure() catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        ctx.attempted += 1
        ctx.failed += 1
        Outcome("failed", Seq(0.0), 0.0, 0.0)
    }
    ctx.measuring = false
    val cpuS = Stats.processCpuSeconds - cpu0
    val jitS = Stats.jitSeconds - jit0
    val gcS = Stats.gcSeconds - gc0
    val host1 = Stats.hostCpu
    log(s"measured ${out.opSeconds.size} x ${out.opName}")
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size

    val secs = out.opSeconds.sorted
    val p50 = Stats.median(secs)
    val (tail, tailPct) = Stats.tail(secs)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (p50, "s"),
      "items_per_s" -> (if (p50 > 0) out.items / p50 else 0.0, "1/s"),
      "result_quality" -> (out.quality, "ratio"),
      "ok_ops_ratio" -> (1.0 - ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      "peak_rss_mb" -> (Stats.peakRssMb, "MB"))

    // the same figures under per-workload names
    val named = mutable.LinkedHashMap[String, Double]("setup_s" -> setupS)
    workload match {
      case "query" =>
        named("query_qps") = e2e("items_per_s")._1
        named("query_batch_p50_s") = p50
        named("query_batch_tail_s") = tail
      case "lifecycle" =>
        named("lifecycle_round_p50_s") = p50
        named("lifecycle_round_tail_s") = tail
      case _ =>
        named("pipeline_pass_s") = p50
    }
    if (workload != "pipeline") named("recall_at_10") = out.quality
    if (ctx.userBytes > 0) named("store_bytes_per_user_byte") = ctx.storeBytes / ctx.userBytes
    named("failed_ops_ratio") = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    named("peak_rss_mb") = e2e("peak_rss_mb")._1

    val metrics: Seq[(String, Double, String)] =
      if (!tracer.on) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        tracer.drain()
        Layers.metrics(ctx, out, persistedAfter)
      }
    if (tracer.on) {
      val traceDir = Paths.get(opts("bench"), ".traces")
      Files.createDirectories(traceDir)
      val file = traceDir.resolve(s"$workload-seed$seed.jsonl")
      Files.write(file, (tracer.spansJson :+ endToEndJson(e2e)).mkString("\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] spans written to $file")
    }
    // the measured window's process CPU, JIT compile and GC time, and the
    // host's steal share (time other tenants took from this machine's
    // CPUs), to read noise by
    named("process_cpu_s") = cpuS
    named("jit_s") = jitS
    named("gc_s") = gcS
    named("steal_share") = {
      val d = host1.zip(host0).map(p => p._1 - p._2)
      if (d.sum > 0 && d.length > 7) d(7).toDouble / d.sum else 0.0
    }
    val detail = named.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
    println(s"""{"workload":${Json.str(workload)},"seed":$seed,"ops":${secs.size},""" +
      s""""op":${Json.str(out.opName)},"op_seconds":[${out.opSeconds.map(Json.num).mkString(",")}],""" +
      s""""tail_percentile":${Json.num(tailPct)},$detail}""")
    val ms = metrics.map { case (k, v, u) => s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }

  /** A progress line on stderr, in seconds since the JVM entered `main`. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  private def endToEndJson(e2e: mutable.LinkedHashMap[String, (Double, String)]): String =
    e2e.map { case (k, (v, _)) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("""{"end_to_end":{""", ",", "}}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it, and that
    * percentile; below eleven samples no such percentile exists and the
    * tail is the maximum (percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0)
    else if (s.size < 11) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** CPU seconds of every thread of this process so far. */
  def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers spent so far. */
  def jitSeconds: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Time the garbage collectors spent so far. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The host's cumulative CPU jiffies (the `cpu` line of /proc/stat:
    * user, nice, system, idle, iowait, irq, softirq, steal, ...). */
  def hostCpu: Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
