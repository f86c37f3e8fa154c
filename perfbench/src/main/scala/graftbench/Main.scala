package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload hands back to [[Main]]: timed client operations,
  * their failures, the storage ratio and any workload-specific figures. */
final class Report {
  /** wall seconds of every timed client operation, by class */
  val ops: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var storedRatio: Double = Double.NaN
  /** figures printed by name before the result line (untraced) */
  val details: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** per-layer figures a workload measures itself (traced) */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def record(cls: String, seconds: Double): Unit =
    ops.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += seconds

  /** time spent in [[pause]] during the timed phase: checks and storage
    * measurements that must not count as client operations */
  var pausedNs = 0L
  def pause[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  def fail(what: String): Unit = { failed += 1; failures += what }

  /** Check `ok`, counting a wrong output as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def all: Seq[Double] = ops.values.flatten.toSeq
}

/** A benchmark workload: set up (repeatable, on a fresh directory), then
  * drive timed operations until the deadline, then check the outputs. */
trait Workload {
  def setup(dir: Path): Unit
  def run(deadlineNs: Long, report: Report): Unit
  def verify(report: Report): Unit
}

object Main {
  val Setups = 3

  def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1 max 0))
    }

  def session(cores: Int, dir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.streaming.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def dirBytes(p: Path, filter: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && filter(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  private def gcTotals(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum / 1000.0, gcs.map(_.getCollectionCount).sum.toDouble)
  }

  /** Heap in use after garbage collection. Spark frees broadcast and
    * shuffle blocks only after the GC that finds them unreachable (its
    * cleaner thread reacts to the collected references), so collect a few
    * times and keep the smallest reading. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--dir")).toAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    rmTree(work)
    Files.createDirectories(work)

    val spark = session(cores, work)
    val sparkStart = (System.nanoTime() - t0) / 1e9
    if (traced) Trace.start(spark)
    val inputs = work.resolve("inputs")
    val g0 = System.nanoTime()
    val w: Workload = workload match {
      case "vault_batch_load"  => new BatchLoad(spark, cores, seed, inputs)
      case "lakehouse_mutate"  => new Lakehouse(spark, seed, inputs)
      case "stream_vault_tail" => new StreamTail(spark, seed, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val genS = (System.nanoTime() - g0) / 1e9
    // set up several times on fresh directories and report the median; the
    // last set-up is the one the timed phase runs on
    val setupTimes = (1 to Setups).map { i =>
      val d = work.resolve(s"setup$i")
      val s0 = System.nanoTime()
      w.setup(d)
      val s = (System.nanoTime() - s0) / 1e9
      if (i < Setups) rmTree(d)
      s
    }

    val report = new Report
    if (traced) Trace.reset()
    val (gc0, gcn0) = gcTotals()
    val start = System.nanoTime()
    w.run(start + (seconds * 1e9).toLong, report)
    val wall = (System.nanoTime() - start - report.pausedNs) / 1e9
    val (gc1, gcn1) = gcTotals()
    if (traced) Trace.stop()
    val heapMb = liveHeapMb()

    val v0 = System.nanoTime()
    try w.verify(report) catch { case e: Exception => report.fail(s"output check: $e") }
    val verifyS = (System.nanoTime() - v0) / 1e9
    val all = report.all
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupTimes), "s"),
        ("op_s.p50", median(all), "s"),
        ("ops_per_s", all.size / wall, "1/s"),
        ("heap_live_mb", heapMb, "MB"),
        ("stored_bytes_per_live_byte", report.storedRatio, "ratio"))
      else Layers.collect(report, wall, gc1 - gc0, gcn1 - gcn0, all)

    val details = Seq(
      ("spark_start_s", sparkStart, "s"),
      ("generate_s", genS, "s"),
      ("setup_total_s", setupTimes.sum, "s"),
      ("timed_wall_s", wall, "s"),
      ("paused_s", report.pausedNs / 1e9, "s"),
      ("verify_s", verifyS, "s"),
      ("failed_ratio", report.failed.toDouble / math.max(1, report.attempted), "ratio"),
      ("op_count", all.size.toDouble, "count")) ++
      report.ops.toSeq.flatMap { case (cls, buf) =>
        val xs = buf.toSeq
        Seq((s"$cls.p50", median(xs), "s"), (s"$cls.n", xs.size.toDouble, "count")) ++
          (if (xs.size >= 100) Seq((s"$cls.p90", quantile(xs, 0.9), "s")) else Nil)
      } ++ report.details.toSeq.map { case (n, (v, u)) => (n, v, u) }
    println(s"workload $workload seed $seed traced $traced")
    report.failures.take(20).foreach(f => println(s"failure: $f"))
    details.foreach { case (n, v, u) => println(f"$n%-34s ${fmt(v)} $u") }
    if (traced) {
      val out = work.getParent.resolve(s"trace-$workload-seed$seed.json")
      Trace.writeJson(out, s""""workload":"$workload","seed":$seed""")
      println(s"spans written to $out")
    }

    val ok = report.failed == 0
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $ok, "attempted": ${math.max(1, report.attempted)}, """ +
      s""""failed": ${report.failed}, "metrics": {${m.mkString(", ")}}}""")
    spark.stop()
    rmTree(work)
  }
}
