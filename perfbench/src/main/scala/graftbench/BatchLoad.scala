package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.runtime.TxLogTable

/** `vault_batch_load`: the reference's headline path. Set-up loads day 0;
  * the timed phase loads one daily batch at a time through
  * `Runner.run(threads = cores)`, in rounds of [[RoundDays]] days that
  * always complete, so every run's median is over the same days (the first
  * incremental batch is the slowest). The last day of every round is a
  * verbatim replay of the day before that must insert nothing. */
final class BatchLoad(spark: SparkSession, cores: Int, seed: Long, inputsDir: Path) extends Workload {
  /** the storage ratio is taken after this many timed batches, so it
    * describes the same amount of loading on every run */
  val StorageAfter = 1
  val RoundDays: Int = Gen.ReplayEvery
  private val defs = Vault.defs
  private val kinds = Vault.kindOf(defs)
  private val rowsByDay: Map[Int, Long] = Gen.vault(spark, seed, inputsDir)
  private val inputs: Map[String, DataFrame] = Vault.inputs(spark, inputsDir)
  private var tx: TxLogTable = _
  private var store: Vault.TracedStore = _
  private var models: Seq[graft.runtime.VaultModel] = _
  private var dir: Path = _
  private val loaded = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var compileS = 0.0

  def setup(d: Path): Unit = {
    dir = d
    val c0 = System.nanoTime()
    models = Vault.compile(defs)
    compileS = (System.nanoTime() - c0) / 1e9
    tx = new TxLogTable(spark, d.resolve("vault").toString)
    store = new Vault.TracedStore(tx)
    loaded.clear()
    Vault.run(spark, store, models, inputs, Seq(0), cores)
    loaded += 0
  }

  def run(deadlineNs: Long, report: Report): Unit = {
    var day = 1
    var rows = 0L
    var loadWall = 0.0
    val counted = Seq("hub_customer", "hub_order", "link_order_customer", "sat_customer_v0")
    /** rows in the hubs, the link and the v0 sat, counted in one job */
    def liveRows(): Long = counted.map(t => tx.read(t).select(lit(1))).reduce(_ union _).count()
    val rowsBefore = report.pause(liveRows())
    var rowsAfter = rowsBefore // after the latest replay; every round ends with one
    var staged = 0L
    while ((day % RoundDays != 1 || System.nanoTime() < deadlineNs + report.pausedNs) && day < Gen.Days) {
      val replay = Gen.isReplay(day)
      val before = if (replay) report.pause(liveRows()) else 0L
      val srcRows = rowsByDay.getOrElse(day, 0L)
      report.attempted += 1
      val t0 = System.nanoTime()
      try {
        val res = Trace.span(if (replay) "op.replay_batch" else "op.load_batch") {
          Trace.span("runner.run")(Vault.run(spark, store, models, inputs, Seq(day), cores))
        }
        val s = (System.nanoTime() - t0) / 1e9
        report.record(if (replay) "replay_batch_s" else "load_batch_s", s)
        res.steps.foreach(st => Trace.add(s"runner.step_s.${kinds(st.model)}", st.seconds))
        loaded += day
        if (replay) {
          rowsAfter = report.pause(liveRows())
          report.check(rowsAfter == before, s"replay day $day inserted rows")
        } else { rows += srcRows; loadWall += s; staged += srcRows }
      } catch { case e: Exception => report.fail(s"day $day: $e") }
      if (day == StorageAfter) report.storedRatio = report.pause(
        Vault.storedRatio(spark, tx, Vault.materialized(models), dir.resolve("plain")))
      day += 1
    }
    report.details("load_rows_per_s") = (rows / math.max(1e-9, loadWall), "rows/s")
    report.layer("meta.compile_s") = compileS
    report.layer("loaders.inserted_per_staged") = (rowsAfter - rowsBefore).toDouble / math.max(1, staged)
  }

  def verify(report: Report): Unit =
    Vault.checkAgainstRecompute(tx, inputs, loaded.toSeq, report)
}
