package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.expr.{HashConfig, Hashing}
import graft.loaders.{EntitySource, HubLoader, SatV0Loader}
import graft.runtime.TxLogTable
import graft.streaming.StreamingLoaders

/** `stream_vault_tail`: customer change files land one at a time; a
  * long-running `StreamingLoaders.vaultSink` loads hub and satellite
  * through `appendOnce`, and the client waits in `processAllAvailable()`
  * after each landing. The run ends with a checkpoint-loss replay that
  * must add nothing, and the final tables must equal a batch load of the
  * same files. */
final class StreamTail(spark: SparkSession, seed: Long, inputsDir: Path) extends Workload {
  val Files_ = 60
  /** landings done by set-up: the initial file, which creates the tables,
    * and one warm-up landing through the incremental path */
  val SetupFiles = 2
  val Payload: Seq[String] = Seq("c_name", "c_acctbal", "c_mktsegment")
  private implicit val hc: HashConfig = Hashing.Default
  private val rowsPerFile = 30
  Gen.stream(spark, seed, inputsDir, Files_, newPerFile = 10, resendPerFile = rowsPerFile - 10)

  private var dir: Path = _
  private var tx: TxLogTable = _
  private var query: StreamingQuery = _
  private var landed = 0

  private def staged(maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.schema(Gen.streamSchema).option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir.resolve("landing").toString)
      .withColumn("ldts", col("load_ts"))
      .withColumn("rsrc", lit("TPCH/customer_changes"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
      .withColumn("hd_customer_s", Hashing.hashdiff(Payload.map(col)))

  private def start(trigger: Trigger, maxFilesPerTrigger: Int): StreamingQuery =
    StreamingLoaders.vaultSink(staged(maxFilesPerTrigger), tx, "hub_customer", "sat_customer",
      hashkey = "hk_customer_h", businessKeys = Seq("c_custkey"), bkColumns = Seq("c_custkey"),
      hashdiff = "hd_customer_s", payload = Payload,
      checkpoint = dir.resolve("cp").toString, appId = Some("perfbench-tail"),
      trigger = trigger).start()

  /** Move file `i` into the landing directory (an atomic rename). */
  private def land(i: Int): Unit = {
    val src = Files.list(inputsDir.resolve(s"files/file=$i")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    val dst = dir.resolve("landing").resolve(f"$i%03d.parquet")
    Files.copy(src, dir.resolve(f"$i%03d.tmp"), StandardCopyOption.REPLACE_EXISTING)
    Files.move(dir.resolve(f"$i%03d.tmp"), dst, StandardCopyOption.ATOMIC_MOVE)
    landed = i + 1
  }

  def setup(d: Path): Unit = {
    if (query != null) query.stop()
    dir = d
    Files.createDirectories(d.resolve("landing"))
    tx = new TxLogTable(spark, d.resolve("vault").toString)
    landed = 0
    land(0)
    query = start(Trigger.ProcessingTime(25), 1)
    query.processAllAvailable()
    (1 until SetupFiles).foreach { i => land(i); query.processAllAvailable() }
  }

  def run(deadlineNs: Long, report: Report): Unit = {
    var rows = 0L
    var busy = 0.0
    while (System.nanoTime() < deadlineNs + report.pausedNs && landed < Files_) {
      val n = rowsPerFile
      report.attempted += 1
      val t0 = System.nanoTime()
      try {
        Trace.span("op.freshness") {
          land(landed)
          Trace.span("streaming.process")(query.processAllAvailable())
        }
        val s = (System.nanoTime() - t0) / 1e9
        report.record("freshness_s", s)
        rows += n; busy += s
      } catch { case e: Exception => report.fail(s"landing $landed: $e") }
      if (landed == SetupFiles + 2) report.storedRatio = report.pause(
        Vault.storedRatio(spark, tx, Seq("hub_customer", "sat_customer"), dir.resolve("plain")))
    }
    report.details("stream_rows_per_s") = (rows / math.max(1e-9, busy), "rows/s")
  }

  def verify(report: Report): Unit = {
    query.stop()
    val counts = () => Seq("hub_customer", "sat_customer").map(t => tx.read(t).count())
    val before = counts()
    // checkpoint loss: the source re-delivers every file (as one batch);
    // the tables' (appId, batchId) markers must absorb the replay
    Main.rmTree(dir.resolve("cp"))
    val replay = start(Trigger.AvailableNow(), Files_)
    replay.processAllAvailable(); replay.stop()
    report.check(counts() == before, s"checkpoint-loss replay changed row counts: $before -> ${counts()}")

    val all = spark.read.schema(Gen.streamSchema).parquet(dir.resolve("landing").toString)
      .withColumn("ldts", col("load_ts")).withColumn("rsrc", lit("TPCH/customer_changes"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
      .withColumn("hd_customer_s", Hashing.hashdiff(Payload.map(col)))
    val hub = HubLoader.records(Seq(EntitySource(all, Some("hk_customer_h"), Seq("c_custkey"))),
      "hk_customer_h", Seq("c_custkey"), None)
    val sat = SatV0Loader.records(all, Seq("hk_customer_h"), Some("hd_customer_s"), Payload, None)
    def same(what: String, got: DataFrame, want: DataFrame, cols: Seq[String]): Unit = {
      val diff = Vault.diff(got.select(cols.map(col): _*), want.select(cols.map(col): _*))
      report.check(diff == 0, s"streamed $what vs batch load: $diff rows differ")
    }
    same("hub", tx.read("hub_customer"), hub, Seq("hk_customer_h", "c_custkey", "ldts"))
    same("sat", tx.read("sat_customer"), sat, Seq("hk_customer_h", "ldts", "hd_customer_s") ++ Payload)
  }
}
