package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.runtime.TxLogTable
import graft.sources.{DeltaRead, DeltaWrite, IcebergRead, IcebergWrite}

/** `lakehouse_mutate`: one seeded sequence of rounds on an orders
  * satellite, applied to TxLogTable, Delta and Iceberg alike. A round is
  * an append, a MERGE of ~1% of live keys, a keyed delete and point
  * lookups (current and time-travel); compaction plus vacuum /
  * expireSnapshots runs after every [[MaintEvery]]-th round. Rounds are
  * atomic: one takes longer than a short run's deadline on four cores, so
  * such a run is exactly one round and its op mix never varies. After every
  * round all three tables must equal an in-memory model of the sequence. */
final class Lakehouse(spark: SparkSession, seed: Long, inputsDir: Path) extends Workload {
  val Rounds = 8
  val MaintEvery = 1
  val Cols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
  private val Key = "o_orderkey"

  Gen.lakehouse(spark, seed, inputsDir, rounds = Rounds, maintEvery = MaintEvery, base = 100000,
    appends = 1700, merges = 1000, deletes = 170, currentLookups = 3, pastLookups = 3)
  private val opsDf = Gen.read(spark, inputsDir.resolve("ops"))
  private val schema = opsDf.select(Cols.map(col): _*).schema
  /** ops by round and kind, held in memory so an op's input costs nothing */
  private val ops: Map[(Int, String), Seq[Row]] = opsDf.collect().toSeq
    .groupBy(r => (r.getInt(0), r.getString(1)))
  private def rowsOf(round: Int, kind: String) = ops.getOrElse((round, kind), Nil)
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.get(2), r.get(3), r.get(4), r.get(5), r.get(6))).asJava, schema)

  /** expected table after each round: key → (custkey, status, price, date);
    * computed up to the last round a run reaches */
  private val model: LazyList[Map[Long, Seq[Any]]] = {
    def value(r: Row): Seq[Any] = Seq(r.get(3), r.get(4), r.get(5), r.get(6).toString)
    LazyList.range(1, Rounds + 1).scanLeft(rowsOf(0, "base").map(r => r.getLong(2) -> value(r)).toMap) { (m, round) =>
      (m ++ (rowsOf(round, "append") ++ rowsOf(round, "merge")).map(r => r.getLong(2) -> value(r))) --
        rowsOf(round, "delete").map(_.getLong(2))
    }
  }

  /** One table format behind the calls the workload makes. */
  private abstract class Fmt(val name: String, val dir: Path, val logDir: Path) {
    def create(df: DataFrame): Unit
    def append(df: DataFrame): Unit
    def merge(df: DataFrame): Unit
    def delete(keys: Seq[Long]): Unit
    def compact(): Unit
    def vacuum(): Unit
    def version: Long
    def read(v: Option[Long]): DataFrame
    def filesLive: Int
    def versions: Int
    /** version readable as of each round (after that round's maintenance) */
    val asOf = scala.collection.mutable.Map.empty[Int, Long]
    var scanned = 0L
    var liveAtLookup = 0L
  }

  private def formats(d: Path): Seq[Fmt] = {
    val tx = new TxLogTable(spark, d.resolve("txlog").toString)
    val t = "orders_s"
    val dd = d.resolve("delta"); val id = d.resolve("iceberg")
    val keyIn = (ks: Seq[Long]) => col(Key).isin(ks: _*)
    Seq(
      new Fmt("txlog", d.resolve("txlog").resolve(t), d.resolve("txlog").resolve(t).resolve("_log")) {
        def create(df: DataFrame): Unit = tx.overwrite(t, df)
        def append(df: DataFrame): Unit = tx.append(t, df)
        def merge(df: DataFrame): Unit = tx.merge(t, df, Seq(Key))
        def delete(keys: Seq[Long]): Unit = tx.deleteWhere(t, keyIn(keys), Seq(Key)): Unit
        def compact(): Unit = tx.compact(t): Unit
        def vacuum(): Unit = tx.vacuum(t)
        def version: Long = tx.currentVersion(t).get
        def read(v: Option[Long]): DataFrame = v.fold(tx.read(t))(tx.readVersion(t, _))
        def filesLive: Int = tx.files(t, version).size
        def versions: Int = tx.versions(t).size
      },
      new Fmt("delta", dd, dd.resolve("_delta_log")) {
        def create(df: DataFrame): Unit = DeltaWrite.write(df, dd.toString, mode = "overwrite"): Unit
        def append(df: DataFrame): Unit = DeltaWrite.write(df, dd.toString): Unit
        def merge(df: DataFrame): Unit = DeltaWrite.merge(spark, dd.toString, df, Seq(Key)): Unit
        def delete(keys: Seq[Long]): Unit = DeltaWrite.deleteWhere(spark, dd.toString, keyIn(keys)): Unit
        def compact(): Unit = DeltaWrite.optimize(spark, dd.toString): Unit
        def vacuum(): Unit = DeltaWrite.vacuum(spark, dd.toString): Unit
        def version: Long = DeltaRead.snapshot(dd.toString).version
        def read(v: Option[Long]): DataFrame =
          v.fold(DeltaRead.read(spark, dd.toString))(DeltaRead.readAt(spark, dd.toString, _))
        def filesLive: Int = DeltaRead.snapshot(dd.toString).files.size
        def versions: Int = Files.list(dd.resolve("_delta_log")).iterator().asScala
          .count(_.getFileName.toString.endsWith(".json"))
      },
      new Fmt("iceberg", id, id.resolve("metadata")) {
        def create(df: DataFrame): Unit = IcebergWrite.write(df, id.toString, mode = "overwrite"): Unit
        def append(df: DataFrame): Unit = IcebergWrite.write(df, id.toString): Unit
        def merge(df: DataFrame): Unit = IcebergWrite.merge(spark, id.toString, df, Seq(Key)): Unit
        def delete(keys: Seq[Long]): Unit = IcebergWrite.deleteWhere(spark, id.toString, keyIn(keys)): Unit
        def compact(): Unit = IcebergWrite.rewriteDataFiles(spark, id.toString): Unit
        def vacuum(): Unit = IcebergWrite.expireSnapshots(id.toString): Unit
        def version: Long = IcebergRead.snapshot(id.toString).snapshotId
        def read(v: Option[Long]): DataFrame =
          v.fold(IcebergRead.read(spark, id.toString))(IcebergRead.readAt(spark, id.toString, _))
        def filesLive: Int = IcebergRead.snapshot(id.toString).files.size
        def versions: Int = Files.list(id.resolve("metadata")).iterator().asScala
          .count(_.getFileName.toString.endsWith(".metadata.json"))
      })
  }

  private var fmts: Seq[Fmt] = Nil
  private var round = 0
  private var dir: Path = _

  /** files the scans of an executed plan actually read */
  private def filesScanned(plan: SparkPlan): Long =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
    }.sum

  private def lookup(f: Fmt, key: Long, asOfRound: Int, report: Report): Unit = {
    val v = if (asOfRound == round) None else Some(f.asOf(asOfRound))
    val q = Trace.span(s"${f.name}.read_resolve")(f.read(v))
      .filter(col(Key) === key).select(Cols.map(col): _*)
    val got = q.collect().toSeq.map(r => Seq[Any](r.get(1), r.get(2), r.get(3), r.get(4).toString))
    f.scanned += filesScanned(q.queryExecution.executedPlan)
    report.check(got == model(asOfRound).get(key).toSeq,
      s"${f.name} round $round lookup $key as of round $asOfRound: got $got")
  }

  private def timed(report: Report, cls: String, span: String)(body: => Unit): Unit = {
    report.attempted += 1
    val t0 = System.nanoTime()
    try {
      Trace.span(s"op.$cls")(Trace.span(span)(body))
      report.record(s"${cls}_s", (System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception => report.fail(s"$span round $round: $e") }
  }

  def setup(d: Path): Unit = {
    dir = d
    round = 0
    fmts = formats(d)
    val base = frame(rowsOf(0, "base"))
    fmts.foreach { f =>
      f.create(base)
      f.asOf(0) = f.version
      f.read(None).filter(col(Key) === -1L).collect() // warm the read path
    }
  }

  private def modelFrame(round: Int): DataFrame =
    spark.createDataFrame(model(round).toSeq.map { case (k, v) =>
      Row(k, v(0), v(1), v(2), java.sql.Date.valueOf(v(3).toString)) }.asJava, schema)

  /** Every format's full table equals `model`, the model after `round`. */
  private def checkRound(model: DataFrame, report: Report): Unit = {
    def digest(df: DataFrame) = df.select(Cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(Cols.map(col): _*).cast("decimal(38,0)"))).head()
    val expected = digest(model)
    fmts.foreach { f =>
      val got = digest(f.read(None))
      report.check(got == expected, s"${f.name} after round $round: $got, want $expected")
    }
  }

  /** Bytes on disk of the three tables ÷ three plain-parquet copies of the
    * model's live rows. */
  private def storedRatio(model: DataFrame): Double = {
    val plain = dir.resolve("plain")
    model.coalesce(1).write.mode("overwrite").parquet(plain.toString)
    val plainBytes = Main.dirBytes(plain, _.toString.endsWith(".parquet"))
    Main.rmTree(plain)
    fmts.map(f => Main.dirBytes(f.dir)).sum.toDouble / (3 * plainBytes)
  }

  /** Whole rounds until the deadline: every run times the same op mix. */
  def run(deadlineNs: Long, report: Report): Unit = {
    while (System.nanoTime() < deadlineNs + report.pausedNs && round < Rounds) {
      round += 1
      fmts.foreach { f =>
        timed(report, "write", s"${f.name}.append")(f.append(frame(rowsOf(round, "append"))))
        timed(report, "write", s"${f.name}.merge")(f.merge(frame(rowsOf(round, "merge"))))
        timed(report, "write", s"${f.name}.delete")(f.delete(rowsOf(round, "delete").map(_.getLong(2))))
        val live = report.pause(f.filesLive)
        rowsOf(round, "lookup").foreach { r =>
          f.liveAtLookup += live
          timed(report, "lookup", s"${f.name}.lookup")(lookup(f, r.getLong(2), r.getInt(7), report))
        }
      }
      val expected = report.pause(modelFrame(round))
      // the storage ratio at the first round's peak, before any maintenance
      if (round == 1) report.storedRatio = report.pause(storedRatio(expected))
      if (round % MaintEvery == 0) fmts.foreach { f =>
        timed(report, "maint", s"${f.name}.compact")(f.compact())
        timed(report, "maint", s"${f.name}.vacuum")(f.vacuum())
      }
      fmts.foreach(f => f.asOf(round) = report.pause(f.version))
      report.pause(checkRound(expected, report))
    }
    report.details("maint_s") = (report.ops.get("maint_s").map(_.sum).getOrElse(0.0), "s")
    report.details("rounds") = (round.toDouble, "count")
    report.pause(fmts.foreach { f =>
      report.layer(s"${f.name}.files_live") = f.filesLive
      report.layer(s"${f.name}.files_read_ratio") = f.scanned.toDouble / math.max(1L, f.liveAtLookup)
      report.layer(s"${f.name}.bytes_on_disk") = Main.dirBytes(f.dir).toDouble
      report.layer(s"${f.name}.log_bytes") = Main.dirBytes(f.logDir).toDouble
      report.layer(s"${f.name}.versions") = f.versions
    })
  }

  def verify(report: Report): Unit = ()
}
