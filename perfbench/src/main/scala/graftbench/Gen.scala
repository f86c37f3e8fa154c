package graftbench

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped inputs. Everything the program under test sees is
  * written here as parquet first; the same seed gives byte-identical files.
  *
  * Shape (held fixed across seeds so that seeds vary keys and values, not
  * the amount of work): TPC-H sf0.01 — 1,500 customers, 10 orders each,
  * 1–7 line items per order. Day 0 carries 40% of the orders (the initial
  * load); the rest is spread over the other [[Days]] − 1 days. Every day
  * re-sends a share of already-delivered customers, half of them with a
  * drifted payload, and every [[ReplayEvery]]-th day is a verbatim replay
  * of the day before. */
object Gen {
  val Customers = 1500
  val OrdersPerCustomer = 10
  val Days = 61
  val InitialShare = 0.4
  val ReplayEvery = 3
  val ResendPerDay = 40
  val Segments: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Array[String] = Array("O", "F", "P")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Epoch: Long = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  def isReplay(day: Int): Boolean = day > 0 && day % ReplayEvery == 0
  def loadTs(day: Int): Timestamp = new Timestamp(Epoch + day * 86400000L)

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType), StructField("c_phone", StringType),
    StructField("day", IntegerType), StructField("load_ts", TimestampType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("day", IntegerType), StructField("load_ts", TimestampType)))
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_shipdate", DateType), StructField("day", IntegerType),
    StructField("load_ts", TimestampType)))

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(i => i)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }

  /** Write `rows` as one parquet file under `dir` (single partition, so the
    * file's bytes depend on the rows alone). */
  def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: Path): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)

  def read(spark: SparkSession, dir: Path): DataFrame = spark.read.parquet(dir.toString)

  /** A customer row's payload: (name, nation, acctbal, segment, phone). */
  final case class Cust(key: Long, name: String, nation: Int, acctbal: Double,
                        segment: String, phone: String) {
    def row(day: Int): Row = Row(key, name, nation, acctbal, segment, phone, day, loadTs(day))
  }

  private def newCust(r: SplittableRandom, key: Long): Cust = {
    val nation = r.nextInt(25)
    Cust(key, f"Customer#$key%09d", nation, money(r, -999.99, 9999.99),
      Segments(r.nextInt(Segments.length)),
      f"${10 + nation}%02d-${100 + r.nextInt(900)}-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}")
  }

  /** The daily batches of customer, orders and lineitem for the vault
    * workloads, written to `dir/{customer,orders,lineitem}`. Keys are a
    * seeded permutation; each row carries its `day` and `load_ts`.
    * Returns the number of source rows per day. */
  def vault(spark: SparkSession, seed: Long, dir: Path): Map[Int, Long] = {
    val r = new SplittableRandom(seed)
    val nOrders = Customers * OrdersPerCustomer
    val keyBase = 1 + r.nextInt(1000) // keys differ between seeds, not only order
    val custKeys = shuffled(r, Customers).map(i => (keyBase + i).toLong)
    val orderPerm = shuffled(r, nOrders)
    val initialOrders = (nOrders * InitialShare).toInt
    val dataDays = (1 until Days).filterNot(isReplay)
    def orderDay(i: Int): Int =
      if (i < initialOrders) 0
      else dataDays(((i - initialOrders).toLong * dataDays.size / (nOrders - initialOrders)).toInt)

    val custDay = mutable.Map.empty[Long, Int]
    val cust = mutable.Map.empty[Long, Cust]
    val custRows = mutable.ArrayBuffer.empty[Row]
    val ordRows = mutable.ArrayBuffer.empty[Row]
    val liRows = mutable.ArrayBuffer.empty[Row]
    // customers are delivered the day of their first order at the latest
    val ordersByDay = (0 until nOrders).groupBy(orderDay)
    for (day <- 0 until Days) {
      if (isReplay(day)) {
        // verbatim: the previous day's rows with their original load_ts
        def copy(rows: mutable.ArrayBuffer[Row], dayIdx: Int): Seq[Row] =
          rows.filter(_.getInt(dayIdx) == day - 1).map { x =>
            Row.fromSeq(x.toSeq.updated(dayIdx, day))
          }.toSeq
        custRows ++= copy(custRows, 6); ordRows ++= copy(ordRows, 6); liRows ++= copy(liRows, 7)
      } else {
        val todays = ordersByDay.getOrElse(day, Nil)
        val fresh = mutable.LinkedHashSet.empty[Long]
        todays.foreach { i =>
          val ok = (keyBase * 10L + orderPerm(i)) * 4 // sparse like TPC-H
          val ck = custKeys(orderPerm(i) % Customers)
          if (!custDay.contains(ck)) fresh += ck
          ordRows += Row(ok, ck, Statuses(r.nextInt(3)), money(r, 900, 500000),
            new Date(Epoch - r.nextInt(2000) * 86400000L), Priorities(r.nextInt(5)), day, loadTs(day))
          for (ln <- 1 to 1 + r.nextInt(7))
            liRows += Row(ok, ln, 1L + r.nextInt(20000), (1 + r.nextInt(50)).toDouble,
              money(r, 900, 100000), r.nextInt(11) / 100.0,
              new Date(Epoch + r.nextInt(120) * 86400000L), day, loadTs(day))
        }
        // re-send already-known customers, half with a drifted balance
        val known = custDay.keys.toArray.sorted
        val resend = if (known.isEmpty) Seq.empty[Long]
          else shuffled(r, known.length).take(ResendPerDay).map(known(_)).toSeq
        fresh.foreach { ck => custDay(ck) = day; cust(ck) = newCust(r, ck); custRows += cust(ck).row(day) }
        resend.filterNot(fresh).foreach { ck =>
          if (r.nextInt(2) == 0) cust(ck) = cust(ck).copy(acctbal = money(r, -999.99, 9999.99))
          custRows += cust(ck).row(day)
        }
      }
    }
    writeRows(spark, custRows.toSeq, customerSchema, dir.resolve("customer"))
    writeRows(spark, ordRows.toSeq, ordersSchema, dir.resolve("orders"))
    writeRows(spark, liRows.toSeq, lineitemSchema, dir.resolve("lineitem"))
    (custRows.map(_.getInt(6)) ++ ordRows.map(_.getInt(6)) ++ liRows.map(_.getInt(7)))
      .groupMapReduce(identity)(_ => 1L)(_ + _)
  }

  val opsSchema: StructType = StructType(Seq(
    StructField("round", IntegerType), StructField("kind", StringType),
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("as_of", IntegerType)))

  /** The lakehouse op sequence on an orders satellite: round 0 is the base
    * table; each later round appends new keys, MERGEs ~1% of live keys,
    * deletes a few live keys and looks keys up, some at the current version
    * and some at an older round still readable after the last maintenance
    * (maintenance runs after every `maintEvery`-th round). */
  def lakehouse(spark: SparkSession, seed: Long, dir: Path, rounds: Int, maintEvery: Int,
                base: Int, appends: Int, merges: Int, deletes: Int,
                currentLookups: Int, pastLookups: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val keyBase = 1L + r.nextInt(1000)
    var next = 0L
    val live = mutable.LinkedHashSet.empty[Long]
    val dead = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.ArrayBuffer.empty[Row]
    def order(round: Int, kind: String, key: Long): Row =
      Row(round, kind, key, key / 10 + 1, Statuses(r.nextInt(3)), money(r, 900, 500000),
        new Date(Epoch - r.nextInt(2000) * 86400000L), -1)
    def fresh(round: Int, kind: String, n: Int): Unit = (1 to n).foreach { _ =>
      next += 1; val k = (keyBase * 100000L + next) * 4; live += k; rows += order(round, kind, k)
    }
    def pick(n: Int): Seq[Long] = {
      val arr = live.toArray
      shuffled(r, arr.length).take(n).map(arr(_)).toSeq
    }
    fresh(0, "base", base)
    for (round <- 1 to rounds) {
      fresh(round, "append", appends)
      pick(merges).foreach(k => rows += order(round, "merge", k))
      pick(deletes).foreach { k => live -= k; dead += k; rows += Row(round, "delete", k, null, null, null, null, -1) }
      val oldest = ((round - 1) / maintEvery) * maintEvery
      (1 to currentLookups).foreach { i =>
        val k = if (i == 1 && dead.nonEmpty) dead(r.nextInt(dead.size)) else pick(1).head
        rows += Row(round, "lookup", k, null, null, null, null, round)
      }
      (1 to pastLookups).foreach { _ =>
        rows += Row(round, "lookup", pick(1).head, null, null, null, null,
          oldest + r.nextInt(round - oldest))
      }
    }
    writeRows(spark, rows.toSeq, opsSchema, dir.resolve("ops"))
  }

  val streamSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType),
    StructField("load_ts", TimestampType)))

  /** Customer change files for the streaming workload, one parquet file
    * per landing under `dir/files/file=N`: each holds `newPerFile` unseen
    * customers and `resendPerFile` known ones, half of them drifted. File
    * `i` carries load_ts = epoch + i minutes. */
  def stream(spark: SparkSession, seed: Long, dir: Path, files: Int,
             newPerFile: Int, resendPerFile: Int): Unit = {
    val r = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
    val keyBase = 1L + r.nextInt(1000)
    val known = mutable.ArrayBuffer.empty[Long]
    val cust = mutable.Map.empty[Long, Cust]
    val rows = mutable.ArrayBuffer.empty[Row]
    for (f <- 0 until files) {
      val ts = new Timestamp(Epoch + f * 60000L)
      val resend = if (known.isEmpty) Nil
        else shuffled(r, known.size).take(resendPerFile).map(known(_)).toSeq
      val fresh = (1 to newPerFile).map(i => keyBase * 100000L + known.size + i)
      fresh.foreach { k => cust(k) = newCust(r, k) }
      resend.foreach { k =>
        if (r.nextInt(2) == 0) cust(k) = cust(k).copy(acctbal = money(r, -999.99, 9999.99))
      }
      known ++= fresh
      rows ++= (fresh ++ resend).map { k =>
        val c = cust(k); Row(c.key, c.name, c.acctbal, c.segment, ts, f)
      }
    }
    // one task writes every file, in generation order
    spark.createDataFrame(rows.asJava, streamSchema.add("file", IntegerType)).coalesce(1)
      .write.mode("overwrite").partitionBy("file").parquet(dir.resolve("files").toString)
  }
}
