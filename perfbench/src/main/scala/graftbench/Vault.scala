package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.YamlVault
import graft.meta.YamlVault.ModelDef
import graft.runtime.{Materialization, Runner, TxLogTable, VaultModel, VaultStore}

/** The benchmark's own vault: yaml_metadata documents for stages, two hubs
  * (`hub_order` is multi-source), a link, v0/v1 satellites, control
  * snapshots and a PIT, loaded by the [[Runner]] into a [[TxLogTable]]. */
object Vault {
  val CustPayload = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "c_phone")

  /** Model kind by name, for the per-kind runner and loader figures. */
  def kindOf(defs: Seq[ModelDef]): Map[String, String] = defs.map(d => d.name -> d.kind).toMap

  def defs: Seq[ModelDef] = {
    def stage(name: String, src: String, hashed: String) = ModelDef(name, "stage",
      s"""ldts: load_ts
         |rsrc: '!TPCH/$src'
         |source_model: $src
         |enable_ghost_records: false
         |hashed_columns:
         |$hashed""".stripMargin)
    Seq(
      stage("stg_customer", "customer",
        s"""  hk_customer_h: [c_custkey]
           |  hd_customer_s:
           |    is_hashdiff: true
           |    columns: [${CustPayload.mkString(", ")}]
           |""".stripMargin),
      stage("stg_orders", "orders",
        s"""  hk_order_h: [o_orderkey]
           |  hk_customer_h: [o_custkey]
           |  hk_order_customer_l: [o_orderkey, o_custkey]
           |""".stripMargin),
      stage("stg_lineitem", "lineitem",
        """  hk_order_h: [l_orderkey]
          |""".stripMargin),
      ModelDef("hub_customer", "hub",
        """hashkey: hk_customer_h
          |business_keys: [c_custkey]
          |source_models:
          |  stg_customer: {}
          |  stg_orders:
          |    bk_columns: [o_custkey]
          |""".stripMargin),
      ModelDef("hub_order", "hub",
        """hashkey: hk_order_h
          |business_keys: [o_orderkey]
          |source_models:
          |  stg_orders: {}
          |  stg_lineitem:
          |    bk_columns: [l_orderkey]
          |""".stripMargin),
      ModelDef("link_order_customer", "link",
        """link_hashkey: hk_order_customer_l
          |foreign_hashkeys: [hk_order_h, hk_customer_h]
          |source_models: stg_orders
          |""".stripMargin),
      ModelDef("sat_customer_v0", "sat_v0",
        s"""source_model: stg_customer
           |parent_hashkey: hk_customer_h
           |src_hashdiff: hd_customer_s
           |src_payload: [${CustPayload.mkString(", ")}]
           |""".stripMargin),
      ModelDef("sat_customer", "sat_v1",
        """sat_v0: sat_customer_v0
          |hashkey: hk_customer_h
          |hashdiff: hd_customer_s
          |add_is_current_flag: true
          |""".stripMargin),
      ModelDef("snap_v0", "control_snap_v0",
        """start_date: 2024-01-01
          |daily_snapshot_time: '23:00:00'
          |end_date: 2024-01-31
          |""".stripMargin),
      ModelDef("snap", "control_snap_v1",
        """control_snap_v0: snap_v0
          |log_logic:
          |  daily:
          |    forever: TRUE
          |""".stripMargin),
      ModelDef("pit_customer", "pit",
        """tracked_entity: hub_customer
          |hashkey: hk_customer_h
          |sat_names: [sat_customer]
          |snapshot_relation: snap
          |dimension_key: dk_customer
          |snapshot_trigger_column: is_active
          |""".stripMargin))
  }

  /** Compile the documents; each model's build runs inside a
    * `loaders.build.<kind>` span so loader plan construction (and any
    * eager work it does) is attributed to the loaders layer. */
  def compile(defs: Seq[ModelDef]): Seq[VaultModel] = {
    val kinds = kindOf(defs)
    YamlVault.models(defs).map { m =>
      VaultModel(m.name, m.deps, m.sourceModels, m.materialization, m.tags)(ctx =>
        Trace.span(s"loaders.build.${kinds(m.name)}")(m.build(ctx)))
    }
  }

  /** [[TxLogTable]] as the runner's store, each call a `txlog.*` span. */
  final class TracedStore(val tx: TxLogTable) extends VaultStore {
    def baseDir: String = tx.baseDir
    def exists(name: String): Boolean = Trace.span("txlog.read_resolve")(tx.exists(name))
    def read(name: String): DataFrame = Trace.span("txlog.read_resolve")(tx.read(name))
    def readIfExists(name: String): Option[DataFrame] =
      Trace.span("txlog.read_resolve")(tx.readIfExists(name))
    def append(name: String, df: DataFrame): Unit = Trace.span("txlog.append")(tx.append(name, df))
    def overwrite(name: String, df: DataFrame): Unit =
      Trace.span("txlog.overwrite")(tx.overwrite(name, df))
  }

  /** Inputs of `days`, as the runner's external sources. */
  def externals(inputs: Map[String, DataFrame], days: Seq[Int]): String => DataFrame = {
    case src if inputs.contains(src) =>
      inputs(src).filter(col("day").isin(days: _*)).drop("day")
    case other => throw new IllegalArgumentException(s"no source $other")
  }

  def inputs(spark: SparkSession, dir: Path): Map[String, DataFrame] =
    Seq("customer", "orders", "lineitem").map(n => n -> Gen.read(spark, dir.resolve(n))).toMap

  /** Compare hub, link and v0 satellite rows with a plain-Spark
    * recomputation over the delivered slices (business keys, first load
    * date, payload history; hashes are only used to join, never compared),
    * reporting each mismatching table as a failure. */
  def checkAgainstRecompute(tx: TxLogTable, inputs: Map[String, DataFrame],
                            days: Seq[Int], report: Report): Unit = {
    def delivered(n: String) = inputs(n).filter(col("day").isin(days: _*))
    def same(what: String, got: DataFrame, want: DataFrame): Unit = {
      val diff = Vault.diff(got, want)
      report.check(diff == 0, s"$what: $diff rows differ from the recomputation")
    }
    val cust = delivered("customer"); val ord = delivered("orders"); val li = delivered("lineitem")
    same("hub_customer",
      tx.read("hub_customer").select(col("c_custkey"), col("ldts")),
      cust.select(col("c_custkey"), col("load_ts"))
        .union(ord.select(col("o_custkey"), col("load_ts")))
        .groupBy("c_custkey").agg(min("load_ts").as("ldts")))
    same("hub_order",
      tx.read("hub_order").select(col("o_orderkey"), col("ldts")),
      ord.select(col("o_orderkey"), col("load_ts"))
        .union(li.select(col("l_orderkey"), col("load_ts")))
        .groupBy("o_orderkey").agg(min("load_ts").as("ldts")))
    val hc = tx.read("hub_customer").select("hk_customer_h", "c_custkey")
    val ho = tx.read("hub_order").select("hk_order_h", "o_orderkey")
    same("link_order_customer",
      tx.read("link_order_customer").join(ho, "hk_order_h").join(hc, "hk_customer_h")
        .select(col("o_orderkey"), col("c_custkey"), col("ldts")),
      ord.groupBy("o_orderkey", "o_custkey").agg(min("load_ts").as("ldts"))
        .withColumnRenamed("o_custkey", "c_custkey"))
    // a satellite keeps a delivered payload only when it differs from the
    // key's previous one
    def history(df: DataFrame, key: String, payload: Seq[String]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(key).orderBy("load_ts")
      val p = struct(payload.map(col): _*)
      df.select((col(key) +: col("load_ts") +: payload.map(col)): _*).distinct()
        .withColumn("__prev", lag(p, 1).over(w))
        .filter(col("__prev").isNull || col("__prev") =!= p)
        .select((col(key) +: col("load_ts").as("ldts") +: payload.map(col)): _*)
    }
    same("sat_customer_v0",
      tx.read("sat_customer_v0").join(hc, "hk_customer_h")
        .select((col("c_custkey") +: col("ldts") +: CustPayload.map(col)): _*),
      history(cust, "c_custkey", CustPayload))
  }

  /** Rows in which two frames of one schema differ, counted with
    * multiplicity in one job (0 iff they are equal as multisets). */
  def diff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq
    a.withColumn("__side", lit(1L)).union(b.select(cols.map(col): _*).withColumn("__side", lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum("__side").as("__n"))
      .agg(coalesce(sum(abs(col("__n"))), lit(0L))).head().getLong(0)
  }

  /** Bytes on disk of the store's tables ÷ the same live rows written once
    * as plain parquet (one file per table). */
  def storedRatio(spark: SparkSession, store: VaultStore, tables: Seq[String], scratch: Path): Double = {
    val stored = tables.map(t => Main.dirBytes(java.nio.file.Paths.get(store.baseDir, t))).sum
    val plain = tables.map { t =>
      val p = scratch.resolve(t)
      store.read(t).coalesce(1).write.mode("overwrite").parquet(p.toString)
      Main.dirBytes(p, _.toString.endsWith(".parquet"))
    }.sum
    Main.rmTree(scratch)
    stored.toDouble / plain
  }

  def materialized(models: Seq[VaultModel]): Seq[String] =
    models.filter(_.materialization != Materialization.View).map(_.name)

  def run(spark: SparkSession, store: VaultStore, models: Seq[VaultModel],
          inputs: Map[String, DataFrame], days: Seq[Int], threads: Int): Runner.Result =
    new Runner(spark, store, models, externals(inputs, days)).run(threads = threads)
}
