package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.runtime.TxLogTable

/** Checks on the benchmark itself (run by `perfbench/test_bench.py`):
  *  1. the input generator is a function of the seed — the same seed gives
  *     byte-identical files, another seed gives different ones;
  *  2. a corrupted expectation is reported as a failed operation.
  * Prints one `ok <name>` or `FAIL <name>: …` line per check and exits
  * non-zero if any check failed. */
object SelfTest {
  private def parquetBytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.walk(dir)
    try s.filter(_.toString.endsWith(".parquet")).sorted().toArray.toSeq.map { p =>
      val f = p.asInstanceOf[Path]
      dir.relativize(f.getParent).toString -> Files.readAllBytes(f).toSeq
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(Main.arg(args, "--dir")).toAbsolutePath
    Main.rmTree(work)
    Files.createDirectories(work)
    val spark = Main.session(2, work)
    var failures = 0
    def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
      if (ok) println(s"ok $name") else { failures += 1; println(s"FAIL $name: $detail") }
    }

    type G = (Long, Path) => Unit
    val gens: Seq[(String, G)] = Seq(
      "vault" -> ((s: Long, d: Path) => Gen.vault(spark, s, d)),
      "lakehouse" -> ((s: Long, d: Path) => Gen.lakehouse(spark, s, d, rounds = 4, maintEvery = 2,
        base = 200, appends = 10, merges = 5, deletes = 2, currentLookups = 1, pastLookups = 1)),
      "stream" -> ((s: Long, d: Path) => Gen.stream(spark, s, d, files = 3, newPerFile = 5, resendPerFile = 5)))
    gens.foreach { case (name, gen) =>
      gen(7L, work.resolve(s"$name-a")); gen(7L, work.resolve(s"$name-b")); gen(8L, work.resolve(s"$name-c"))
      val (a, b, c) = (parquetBytes(work.resolve(s"$name-a")), parquetBytes(work.resolve(s"$name-b")),
        parquetBytes(work.resolve(s"$name-c")))
      expect(s"$name inputs: same seed gives byte-identical files", a.nonEmpty && a == b)
      expect(s"$name inputs: another seed gives different files", a.map(_._1) == c.map(_._1) && a != c)
    }

    // a correct vault load passes the recomputation check; the same load
    // checked against a corrupted expectation must count failures
    val inputs = Vault.inputs(spark, work.resolve("vault-a"))
    val tx = new TxLogTable(spark, work.resolve("vault").toString)
    val models = Vault.compile(Vault.defs)
    Seq(0, 1).foreach(d => Vault.run(spark, tx, models, inputs, Seq(d), 2))
    val clean = new Report
    Vault.checkAgainstRecompute(tx, inputs, Seq(0, 1), clean)
    expect("vault check passes on a correct load", clean.failed == 0, clean.failures.mkString("; "))
    val drifted = inputs.updated("customer",
      inputs("customer").withColumn("c_acctbal", col("c_acctbal") + when(col("day") === 1, 0.01).otherwise(0.0)))
    val corrupted = new Report
    Vault.checkAgainstRecompute(tx, drifted, Seq(0, 1), corrupted)
    expect("vault check reports a corrupted expectation", corrupted.failed > 0)
    val missingDay = new Report
    Vault.checkAgainstRecompute(tx, inputs, Seq(0), missingDay)
    expect("vault check reports rows the expectation lacks", missingDay.failed > 0)

    spark.stop()
    Main.rmTree(work)
    if (failures > 0) sys.exit(1)
  }
}
