package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}

/** Keyed probe expression (`graft_bloom_might_contain_keyed`) — the
  * optimization-round replacement for carrying per-group sketch COLUMNS
  * through a broadcast join into the probe filter. Gates:
  *  - probe parity: keyed probe over a pack == per-row probe against the
  *    matching filter, for every (key, element);
  *  - WHERE-semantics parity with the inner join it replaces: a key with
  *    no pack entry (and an empty payload) yields NULL, filtering the row;
  *  - codegen: the filter stays inside whole-stage codegen;
  *  - analysis-time rejection of a cross-type pack (the BloomMightContain
  *    convention: fail loudly at analysis, not inside generated code). */
class BloomKeyedProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-keyed-probe-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 10)

  def sketchOf(tokens: Seq[Int]): Array[Byte] = {
    val words = new Array[Long](cfg.l)
    tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
    graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
  }

  test("keyed probe parity with per-filter probes, incl. missing key and empty payload") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val packA = sketchOf(1 to 200)
    val packB = sketchOf(201 to 400)
    val pack = Seq("a" -> packA, "b" -> packB, "empty" -> Array.emptyByteArray)
    val rows = (1 to 400).flatMap(t => Seq(("a", t), ("b", t), ("missing", t), ("empty", t)))
    val df = rows.toDF("grp", "token")
      .repartition(3) // real physical plan, not constant-folded
      .withColumn("hit",
        GraftFunctions.bloomMightContainKeyed(pack, col("grp"), col("token")))
    val collected = df.collect()
    val fa = LoadedBloomFilter.load(Keys.DefaultK0, Keys.DefaultK1, packA)
    val fb = LoadedBloomFilter.load(Keys.DefaultK0, Keys.DefaultK1, packB)
    collected.foreach { r =>
      val (grp, t) = (r.getString(0), r.getInt(1))
      grp match {
        case "a" => assert(!r.isNullAt(2) && r.getBoolean(2) == fa.containsInt(t))
        case "b" => assert(!r.isNullAt(2) && r.getBoolean(2) == fb.containsInt(t))
        case _ => assert(r.isNullAt(2), s"$grp should probe NULL")
      }
    }
    // no false negatives through the keyed path
    assert(df.where(col("grp") === "a" && col("token") <= 200 && !col("hit")).count() === 0L)
    // WHERE drops NULL-probed rows exactly like the inner join it replaces
    val kept = rows.toDF("grp", "token").repartition(3)
      .where(GraftFunctions.bloomMightContainKeyed(pack, col("grp"), col("token")))
    assert(kept.where(col("grp").isin("missing", "empty")).count() === 0L)
  }

  test("keyed probe stays inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val pack = Seq("g" -> sketchOf(1 to 999))
    val df = spark.range(1, 1000)
      .select(lit("g").as("grp"), col("id").cast("int").as("token"))
      .where(GraftFunctions.bloomMightContainKeyed(pack, col("grp"), col("token")))
    val hasCodegenStage = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, s"expected WholeStageCodegenExec in:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 999L, "no false negatives")
  }

  test("cross-type pack rejected at analysis") {
    GraftFunctions.register(spark)
    val pack = Seq("g" -> sketchOf(1 to 10)) // int-tagged filter
    // Dataset analysis is eager, so the failure surfaces at construction
    val e = intercept[Exception] {
      spark.range(1, 10)
        .select(lit("g").as("grp"), col("id").as("token")) // bigint probe
        .where(GraftFunctions.bloomMightContainKeyed(pack, col("grp"), col("token")))
        .collect()
    }
    assert(e.getMessage.contains("probed/loaded as"),
      s"expected type-tag wording, got: ${e.getMessage.take(300)}")
  }

  test("1 MiB pack: keyed probe plan text stays small and shows sketch[<n> B]") {
    GraftFunctions.register(spark)
    val bigCfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 17)
    val words = new Array[Long](bigCfg.l)
    (1 to 999).foreach(t => graft.core.BlockedBloom.insertInt(words, bigCfg, t))
    val filters = Seq(
      "g" -> graft.core.BlockedBloom.toBytes(words, bigCfg, graft.core.BlockedBloom.TypeTag.Int),
      "h" -> sketchOf(1 to 10))
    val packBytes = BloomFilterPack.encode(filters).length
    assert(packBytes >= (1 << 20))
    val df = spark.range(1, 1000)
      .select(lit("g").as("grp"), col("id").cast("int").as("token"))
      .where(GraftFunctions.bloomMightContainKeyed(filters, col("grp"), col("token")))
    assert(df.collect().length === 999, "no false negatives")
    BloomMightContainSpec.planTexts(df).foreach { case (what, text) =>
      assert(text.length < BloomMightContainSpec.PlanTextCap,
        s"$what is ${text.length} chars with a $packBytes B pack:\n${text.take(2000)}")
      assert(text.contains(s"sketch[$packBytes B]"), s"$what does not show the pack:\n$text")
    }
  }
}
