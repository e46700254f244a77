package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BloomConfig, Keys}
import graft.operators.SketchAggs.BloomTokensAgg

/** Native Catalyst bloom-probe expression: codegen (constant sketch) and
  * per-row column paths, SQL surface, null handling, plan shape. */
class BloomMightContainSpec extends AnyFunSuite with BeforeAndAfterAll {
  import BloomMightContainSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-expr-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val cfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 12)

  def buildSketch(tokens: Seq[Int]): Array[Byte] = {
    val words = new Array[Long](cfg.l)
    tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, cfg, t))
    graft.core.BlockedBloom.toBytes(words, cfg, graft.core.BlockedBloom.TypeTag.Int)
  }

  test("foldable-sketch path: literal sketch probed under codegen, no false negatives") {
    GraftFunctions.register(spark)
    val inserted = (1 to 5000).map(_ * 2)
    val sketch = buildSketch(inserted)
    // spark.range (not a local collection) so the probe runs in a real
    // physical plan instead of being constant-folded into LocalTableScan
    val df = spark.range(1, 5001)
      .select((col("id") * 2).cast("int").as("token"))
      .withColumn("hit", GraftFunctions.bloomMightContain(lit(sketch), col("token")))
    assert(df.where(!col("hit")).count() === 0L, "false negative through the native expression")
    // plan must stay inside whole-stage codegen (the point of the expression)
    val hasCodegenStage = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegenStage, s"expected a WholeStageCodegenExec stage in:\n${df.queryExecution.executedPlan}")
  }

  test("foldable path FPR sane on anti-set") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sketch = buildSketch((1 to 5000).map(_ * 2))
    val anti = (1 to 10000).map(_ * 2 + 1)
    val fp = anti.toDF("token")
      .where(GraftFunctions.bloomMightContain(lit(sketch), col("token"))).count()
    assert(fp.toDouble / anti.size < 0.02, s"FPR too high: $fp/${anti.size}")
  }

  test("non-foldable sketch column (per-group sketches joined onto rows)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (0 until 2000).map(i => (s"src${i % 3}", Array(i, i + 10000), 2)).toDF("source", "tokens", "n_tok")
    val bloomU = udaf(new BloomTokensAgg(cfg), ExpressionEncoder[Array[Int]]())
    val sketches = df.groupBy($"source").agg(bloomU($"tokens").as("sketch"))
    val missing = df.select($"source", explode($"tokens").as("token"))
      .join(broadcast(sketches), "source")
      .where(!GraftFunctions.bloomMightContain($"sketch", $"token"))
      .count()
    assert(missing === 0L)
  }

  test("SQL surface and null semantics") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val sketch = buildSketch(Seq(7, 8, 9))
    Seq(Some(7), Some(1000), None).toDF("token").createOrReplaceTempView("probe_t")
    spark.udf // force session init
    val rows = spark.sql(
      "SELECT token, graft_bloom_might_contain(" +
        s"X'${sketch.map("%02x".format(_)).mkString}', token) AS hit FROM probe_t ORDER BY token")
      .collect()
    // null token -> null result
    val byToken = rows.map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
      (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    assert(byToken(Some(7)) === Some(true))
    assert(byToken(None) === None, "null element must yield null, not false")
  }

  test("pure-SQL end-to-end: build sketches and query them without any Scala API") {
    import spark.implicits._
    GraftFunctions.register(spark)
    (0 until 1000).map(i => (s"src${i % 2}", Array(i, i + 5000)))
      .toDF("source", "tokens").createOrReplaceTempView("sql_tokens")
    val rows = spark.sql(
      """SELECT source,
        |       graft_hll_estimate(graft_hll_tokens(tokens)) AS est,
        |       graft_bloom_tokens(tokens) AS sk
        |FROM sql_tokens GROUP BY source""".stripMargin).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1000.0) < 60.0, s"SQL HLL estimate ${r.getDouble(1)}")
      assert(r.getAs[Array[Byte]](2).nonEmpty)
    }
    // probe the SQL-built sketch through SQL
    spark.sql("SELECT source, graft_bloom_tokens(tokens) AS sk FROM sql_tokens GROUP BY source")
      .createOrReplaceTempView("sql_sketches")
    val missing = spark.sql(
      """SELECT count(*) FROM (SELECT t.source, explode(t.tokens) AS tok, s.sk
        |FROM sql_tokens t JOIN sql_sketches s ON t.source = s.source) x
        |WHERE NOT graft_bloom_might_contain(sk, tok)""".stripMargin).head().getLong(0)
    assert(missing === 0L, "false negative through the pure-SQL path")
    // quantiles through SQL
    val med = spark.sql(
      "SELECT graft_kll_quantile(graft_kll(CAST(size(tokens) AS DOUBLE)), 0.5) FROM sql_tokens")
      .head().getDouble(0)
    assert(med === 2.0)
    // set ops through SQL: graft_bloom_intersect is registered and
    // intersect(x, x) preserves membership (token 42 is in src0's evens)
    val inter = spark.sql(
      """SELECT graft_bloom_might_contain(
        |  graft_bloom_intersect(a.sk, b.sk), 42) AS hit
        |FROM sql_sketches a JOIN sql_sketches b ON a.source = b.source
        |WHERE a.source = 'src0'""".stripMargin).head().getBoolean(0)
    assert(inter, "intersect(x, x) must preserve x's members (42 = 2*21 is in src0)")
  }

  test("graft_sip_hash64 expression agrees with the core SipHash") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rows = spark.range(1, 100)
      .select(col("id").cast("int").as("x"))
      .withColumn("h", GraftFunctions.sipHash64(col("x")))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) === graft.core.SipHash.hashInt(Keys.DefaultK0, Keys.DefaultK1, r.getInt(0)))
    }
    // string + SQL path with explicit key
    Seq("alpha").toDF("s").createOrReplaceTempView("sip_t")
    val h = spark.sql("SELECT graft_sip_hash64(s, 7L, 9L) FROM sip_t").head().getLong(0)
    assert(h === graft.core.SipHash.hashString(7L, 9L, "alpha"))
  }

  test("cross-type probe is rejected loudly (serialized type tag enforced)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def chainMsg(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    // Int-built filter probed with a Long column: silently-garbage
    // membership in round 1 (ADVICE), must now throw on load.
    val skInt = buildSketch(Seq(1, 2, 3))
    val exFold = intercept[Throwable] {
      (1L to 3L).toDF("x")
        .where(GraftFunctions.bloomMightContain(lit(skInt), col("x"))).count()
    }
    assert(chainMsg(exFold).contains("probed/loaded as bigint"), s"unexpected: ${chainMsg(exFold)}")

    // non-foldable sketch column path enforces too
    val exCol = intercept[Throwable] {
      Seq((skInt, "seven")).toDF("sk", "s")
        .where(GraftFunctions.bloomMightContain(col("sk"), col("s"))).count()
    }
    assert(chainMsg(exCol).contains("probed/loaded as string"), s"unexpected: ${chainMsg(exCol)}")

    // UDF surface enforces too
    val exUdf = intercept[Throwable] {
      Seq((skInt, 7L)).toDF("sk", "x")
        .where(graft.functions.SketchFunctions.bloomMightContainLong(
          Keys.DefaultK0, Keys.DefaultK1)(col("sk"), col("x"))).count()
    }
    assert(chainMsg(exUdf).contains("probed/loaded as bigint"), s"unexpected: ${chainMsg(exUdf)}")

    // matching type still probes fine after the guard
    val ok = Seq(1, 2, 3).toDF("t")
      .where(GraftFunctions.bloomMightContain(lit(skInt), col("t"))).count()
    assert(ok === 3L)
  }

  test("long and string element types") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val wordsL = new Array[Long](cfg.l)
    (1L to 100L).foreach(x => graft.core.BlockedBloom.insertLong(wordsL, cfg, x))
    val skL = graft.core.BlockedBloom.toBytes(wordsL, cfg, graft.core.BlockedBloom.TypeTag.Long)
    val hitsL = (1L to 100L).toDF("x")
      .where(GraftFunctions.bloomMightContain(lit(skL), col("x"))).count()
    assert(hitsL === 100L)

    val wordsS = new Array[Long](cfg.l)
    val strs = Seq("alpha", "beta", "gamma", "héllo")
    strs.foreach(s => graft.core.BlockedBloom.insertString(wordsS, cfg, s))
    val skS = graft.core.BlockedBloom.toBytes(wordsS, cfg, graft.core.BlockedBloom.TypeTag.String)
    val hitsS = strs.toDF("s")
      .where(GraftFunctions.bloomMightContain(lit(skS), col("s"))).count()
    assert(hitsS === strs.size.toLong,
      "UTF8String probe must agree with the String insert encoding")
  }

  /** 2^17 words: a sketch of just over 1 MiB. */
  val bigCfg = BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 17)

  def bigSketch(tokens: Seq[Int]): Array[Byte] = {
    val words = new Array[Long](bigCfg.l)
    tokens.foreach(t => graft.core.BlockedBloom.insertInt(words, bigCfg, t))
    graft.core.BlockedBloom.toBytes(words, bigCfg, graft.core.BlockedBloom.TypeTag.Int)
  }

  def assertSmallPlan(df: DataFrame, sketchBytes: Int): Unit =
    planTexts(df).foreach { case (what, text) =>
      assert(text.length < PlanTextCap,
        s"$what is ${text.length} chars with a $sketchBytes B sketch:\n${text.take(2000)}")
      assert(text.contains(s"sketch[$sketchBytes B]"), s"$what does not show the sketch:\n$text")
    }

  test("1 MiB sketch: plain probe plan text stays small and shows sketch[<n> B]") {
    GraftFunctions.register(spark)
    val sketch = bigSketch((1 to 5000).map(_ * 2))
    assert(sketch.length >= (1 << 20))
    val df = spark.range(1, 5001)
      .select((col("id") * 2).cast("int").as("token"))
      .where(GraftFunctions.bloomMightContain(lit(sketch), col("token")))
    assert(df.collect().length === 5000, "false negative through the constant sketch")
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    assertSmallPlan(df, sketch.length)
  }

  test("1 MiB sketch: SQL surface plan text stays small") {
    GraftFunctions.register(spark)
    val sketch = bigSketch(1 to 1000)
    // spark.range, not a local collection, so the probe is not folded
    // into a LocalTableScan on the driver
    spark.range(1, 1001).selectExpr("CAST(id AS INT) AS token").createOrReplaceTempView("probe_big_t")
    val df = spark.sql(
      "SELECT token FROM probe_big_t WHERE graft_bloom_might_contain(" +
        s"X'${sketch.map("%02x".format(_)).mkString}', token)")
    assert(df.collect().length === 1000, "false negative through the SQL surface")
    assertSmallPlan(df, sketch.length)
  }

  test("1 MiB sketch: decontamination plan text stays small, hits exact") {
    import spark.implicits._
    val tokens = Seq(
      graft.sources.Tokens.TokenRow("e1", Array(1, 2, 3, 4, 5), 5, "ev"),
      graft.sources.Tokens.TokenRow("t1", Array(7, 1, 2, 3, 4, 8), 6, "tr"),
      graft.sources.Tokens.TokenRow("t2", Array(5, 4, 3, 2, 1), 5, "tr")).toDF()
    val rep = graft.operators.Decontamination.decontaminate(tokens, "ev", 4, bigCfg)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rep.toSeq === Seq(("tr", 2L, 1L, 1L)))
    // the frame decontaminate collects, planned and executed the same way;
    // returns its formatted explain before and after execution
    def explained(cfg: BloomConfig): (String, String, String) = {
      val (out, evalGrams) = graft.operators.Decontamination.decontaminateLazy(tokens, "ev", 4, cfg)
      try {
        val before = out.queryExecution.explainString(FormattedMode)
        assert(out.collect().length === 1)
        (before, out.queryExecution.executedPlan.toString, out.queryExecution.explainString(FormattedMode))
      } finally evalGrams.unpersist()
    }
    val sketchBytes = bigCfg.sizeBytes + 64 // words + the 64-byte metadata tail
    val (before, executed, after) = explained(bigCfg)
    assert(executed.length < PlanTextCap && executed.contains(s"sketch[$sketchBytes B]"), executed)
    assert(before.length < PlanTextCap && before.contains(s"sketch[$sketchBytes B]"), before)
    // After execution, AQE's formatted text lists the final AND the initial
    // plan of this ~70-operator query, which is about 17 KB with any sketch.
    // The sketch may add only its rendering: compare with a 576 B sketch.
    val (_, _, afterSmall) = explained(BloomConfig(Keys.DefaultK0, Keys.DefaultK1, 3, 3))
    assert(math.abs(after.length - afterSmall.length) < 1024,
      s"formatted explain: ${after.length} chars with a $sketchBytes B sketch, ${afterSmall.length} with 576 B")
  }

  test("function builder: a cross-type sketch is still rejected at analysis") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val skInt = buildSketch(Seq(7))
    val built = GraftFunctions.builder(Seq(Literal(skInt, BinaryType), Literal(9L, LongType)))
    val probe = built.asInstanceOf[BloomMightContain]
    assert(probe.left === SketchConstant(skInt))
    assert(probe.checkInputDataTypes().isFailure)
    probe.genCode(new CodegenContext) // must not throw
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      (1L to 3L).toDF("x").where(GraftFunctions.bloomMightContain(lit(skInt), col("x"))).collect()
    }
    assert(ex.getMessage.contains("probed/loaded as bigint"), s"unexpected: ${ex.getMessage}")
  }

  test("function builder: empty and null sketches keep the literal path and probe to NULL") {
    GraftFunctions.register(spark)
    val empty = GraftFunctions.builder(Seq(Literal(Array.emptyByteArray, BinaryType), Literal(1)))
    assert(empty.asInstanceOf[BloomMightContain].left.isInstanceOf[Literal])
    val df = spark.range(1, 4).select(col("id").cast("int").as("t"))
      .select(
        GraftFunctions.bloomMightContain(lit(Array.emptyByteArray), col("t")).as("empty"),
        GraftFunctions.bloomMightContain(lit(null).cast("binary"), col("t")).as("null"))
    val rows = df.collect()
    assert(rows.length === 3 && rows.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(spark.sql("SELECT graft_bloom_might_contain(X'', 7)").head().isNullAt(0))
  }

  test("two lit calls on one sketch compare equal after canonicalization") {
    GraftFunctions.register(spark)
    val sketch = bigSketch(1 to 100)
    val base = spark.range(1, 200).select(col("id").cast("int").as("t"))
    def probed(s: Array[Byte]): DataFrame = base.where(GraftFunctions.bloomMightContain(lit(s), col("t")))
    def condition(df: DataFrame): Expression =
      df.queryExecution.analyzed.collectFirst { case f: Filter => f.condition }.get
    val (a, b, copy) = (condition(probed(sketch)), condition(probed(sketch)), condition(probed(sketch.clone())))
    assert(a.collectFirst { case c: SketchConstant => c }.isDefined, s"no SketchConstant in $a")
    assert(a.semanticEquals(b) && a.semanticHash() === b.semanticHash())
    assert(a.semanticEquals(copy) && a.semanticHash() === copy.semanticHash())
    assert(!a.semanticEquals(condition(probed(bigSketch(1 to 101)))))
    // the cache manager matches plans by canonical form: a second lit call
    // on the same bytes reads the first frame's cache
    val cached = probed(sketch).persist()
    try {
      assert(cached.count() === 100L)
      assert(probed(sketch.clone()).queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]))
    } finally cached.unpersist()
  }
}

object BloomMightContainSpec {

  /** Plan text bound for a probe over a >= 1 MiB sketch: a hex-rendered
    * literal alone would be more than twice the sketch size. */
  val PlanTextCap: Int = 16 * 1024

  /** The executed plan's tree string and its formatted explain output. */
  def planTexts(df: DataFrame): Seq[(String, String)] = Seq(
    "executed plan" -> df.queryExecution.executedPlan.toString,
    "explain(formatted)" -> df.queryExecution.explainString(FormattedMode))
}
