package graft.exec

import graft.analyze.Compiler
import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Edge semantics the sample project doesn't reach: self-joins, unique-join
  * guards, theta (non-equi) M-aggregates, struct field access, decimal
  * normalization.
  */
class PlannerEdgeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-edge-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graftwh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def run(p: Project, tables: Map[String, DataFrame]): Runner = {
    val cp = new Compiler(p).compile()
    new Runner(cp, s => tables(s.sourceTable))
  }

  test("self-join: lookup into the same source via self-relation") {
    import spark.implicits._
    val emp = Seq(
      (1L, "alice", null.asInstanceOf[java.lang.Long]),
      (2L, "bob", java.lang.Long.valueOf(1L)),
      (3L, "carol", java.lang.Long.valueOf(1L)),
      (4L, "dave", java.lang.Long.valueOf(2L)))
      .toDF("emp_id", "name", "manager_id")
    val p = Project(
      sources = Seq(SourceDef("emp", "emp",
        Seq(RawAttr("emp_id", LongType), RawAttr("name", StringType),
          RawAttr("manager_id", LongType)),
        rules = Seq(RuleDef("mgr_name", "[emp].name")))),
      relations = Seq(RelationDef("[emp]- manager -[emp]",
        "[This].manager_id = [Related].emp_id", Cardinality.ManyOne)))
    val hub = run(p, Map("emp" -> emp)).hub("emp")
    val m = hub.collect().map(r => r.getAs[Long]("emp_id") -> r.getAs[String]("mgr_name")).toMap
    assert(m(1L) == null && m(2L) == "alice" && m(3L) == "alice" && m(4L) == "bob")
  }

  test("unique-join guard ANDs the companion uv_flag into the join") {
    import spark.implicits._
    // dim has a DUPLICATED computed key 'k10'; the unique guard must null
    // out lookups through the non-unique key rather than duplicating facts
    val dim = Seq((10L, "ten-a"), (10L, "ten-b"), (20L, "twenty"))
      .toDF("dim_id", "label")
    val fact = Seq((1L, 10L), (2L, 20L)).toDF("fact_id", "dim_ref")
    val p = Project(
      sources = Seq(
        SourceDef("dim", "dim",
          Seq(RawAttr("dim_id", LongType), RawAttr("label", StringType)),
          rules = Seq(
            RuleDef("key", "CONCAT('k', [This].dim_id)", uniqueFlag = true),
            RuleDef("key_uv_flag",
              "count(1) OVER (PARTITION BY [This].key) = 1"))),
        SourceDef("fact", "fact",
          Seq(RawAttr("fact_id", LongType), RawAttr("dim_ref", LongType)),
          rules = Seq(
            RuleDef("fact_key", "CONCAT('k', [This].dim_ref)"),
            RuleDef("dim_label", "[dim].label")))),
      relations = Seq(RelationDef("[fact]- key -[dim]",
        "[This].fact_key = [Related].key", Cardinality.ManyOne)))
    val hub = run(p, Map("dim" -> dim, "fact" -> fact)).hub("fact")
    val rows = hub.orderBy("fact_id").collect()
    assert(rows.length == 2, "facts must not duplicate through a non-unique key")
    assert(rows(0).getAs[String]("dim_label") == null) // k10 not unique → guarded out
    assert(rows(1).getAs[String]("dim_label") == "twenty")
  }

  test("unique join without companion rule is a compile-time error") {
    val p = Project(
      sources = Seq(
        SourceDef("dim", "dim", Seq(RawAttr("dim_id", LongType)),
          rules = Seq(RuleDef("key", "CONCAT('k', [This].dim_id)", uniqueFlag = true))),
        SourceDef("fact", "fact", Seq(RawAttr("dim_ref", LongType)),
          rules = Seq(RuleDef("x", "[dim].dim_id")))),
      relations = Seq(RelationDef("[fact]- key -[dim]",
        "CONCAT('k', [This].dim_ref) = [Related].key", Cardinality.ManyOne)))
    import spark.implicits._
    val dim = Seq(1L).toDF("dim_id")
    val fact = Seq(1L).toDF("dim_ref")
    val e = intercept[CompileError](
      run(p, Map("dim" -> dim, "fact" -> fact)).hub("fact"))
    assert(e.message.contains("Uniqueness validation"))
  }

  test("theta (non-equi) M-aggregate falls back to tagged join") {
    import spark.implicits._
    val buckets = Seq((1L, 0.0, 100.0), (2L, 100.0, 200.0)).toDF("b_id", "lo", "hi")
    val obs = Seq((1L, 50.0), (2L, 150.0), (3L, 75.0), (4L, 250.0))
      .toDF("o_id", "amount")
    val p = Project(
      sources = Seq(
        SourceDef("obs", "obs",
          Seq(RawAttr("o_id", LongType), RawAttr("amount", DoubleType))),
        SourceDef("buckets", "buckets",
          Seq(RawAttr("b_id", LongType), RawAttr("lo", DoubleType),
            RawAttr("hi", DoubleType)),
          rules = Seq(
            RuleDef("n_obs", "count([obs].o_id)"),
            RuleDef("sum_amount", "sum([obs].amount)")))),
      relations = Seq(RelationDef("[buckets]- range -[obs]",
        "[This].lo <= [Related].amount AND [Related].amount < [This].hi",
        Cardinality.OneMany)))
    val hub = run(p, Map("obs" -> obs, "buckets" -> buckets)).hub("buckets")
    val m = hub.collect().map(r =>
      r.getAs[Long]("b_id") -> (r.getAs[Long]("n_obs"), r.getAs[Double]("sum_amount"))).toMap
    assert(m(1L) == ((2L, 125.0))) // 50 + 75
    assert(m(2L) == ((1L, 150.0)))
  }

  test("theta fallback plan is fully deterministic (safe under recomputation)") {
    import spark.implicits._
    val buckets = Seq((1L, 0.0, 100.0)).toDF("b_id", "lo", "hi")
    val obs = Seq((1L, 50.0)).toDF("o_id", "amount")
    val p = Project(
      sources = Seq(
        SourceDef("obs", "obs",
          Seq(RawAttr("o_id", LongType), RawAttr("amount", DoubleType))),
        SourceDef("buckets", "buckets",
          Seq(RawAttr("b_id", LongType), RawAttr("lo", DoubleType),
            RawAttr("hi", DoubleType)),
          rules = Seq(RuleDef("n_obs", "count([obs].o_id)")))),
      relations = Seq(RelationDef("[buckets]- range -[obs]",
        "[This].lo <= [Related].amount AND [Related].amount < [This].hi",
        Cardinality.OneMany)))
    val hub = run(p, Map("obs" -> obs, "buckets" -> buckets)).hub("buckets")
    // the row tag feeds both sides of a self-rejoin: any nondeterministic
    // expression (e.g. monotonically_increasing_id) could assign different
    // ids per branch under task retry / AQE replan → silently wrong results
    val nondet = hub.queryExecution.analyzed.collect {
      case plan => plan.expressions.flatMap(_.collect { case e if !e.deterministic => e })
    }.flatten
    assert(nondet.isEmpty, s"nondeterministic expressions in theta plan: $nondet")
  }

  test("theta M-aggregate over zero matches keeps lateral semantics") {
    import spark.implicits._
    // bucket 3 matches nothing: the reference lateral aggregates over ZERO
    // rows (count → 0 even for null-proof expressions like coalesce(x, 0);
    // sum → NULL), not over one null-extended row
    val buckets = Seq((1L, 0.0, 100.0), (3L, 1000.0, 2000.0)).toDF("b_id", "lo", "hi")
    val obs = Seq((1L, 50.0), (3L, 75.0)).toDF("o_id", "amount")
    val p = Project(
      sources = Seq(
        SourceDef("obs", "obs",
          Seq(RawAttr("o_id", LongType), RawAttr("amount", DoubleType))),
        SourceDef("buckets", "buckets",
          Seq(RawAttr("b_id", LongType), RawAttr("lo", DoubleType),
            RawAttr("hi", DoubleType)),
          rules = Seq(
            RuleDef("n_nullproof", "count(coalesce([obs].o_id, 0))"),
            RuleDef("sum_amount", "sum([obs].amount)")))),
      relations = Seq(RelationDef("[buckets]- range -[obs]",
        "[This].lo <= [Related].amount AND [Related].amount < [This].hi",
        Cardinality.OneMany)))
    val hub = run(p, Map("obs" -> obs, "buckets" -> buckets)).hub("buckets")
    val m = hub.collect().map(r =>
      r.getAs[Long]("b_id") -> (r.getAs[Long]("n_nullproof"), r.get(r.fieldIndex("sum_amount")))).toMap
    assert(m(1L) == ((2L, 125.0)))
    assert(m(3L) == ((0L, null)), "zero-match row must count 0 and sum NULL")
  }

  test("lazy-mode output plans only the joins its mappings reach") {
    // feature_customer maps c_name + order_ym + sum(net_price_cents): only
    // the lineitem→orders→customer chain is needed. The full lineitem hub
    // has 7 lookup joins (part, supplier, nation, region, …) that Catalyst
    // cannot eliminate — the compiler must not plan them (VERDICT r1 #3).
    val cp = new Compiler(graft.SampleProject.project).compile()
    val runner = new Runner(cp, Runners.parquetDir("/root/testdata/sf0.001"))
    val df = runner.output("feature_customer")
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 2, s"expected 2 joins (orders, customer), got ${joins.size}")
  }

  test("hubSelect prunes unused aggregate paths and lookups") {
    val cp = new Compiler(graft.SampleProject.project).compile()
    val runner = new Runner(cp, Runners.parquetDir("/root/testdata/sf0.001"))
    // full customer hub: orders-aggregate join (shared path), nation lookup;
    // selecting only c_custkey + nation_name must drop the aggregate join
    val df = runner.hubSelect("tpch_customer", "c_custkey", "nation_name")
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"expected 1 join (nation), got ${joins.size}")
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty, "no aggregate should survive pruning")
  }

  test("struct field access in rules ([This].attr.key)") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("store", StructType(Seq(
        StructField("color", StringType),
        StructField("size", IntegerType))))))
    val data = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row("red", 5)),
        org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row("blue", 7))),
      schema)
    val p = Project(sources = Seq(SourceDef("s", "s",
      Seq(RawAttr("id", LongType), RawAttr("store", schema("store").dataType)),
      rules = Seq(RuleDef("color", "[This].store.color"),
        RuleDef("size2", "[This].store.size * 2")))))
    val hub = run(p, Map("s" -> data)).hub("s")
    val m = hub.collect().map(r => r.getAs[Long]("id") -> (r.getAs[String]("color"), r.getAs[Int]("size2"))).toMap
    assert(m(1L) == (("red", 10)) && m(2L) == (("blue", 14)))
  }

  test("decimal rules normalize to decimal(38,12)") {
    import spark.implicits._
    val t = Seq((1L, BigDecimal("12.34"))).toDF("id", "amt")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("amt").cast(DecimalType(10, 2)).as("amt"))
    val p = Project(sources = Seq(SourceDef("s", "s",
      Seq(RawAttr("id", LongType), RawAttr("amt", CoreTypes.parseTypeName("decimal"))),
      rules = Seq(RuleDef("amt2", "[This].amt * 2")))))
    val hub = run(p, Map("s" -> t)).hub("s")
    assert(hub.schema("amt").dataType == DecimalType(38, 12))
    assert(hub.schema("amt2").dataType == DecimalType(38, 12))
    assert(hub.collect()(0).getAs[java.math.BigDecimal]("amt2").compareTo(
      new java.math.BigDecimal("24.68")) == 0)
  }

  test("partitioned hub materialization writes partition directories") {
    import spark.implicits._
    val t = Seq((1L, "a", 2024), (2L, "b", 2024), (3L, "c", 2025))
      .toDF("id", "v", "yr")
    val p = Project(sources = Seq(SourceDef("s", "s",
      Seq(RawAttr("id", LongType), RawAttr("v", StringType), RawAttr("yr", IntegerType)),
      hubPartitionBy = Seq("yr"))))
    val cp = new Compiler(p).compile()
    val tmp = java.nio.file.Files.createTempDirectory("graftpart").toString
    val hub = new Runner(cp, _ => t, materializeDir = Some(tmp)).hub("s")
    val dirs = new java.io.File(s"$tmp/enriched_s").listFiles().map(_.getName).filter(_.startsWith("yr="))
    assert(dirs.toSet == Set("yr=2024", "yr=2025"))
    assert(hub.count() == 3)
    // partition pruning reaches the scan on the re-read hub
    val pruned = hub.filter(org.apache.spark.sql.functions.col("yr") === 2025)
    assert(pruned.count() == 1)
  }

  test("non-boolean relation expression surfaces as a relation-named error") {
    import spark.implicits._
    val a = Seq((1L, 2L)).toDF("id", "bid")
    val b = Seq((2L, "x")).toDF("id", "v")
    val p = Project(
      sources = Seq(
        SourceDef("a", "a", Seq(RawAttr.parse("id long"), RawAttr.parse("bid long")),
          rules = Seq(RuleDef("bv", "[b].v"))),
        SourceDef("b", "b", Seq(RawAttr.parse("id long"), RawAttr.parse("v string")))),
      relations = Seq(RelationDef("[a]- r -[b]",
        "[This].bid + [Related].id", Cardinality.ManyOne))) // arithmetic, not boolean
    val e = intercept[CompileError](
      run(p, Map("a" -> a, "b" -> b)).hub("a"))
    assert(e.message.contains("Relation '[a]- r -[b]'"))
  }

  test("pruned lazy outputs equal materialized full-hub outputs") {
    // the Pruner must be semantics-preserving: for every sample output the
    // lazy (pruned) plan and the materialized (full hub, reference S3)
    // plan produce identical rows
    val cp = new Compiler(graft.SampleProject.project).compile()
    val lazyRunner = new Runner(cp, Runners.parquetDir("/root/testdata/sf0.001"))
    val tmp = java.nio.file.Files.createTempDirectory("graftmatout").toString
    val matRunner = new Runner(cp, Runners.parquetDir("/root/testdata/sf0.001"),
      materializeDir = Some(tmp))
    cp.outputs.foreach { co =>
      val a = lazyRunner.output(co.output.name)
      val b = matRunner.output(co.output.name)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"output ${co.output.name}: pruned plan diverges from materialized plan")
    }
  }

  test("co-bucketed table hubs join with zero shuffle") {
    import spark.implicits._
    val fact = (1L to 200L).map(i => (i, i % 50, s"f$i")).toDF("f_id", "key", "fv")
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("key", "dv")
    val p = Project(
      sources = Seq(
        SourceDef("dimb", "dim",
          Seq(RawAttr("key", LongType), RawAttr("dv", StringType)),
          hubBucketBy = Seq("key"), hubBuckets = 4),
        SourceDef("factb", "fact",
          Seq(RawAttr("f_id", LongType), RawAttr("key", LongType), RawAttr("fv", StringType)),
          rules = Seq(RuleDef("dim_v", "[dimb].dv")),
          hubBucketBy = Seq("key"), hubBuckets = 4)),
      relations = Seq(RelationDef("[factb]- k -[dimb]",
        "[This].key = [Related].key", Cardinality.ManyOne)))
    val cp = new Compiler(p).compile()
    val runner = new Runner(cp, s => Map("dim" -> dim, "fact" -> fact)(s.sourceTable),
      materializeTables = true)
    // force the join strategy that can exploit bucketing (tiny test data
    // would otherwise broadcast, which hides the property under test)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hub = runner.hub("factb")
      assert(hub.count() == 200)
      assert(hub.filter(org.apache.spark.sql.functions.col("dim_v").isNull).count() == 0)
      // both sides arrive hash-partitioned by the bucket key: the join has
      // no shuffle at all (the 100 TB repeated-join payoff of bucketing)
      val exchanges = hub.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"expected zero shuffles for co-bucketed join, got ${exchanges.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("table output saves to the session catalog (saveAsTable contract)") {
    import spark.implicits._
    val t = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val p = Project(
      sources = Seq(SourceDef("s", "s",
        Seq(RawAttr("id", LongType), RawAttr("v", StringType)))),
      outputs = Seq(OutputDef("cat_out",
        Seq(OutputCol("id", LongType), OutputCol("v", StringType)),
        Seq(Channel("s", Seq(Mapping.parse("id id"), Mapping.parse("v v")))),
        outputType = OutputType.Table)))
    val tmp = java.nio.file.Files.createTempDirectory("graftcat").toString
    run(p, Map("s" -> t)).run(tmp)
    assert(spark.table("cat_out").count() == 2)
    assert(spark.catalog.tableExists("cat_out"))
    // overwrite semantics: re-run replaces, never appends (DROP/CREATE parity)
    run(p, Map("s" -> t)).run(tmp)
    assert(spark.table("cat_out").count() == 2)
  }

  test("file outputs write parquet and text; avro needs the external module") {
    import spark.implicits._
    val t = Seq((1L, "x")).toDF("id", "v")
    def proj(ot: OutputType, cols: Seq[OutputCol], maps: Seq[String]) = Project(
      sources = Seq(SourceDef("s", "s",
        Seq(RawAttr("id", LongType), RawAttr("v", StringType)))),
      outputs = Seq(OutputDef("fout", cols,
        Seq(Channel("s", maps.map(Mapping.parse))), outputType = ot)))
    val two = Seq(OutputCol("id", LongType), OutputCol("v", StringType))
    val tmp = java.nio.file.Files.createTempDirectory("graftfile").toString
    run(proj(OutputType.File("parquet"), two, Seq("id id", "v v")), Map("s" -> t)).run(tmp)
    assert(spark.read.parquet(s"$tmp/fout").count() == 1)
    run(proj(OutputType.File("text"), Seq(OutputCol("v", StringType)), Seq("v v")),
      Map("s" -> t)).run(tmp)
    assert(spark.read.text(s"$tmp/fout").collect().map(_.getString(0)).toSeq == Seq("x"))
    // no spark-avro in this container: clean engine error, not a raw one
    val e = intercept[CompileError](
      run(proj(OutputType.File("avro"), two, Seq("id id", "v v")), Map("s" -> t)).run(tmp))
    assert(e.message.contains("spark-avro"))
  }

  test("output-type validations match the reference") {
    val two = Seq(OutputCol("a", LongType), OutputCol("b", StringType))
    def proj(ot: OutputType, cols: Seq[OutputCol]) = Project(
      sources = Seq(SourceDef("s", "s", Seq(RawAttr("a", LongType), RawAttr("b", StringType)))),
      outputs = Seq(OutputDef("o", cols,
        Seq(Channel("s", cols.map(c => Mapping("a", c.name)))), outputType = ot)))
    // text: single column only (u_validate_output.sql:38-40)
    val e1 = intercept[CompileError](proj(OutputType.File("text"), two).validate())
    assert(e1.message.contains("Text outputs can only have a single output column"))
    // parquet/avro column-name charset (u_validate_output.sql:42-53)
    val e2 = intercept[CompileError](
      proj(OutputType.File("parquet"), Seq(OutputCol("bad col!", StringType))).validate())
    assert(e2.message.contains("cannot have spaces or special symbols"))
    val e3 = intercept[CompileError](
      proj(OutputType.Table, Seq(OutputCol("1bad", StringType))).validate())
    assert(e3.message.contains("must start with a letter"))
    val e4 = intercept[CompileError](OutputType.parse(Some("file"), Some("orc")))
    assert(e4.message.contains("Invalid output_sub_type"))
  }

  test("virtual output registers a temp view") {
    import spark.implicits._
    val t = Seq((1L, "a")).toDF("id", "v")
    val p = Project(
      sources = Seq(SourceDef("s", "s",
        Seq(RawAttr("id", LongType), RawAttr("v", StringType)))),
      outputs = Seq(OutputDef("vout",
        Seq(OutputCol("id", LongType), OutputCol("v", StringType)),
        Seq(Channel("s", Seq(Mapping.parse("id id"), Mapping.parse("v v")))),
        outputType = OutputType.Virtual)))
    val tmp = java.nio.file.Files.createTempDirectory("graftvout").toString
    run(p, Map("s" -> t)).run(tmp)
    assert(spark.table("vout").count() == 1)
  }

  // --- the hub store: one (source, rule-set) store, one lock per target

  private val sfDir = "/root/testdata/sf0.001"
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("materialized hub then outputs: no output rewrites the shared hub") {
    // a pruned output used to overwrite enriched_tpch_lineitem with fewer
    // columns, deleting the files the earlier hub frame reads
    val cp = new Compiler(graft.SampleProject.project).compile()
    val tmp = java.nio.file.Files.createTempDirectory("graftstore").toString
    val mat = new Runner(cp, Runners.parquetDir(sfDir), materializeDir = Some(tmp))
    val lazyRunner = new Runner(cp, Runners.parquetDir(sfDir))
    val hub = mat.hub("tpch_lineitem")
    val featureCustomer = mat.output("feature_customer")
    val orderStats = mat.output("order_stats")
    val lazyHub = lazyRunner.hub("tpch_lineitem")
    assert(hub.columns.toSeq == lazyHub.columns.toSeq)
    assert(rows(hub) == rows(lazyHub))
    assert(rows(featureCustomer) == rows(lazyRunner.output("feature_customer")))
    assert(rows(orderStats) == rows(lazyRunner.output("order_stats")))
  }

  test("concurrent hub and output write each target at most once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cp = new Compiler(graft.SampleProject.project).compile()
    val tmp = java.nio.file.Files.createTempDirectory("graftrace").toString
    val mat = new Runner(cp, Runners.parquetDir(sfDir), materializeDir = Some(tmp))
    // description -> SQL executions (one per write; its AQE, broadcast and
    // read-back jobs share the description but not a second execution)
    val writes = new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
    val marker = "hub-store-spec: done"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        if (desc == marker) seen.countDown()
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .filter(_ => desc.startsWith("hub materialize: "))
          .foreach(writes.computeIfAbsent(desc,
            _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]()).add(_))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Runner.inParallel(Seq[() => DataFrame](
        () => mat.hub("tpch_lineitem"), () => mat.output("feature_customer")))(f => f())
      // listener events arrive in order: once the marker job is seen,
      // every hub write before it has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val perTarget = writes.asScala.map { case (d, ids) => d -> ids.size }.toMap
    assert(perTarget.contains("hub materialize: tpch_lineitem"), perTarget)
    assert(perTarget.values.forall(_ == 1), s"a target was written twice: $perTarget")
    // each description names its written target, <hubName>[_<digest>]
    perTarget.keys.foreach { d =>
      val target = new java.io.File(tmp, "enriched_" + d.stripPrefix("hub materialize: "))
      assert(target.isDirectory, s"$d names no target")
    }
  }

  test("materialized run writes only the full hub targets") {
    val cp = new Compiler(graft.SampleProject.project).compile()
    val tmp = java.nio.file.Files.createTempDirectory("graftrunhubs").toString
    val out = java.nio.file.Files.createTempDirectory("graftrunout").toString
    new Runner(cp, Runners.parquetDir(sfDir), materializeDir = Some(tmp)).run(out)
    assert(new java.io.File(tmp).list().toSet == cp.sources.map(_.source.hubName).toSet)
  }

  test("levels groups names and their dependencies by depth") {
    val deps = Map("a" -> Seq("b", "c"), "b" -> Seq("d"), "c" -> Seq("d"), "d" -> Nil,
      "e" -> Nil)
    val lv = Runner.levels(Seq("a", "e"), deps)
    assert(lv.map(_.toSet) == Seq(Set("d", "e"), Set("b", "c"), Set("a")))
  }
}
