package graft.exec

import graft.analyze._
import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Builds an output table's DataFrame from its channels
  * (reference: u_output_generate_query.sql:53-155).
  *
  * Per channel: filter → optional groupBy-aggregate (GROUP BY every
  * non-aggregate mapping — reference A2) → project the declared output
  * columns in order with casts, NULL-filling unmapped columns
  * (u_output_query_column_select.sql:13-21) → UNION ALL by position
  * (u_output_generate_query.sql:88,148).
  */
final class OutputPlanner(cp: CompiledProject, hubs: String => DataFrame) {

  import SourcePlanner.q

  def plan(co: CompiledOutput): DataFrame =
    co.channels.map(channel(co, _)).reduce(_ union _)

  private def channel(co: CompiledOutput, ch: CompiledChannel): DataFrame = {
    var df = hubs(ch.channel.sourceName)
    ch.filter.foreach { f =>
      val sql = f.expr.render(i => q(f.params(i).ref.attribute) +
        f.params(i).ref.keys.map(k => "." + q(k)).mkString)
      val cond = expr(sql)
      // boolean gate, reference parity (impc_update_test_results.sql:66-77)
      val dt = df.select(cond).schema.head.dataType
      if (dt != org.apache.spark.sql.types.BooleanType)
        throw CompileError(
          s"Output '${co.output.name}': filter must be a boolean expression " +
            s"(got ${dt.simpleString}): ${f.expr.raw}")
      df = df.filter(cond)
    }
    val byTarget: Map[String, CompiledMapping] =
      ch.mappings.map(m => m.mapping.targetColumn -> m).toMap

    def innerSql(m: CompiledMapping): String =
      q(m.attribute) + m.keys.map(k => "." + q(k)).mkString

    if (ch.channel.operationType == OperationType.Aggregate) {
      val (aggMaps, dimMaps) = ch.mappings.partition(_.mapping.aggregate.isDefined)
      if (aggMaps.isEmpty)
        throw CompileError(
          s"Output '${co.output.name}': Aggregate channel has no aggregate mappings")
      val dims = dimMaps.map(m => expr(innerSql(m)).as(m.mapping.targetColumn))
      val aggs = aggMaps.map { m =>
        expr(graft.parse.ParsedExpr.renderAggCall(
          m.mapping.aggregate.get, m.mapping.distinct, innerSql(m)))
          .as(m.mapping.targetColumn)
      }
      df = df.groupBy(dims: _*).agg(aggs.head, aggs.tail: _*)
      // after aggregation, every mapped target column exists under its name
      df.select(co.output.columns.map { c =>
        if (byTarget.contains(c.name)) df.col(q(c.name)).cast(c.dataType).as(c.name)
        else lit(null).cast(c.dataType).as(c.name)
      }: _*)
    } else {
      df.select(co.output.columns.map { c =>
        byTarget.get(c.name) match {
          case Some(m) => expr(innerSql(m)).cast(c.dataType).as(c.name)
          case None    => lit(null).cast(c.dataType).as(c.name)
        }
      }: _*)
    }
  }
}

/** Compiles and runs a whole project: sources in topological order, then
  * outputs (reference: svc_generate_queries.sql:85-127 run.sql ordering,
  * databricks_sql.py sequential execution).
  *
  * `materializeDir = Some(dir)` writes every hub as parquet and re-reads it
  * — the reference's DROP/CREATE hub behavior (S3), and the spill-safe /
  * restartable mode for very large pipelines (file-backed stats also feed
  * Catalyst's broadcast decisions). `None` keeps hubs as lazy plans in one
  * DAG — Catalyst sees through the whole pipeline (column pruning reaches
  * the scans across source boundaries), the right default for tests and
  * moderate scale.
  *
  * Hub store: `hub`, `buildAllHubs`, `hubSelect`, `output` and `run` all
  * take their hubs from [[hubProvider]], i.e. from one store keyed by
  * (source, rule-name set). Each request carries only the rules its
  * consumer transitively reaches ([[graft.analyze.Pruner]]), except
  * `hub`/`buildAllHubs`, which ask for every rule.
  *  - Targets: the full rule set materializes at the source's own target
  *    (`$dir/<hubName>`, or table `<hubName>`); a strict subset at the
  *    sibling `<hubName>_<digest of the sorted rule names>`, never on the
  *    shared target (writing only the reached rules keeps the fact hub's
  *    unused lookup/aggregate columns off the write: q_feature_customer_mat
  *    9.6 → 4.5 s in r17). `materializeTables` widens every request to the full
  *    rule set (bucketed hub tables, the reference contract).
  *  - Reuse, materialized: any hub already written for the source whose
  *    rule set covers the request serves it (the parquet read prunes the
  *    extra columns), so a covered request writes nothing — after
  *    `buildAllHubs` every request is covered.
  *  - Reuse, lazy: exact rule-set matches only; a wider plan would bring
  *    back the lookup joins the pruning removes.
  *  - Every build holds its target's lock, so concurrent callers never
  *    write one target twice.
  */
final class Runner(
    cp: CompiledProject,
    reader: SourceDef => DataFrame,
    materializeDir: Option[String] = None,
    /** Materialize hubs as catalog tables (overwrite saveAsTable) instead
      * of parquet paths — the reference's exact DROP/CREATE hub contract
      * (S3), and the only mode where `SourceDef.hubBucketBy` applies:
      * bucketed hub tables make downstream joins on the bucket key arrive
      * pre-hash-partitioned (zero-shuffle sort-merge joins between
      * co-bucketed hubs).
      */
    materializeTables: Boolean = false) {

  private val materialized = materializeDir.isDefined || materializeTables
  private val allRules: Map[String, Set[String]] =
    cp.sources.map(cs => cs.source.name -> cs.rules.map(_.name).toSet).toMap
  private val store =
    new java.util.concurrent.ConcurrentHashMap[(String, Set[String]), DataFrame]()
  // One lock per write target. A build holds its target's lock while its
  // dependencies take theirs, i.e. always in DAG order (the compiler
  // rejects cycles), so no deadlock is possible.
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Hub frames carrying, per source, the rules in `needed` (none if the
    * source is absent) — lookup joins and aggregate shuffles feeding other
    * rules are never planned (see graft.analyze.Pruner for why Catalyst
    * cannot do this). The one way into the store; public for callers that
    * know their rule set (RelationAudit: the audit joins read relation KEY
    * columns, not the full enriched hub — planning every lookup/aggregate
    * rule just to count key matches re-built the whole fact-hub join tree
    * once per audited relation).
    */
  def hubProvider(needed: Map[String, Set[String]]): String => DataFrame = {
    lazy val get: String => DataFrame = name => {
      val all = allRules(name)
      val rules = if (materializeTables) all else needed.getOrElse(name, Set.empty) & all
      def stored = Option(store.get(name -> rules)).orElse(
        if (!materialized) None
        else store.asScala.collectFirst { case ((`name`, r), df) if rules.subsetOf(r) => df })
      stored.getOrElse {
        val cs = cp.compiledSource(name)
        val suffix = if (rules == all) "" else "_" + Runner.digest(rules)
        locks.computeIfAbsent(cs.source.hubName + suffix, _ => new Object).synchronized {
          stored.getOrElse {
            val pruned = cs.copy(rules = cs.rules.filter(r => rules(r.name)))
            val built =
              materialize(pruned, suffix, new SourcePlanner(cp, pruned, reader, get).plan())
            store.put(name -> rules, built)
            built
          }
        }
      }
    }
    get
  }

  /** The DROP/CREATE materialization itself (write + read-back) at target
    * `<hubName><suffix>`. Its jobs are labeled `hub materialize:
    * <source><suffix>` (guide §1.5), one label per target; a full hub's is
    * `hub materialize: <source>`, which perfbench's per-hub write times
    * match. Descriptions are thread-local, so the level-parallel prebuild
    * labels each concurrent write correctly.
    */
  private def materialize(
      cs: CompiledSource, suffix: String, planned: DataFrame): DataFrame = {
    var built = planned
    val sc = built.sparkSession.sparkContext
    // A write-parallelism floor (repartition(cores) before the write when
    // the source scan is single-split) was MEASURED and REJECTED here
    // (r17): parallelizing the parquet encode was outweighed by the added
    // exchange per hub write plus 32 tiny files per hub whose read-back
    // taxes every downstream consumer — q_feature_customer_mat 5.2→8.3 s.
    sc.setJobDescription(s"hub materialize: ${cs.source.name}$suffix")
    try {
      if (materializeTables) {
        val s = cs.source
        Runner.overwriteTable(built, s.hubName) { w0 =>
          var w = w0
          if (s.hubPartitionBy.nonEmpty) w = w.partitionBy(s.hubPartitionBy: _*)
          if (s.hubBucketBy.nonEmpty) {
            val n = if (s.hubBuckets > 0) s.hubBuckets else 32
            w = w.bucketBy(n, s.hubBucketBy.head, s.hubBucketBy.tail: _*)
              .sortBy(s.hubBucketBy.head, s.hubBucketBy.tail: _*)
          }
          w
        }
        built = built.sparkSession.table(s.hubName)
      } else materializeDir.foreach { dir =>
        val path = s"$dir/${cs.source.hubName}$suffix"
        val writer = built.write.mode("overwrite")
        val partitioned =
          if (cs.source.hubPartitionBy.nonEmpty)
            writer.partitionBy(cs.source.hubPartitionBy: _*)
          else writer
        partitioned.parquet(path)
        built = built.sparkSession.read.parquet(path)
      }
    } finally sc.setJobDescription(null)
    built
  }

  /** Materialize-mode job overlap: hub writes are blocking Spark actions,
    * and a straggling write tail leaves the cluster idle while the next
    * independent hub waits (guide §2.6). Fetch the requested hubs'
    * transitive closure from `get` level by level, each level from a small
    * thread pool — Spark schedules concurrent jobs FIFO, so the next hub's
    * tasks back-fill executors freed by the current hub's tail. Results are
    * identical: levels run in topological order, so every dependency is
    * stored before any dependent plans, and the per-target locks make a
    * fetch of an already-stored hub a cheap no-op. Lazy mode skips this —
    * hub "builds" there are driver-side plan construction with nothing to
    * overlap.
    */
  private def prebuildHubs(names: Seq[String], get: String => DataFrame): Unit =
    if (materialized)
      Runner.levels(names, cp.compiledSource(_).dependsOn)
        .foreach(Runner.inParallel(_) { n => get(n); () })

  def hub(name: String): DataFrame = hubProvider(allRules)(name)

  def buildAllHubs(): Map[String, DataFrame] = {
    val names = cp.sources.map(_.source.name)
    val get = hubProvider(allRules)
    prebuildHubs(names, get)
    names.map(n => n -> get(n)).toMap
  }

  /** Project `cols` out of a source's hub, planning only the rules the
    * selection transitively needs — the API callers should use when they
    * want a column subset of an enriched source.
    */
  def hubSelect(name: String, cols: String*): DataFrame =
    hubProvider(Pruner.closure(cp, Map(name -> cols.toSet)))(name)
      .select(cols.map(c => col(SourcePlanner.q(c))): _*)

  /** An output's frame, its sources planned with only the rules its
    * mappings and filters transitively reach (VERDICT r1 scale defect #3).
    */
  def output(name: String): DataFrame = {
    val co = cp.outputs.find(_.output.name == name)
      .getOrElse(throw CompileError(s"Unknown output '$name'"))
    val get = hubProvider(Pruner.neededForOutput(cp, co))
    prebuildHubs(co.channels.map(_.channel.sourceName).distinct, get)
    new OutputPlanner(cp, get).plan(co)
  }

  /** Execute the full pipeline: all hubs, then write all outputs, each
    * planned by [[output]] (materialized: served by the full hubs, so every
    * hub is written exactly once and no subset target at all).
    *
    * Sink per output type (reference: u_validate_output.sql:20-60 +
    * u_output_generate_query.sql:43-48 DROP/CREATE):
    *  - `table`   → overwrite `saveAsTable` against the session catalog
    *                (the reference's CTAS contract; works on the in-memory
    *                catalog too — point `spark.sql.warehouse.dir` where the
    *                data should live)
    *  - `file`    → parquet / avro / text under `outDir` (text requires the
    *                single column to be string-castable; avro requires the
    *                spark-avro module on the classpath)
    *  - `virtual` → temp view
    */
  def run(outDir: String): Unit = {
    buildAllHubs()
    cp.outputs.foreach { co =>
      val df = output(co.output.name)
      val target = co.output.target
      co.output.outputType match {
        case OutputType.Virtual => df.createOrReplaceTempView(target)
        case OutputType.Table =>
          Runner.overwriteTable(df, target)(identity)
        case OutputType.File("text") =>
          df.select(df.columns.map(c =>
            df.col(SourcePlanner.q(c)).cast("string")): _*)
            .write.mode("overwrite").text(s"$outDir/$target")
        case OutputType.File("avro") =>
          try df.write.mode("overwrite").format("avro").save(s"$outDir/$target")
          catch {
            case e: Exception if Option(e.getMessage).exists(_.contains("avro")) =>
              throw CompileError(
                s"Output '${co.output.name}': avro output requires the " +
                  "spark-avro module on the classpath (external since Spark 2.4)")
          }
        case _ =>
          df.write.mode("overwrite").parquet(s"$outDir/$target")
      }
    }
  }
}

object Runner {
  import org.apache.spark.sql.{DataFrameWriter, Row}

  /** Stable digest of a rule-name set (of its sorted names), naming the
    * materialized target of a strict-subset hub.
    */
  private def digest(rules: Set[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rules.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** `names` and everything they transitively depend on, grouped by
    * dependency depth (level 0 depends on nothing); `deps` must be acyclic.
    */
  def levels(names: Seq[String], deps: String => Iterable[String]): Seq[Seq[String]] = {
    val depth = mutable.LinkedHashMap.empty[String, Int]
    def visit(n: String): Int = depth.getOrElse(n, {
      val d = deps(n).foldLeft(0)((d, m) => d max (visit(m) + 1))
      depth(n) = d
      d
    })
    names.foreach(visit)
    depth.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
  }

  /** `f` over every item, from a pool of at most 4 threads (inline for a
    * single item); returns once all are done; a failure surfaces as the
    * `ExecutionException` of the first failed item.
    */
  def inParallel[A](items: Seq[A])(f: A => Unit): Unit =
    if (items.size <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(items.size, 4))
      try items.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f(a)
      })).foreach(_.get())
      finally pool.shutdown()
    }

  /** Idempotent CTAS (the reference's DROP TABLE IF EXISTS + CREATE TABLE
    * AS): drops any registered table first, and also removes an ORPHANED
    * managed location — with the default in-memory catalog, a crashed
    * previous session leaves the directory behind with no catalog entry,
    * and a bare saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    */
  def overwriteTable(df: DataFrame, name: String)(
      configure: DataFrameWriter[Row] => DataFrameWriter[Row]): Unit = {
    dropTableAndOrphanLocation(df.sparkSession, name)
    configure(df.write.mode("overwrite").format("parquet")).saveAsTable(name)
  }

  /** DROP TABLE IF EXISTS + removal of the default managed LOCATION even
    * when no catalog entry exists — with the default in-memory catalog a
    * table created by a PREVIOUS session (or JVM) is not registered in this
    * one, so the DROP alone is a no-op and the warehouse directory would be
    * orphaned (and a later saveAsTable would fail with
    * LOCATION_ALREADY_EXISTS). Shared by the CTAS path above and
    * [[ImportReconciler]]'s cascade delete.
    */
  def dropTableAndOrphanLocation(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
    spark.sql(s"DROP TABLE IF EXISTS ${id.quotedString}")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(id))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}

object Runners {
  /** Reader for a directory of `<table>.parquet` files (the test fixtures).
    * Nanosecond-precision parquet timestamps (events.parquet) are readable
    * only as LONG via the legacy conf; declared timestamp attrs still cast
    * correctly because the fixture's TIMESTAMP(NANOS) column is simply not
    * declared by any source that uses this reader.
    */
  def parquetDir(dir: String): SourceDef => DataFrame = s => {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/${s.sourceTable}.parquet")
  }
}
