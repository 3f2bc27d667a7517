package graft.engine

import graft.SparkTestBase
import graft.datagen.DocGen
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class ValidatorAppSpec extends SparkTestBase {

  test("config round-trip: dvt.ini-equivalent properties file → SchemaDef + pipeline") {
    val tmp = Files.createTempDirectory("graft-app").toString
    DocGen.documents(spark, 2000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")

    val conf =
      s"""# graft run config (dvt.ini analogue)
         |data.documents = $tmp/docs
         |data.snapshotId = snap-t1
         |checks = kinds-defined, uri-existence, datatype, cardinality
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |schema.kind.txt:count = datatype||http://www.w3.org/2001/XMLSchema#unsignedInt
         |schema.kind.med:link = object||class:Root
         |schema.class = class:Article, class:Root
         |schema.subclass = class:Article<class:Root
         |schema.restriction = class:Article|txt:title|min|1|http://www.w3.org/2001/XMLSchema#string|
         |output.json = $tmp/report.json
         |manifest = $tmp/manifest.jsonl
         |buckets = 8
         |fix.out = $tmp/fixed
         |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"), conf)

    val cfg = ValidatorConfig.load(s"$tmp/run.properties")
    assert(cfg.checkKeys == Seq("kinds-defined", "uri-existence", "datatype", "cardinality"))
    assert(cfg.schema.kinds.size == 3)
    assert(cfg.schema.subClassOf == Seq(("class:Article", "class:Root")))
    assert(cfg.schema.restrictions.head.rtype == "min")

    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val v = spark.read.parquet(s"$tmp/out/violations")
    val firstRunViolations = v.count()
    assert(firstRunViolations > 0) // plants fire even under the reduced schema
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/report.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$tmp/manifest.jsonl")))

    // --fix: repaired snapshot written, deleted-triples log in the report
    assert(spark.read.parquet(s"$tmp/fixed").count() == 2000L)
    val report = Files.readString(java.nio.file.Paths.get(s"$tmp/report.json"))
    assert(report.contains("\"fixes\"") && report.contains("\"predicate\": \"med:link\""))

    // resume: second run over the same snapshot+schema+check-set skips all
    val before = new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, cfg.checksHash)
    assert(before.nonEmpty)
    val remaining = Pipeline.resumable(spark,
      spark.read.parquet(s"$tmp/docs"), new Manifest(s"$tmp/manifest.jsonl"),
      "snap-t1", cfg.schema, 8, cfg.checksHash)
    assert(remaining.count() == 0)

    // a DIFFERENT enabled-check set must NOT resume as complete (round-3
    // advice, medium): broader list and changed per-check params both miss
    val broader = ValidatorConfig.checksHash(cfg.checkKeys :+ "domain")
    assert(new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, broader).isEmpty)
    val strictParams = ValidatorConfig.checksHash(
      cfg.checkKeys.map { case "datatype" => "datatype?mode=strict"; case k => k })
    assert(new Manifest(s"$tmp/manifest.jsonl")
      .completedBuckets("snap-t1", cfg.schema.constraintHash, strictParams).isEmpty)
    // ...while order/param-spelling variants of the SAME set hash identically
    assert(ValidatorConfig.checksHash(Seq("b?y=2&x=1", "a")) ==
      ValidatorConfig.checksHash(Seq("a", "b?x=1&y=2")))

    // resumed run writes run-scoped output: prior buckets' results survive
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val afterResume = spark.read.parquet(s"$tmp/out/violations").count()
    assert(afterResume == firstRunViolations,
      s"resume clobbered prior results: $afterResume != $firstRunViolations")
  }

  test("per-check ?k=v params: datatype?mode=strict flows config → registry → pipeline") {
    import org.apache.spark.sql.functions._
    val (base, params) = ValidatorConfig.parseCheckKey("datatype?mode=strict")
    assert(base == "datatype" && params == Map("mode" -> "strict"))
    assert(ValidatorConfig.CheckRegistry(base).configure(params)
      .asInstanceOf[graft.checks.CheckDatatypeImpl].strict)

    val tmp = Files.createTempDirectory("graft-params").toString
    DocGen.annotatedDocuments(spark, 1000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/run.properties"),
      s"""data.documents = $tmp/docs
         |data.snapshotId = snap-params
         |checks = datatype?mode=strict
         |""".stripMargin)
    // schema from the fixture (the properties file would need ~20 kind
    // lines; the param syntax under test lives in `checks`)
    val cfg = ValidatorConfig.load(s"$tmp/run.properties").copy(schema = DocGen.schema)
    assert(cfg.checkKeys == Seq("datatype?mode=strict"))
    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val ids = spark.read.parquet(s"$tmp/out/violations")
      .select("checkId").distinct().collect().map(_.getString(0)).toSet
    assert(ids.contains("DATATYPE-PROPERTIES-DATATYPE-100"),
      s"strict-mode -100 rows expected, got $ids") // m=31/m=19 annotation plants
  }

  test("PARTIAL resume: full-corpus fix, no dataset-row duplication, exact union-of-runs") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-resume").toString
    DocGen.documents(spark, 3000L).toDF()
      .write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-partial",
      checkKeys = Seq("kinds-defined", "classes-defined", "uri-existence",
        "object-range", "domain", "datatype", "cardinality", "some", "only"),
      schema = DocGen.schema, xmlOut = None, jsonOut = None,
      manifestPath = Some(s"$tmp/manifest.jsonl"), nBuckets = 8,
      fixOut = Some(s"$tmp/fixed"))

    ValidatorApp.run(spark, cfg, s"$tmp/out")
    val datasetRows = ValidatorApp.readViolations(spark, s"$tmp/out")
      .filter(col("docId").isNull).count()

    // simulate a crash between the violations write and recordRun: only 4
    // of the 8 buckets made it into the manifest
    val mf = java.nio.file.Paths.get(s"$tmp/manifest.jsonl")
    val lines = Files.readAllLines(mf)
    Files.write(mf, new java.util.ArrayList(lines.subList(0, 4)))
    Thread.sleep(5) // distinct run= timestamp
    ValidatorApp.run(spark, cfg, s"$tmp/out")

    // fix is snapshot-level: the repaired snapshot must NEVER be truncated
    // to the resumed subset (round-2 advice, high)
    assert(spark.read.parquet(s"$tmp/fixed").count() == 3000L)

    // dataset-level rows come only from the first (full) run — the resumed
    // run must not union subset-derived duplicates (round-2 advice, medium)
    val union = ValidatorApp.readViolations(spark, s"$tmp/out")
    assert(union.filter(col("docId").isNull).count() == datasetRows)
    val dupMinus1 = ValidatorApp.readVerdicts(spark, s"$tmp/out")
      .filter(col("partitionId") === -1)
      .groupBy("checkId").count().filter(col("count") > 1).count()
    assert(dupMinus1 == 0)

    // union-of-runs ≡ a fresh full validation, row-for-row (null-safe keys:
    // several checks emit value = NULL)
    val fresh = Pipeline.violations(spark, spark.read.parquet(s"$tmp/docs"),
      cfg.schema).filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
    val got = union.filter(col("docId").isNotNull).na.fill("<null>", Seq("value"))
    val f = fresh.groupBy("check", "checkId", "docId", "kind", "value").count()
    val g = got.groupBy("check", "checkId", "docId", "kind", "value").count()
    val mismatch = f.join(g, Seq("check", "checkId", "docId", "kind", "value"), "full")
      .filter(!(f("count") <=> g("count"))).count()
    assert(mismatch == 0, s"union-of-runs differs from a fresh full run on $mismatch keys")
  }

  /** Rows read from the `spans` column while `body` runs, per corpus
    * directory name: every executed parquet scan whose required schema has
    * `spans`, each node once — AQE stages and cache build plans walked,
    * since a cache's build plan is shared by every query reading it.
    */
  private def spansRowsRead(body: => Unit): Map[String, Long] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.sql.graft.shims.waitForListeners(spark)
      spark.listenerManager.unregister(listener)
    }
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      p match {
        case f: FileSourceScanExec if f.requiredSchema.fieldNames.contains("spans") =>
          scans.add(f)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ => ()
      }
      (p.children ++ p.subqueries).foreach(walk)
    }
    plans.forEach(p => walk(p))
    scans.asScala.toSeq
      .groupMapReduce(_.relation.location.rootPaths.head.getName)(
        _.metrics("numOutputRows").value)(_ + _)
  }

  private val allCheckKeys = Seq("kinds-defined", "classes-defined", "uri-existence",
    "object-range", "domain", "datatype", "cardinality", "some", "only", "doc-id-unique")

  test("full run reads the corpus spans column once for violations and core") {
    val tmp = Files.createTempDirectory("graft-onescan").toString
    val n = 2000L
    DocGen.documents(spark, n).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
    val cfg = ValidatorConfig(
      documentsPath = s"$tmp/docs", snapshotId = "snap-onescan",
      checkKeys = allCheckKeys, schema = DocGen.schema, xmlOut = None,
      jsonOut = None, manifestPath = None, nBuckets = 8)
    val read = spansRowsRead(ValidatorApp.run(spark, cfg, s"$tmp/out"))
    assert(read == Map("docs" -> n), s"spans rows read per corpus: $read (corpus: $n)")
    // the core persisted beside the violations is the full run's row-local core
    val core = spark.read.parquet(new java.io.File(s"$tmp/out/core").listFiles()
      .filter(_.getName.startsWith("run=")).head.getAbsolutePath)
      .drop("constraintHash", "checksHash")
    val expected = Pipeline.rowLocalCore(spark, spark.read.parquet(s"$tmp/docs"),
      cfg.schema, cfg.configuredChecks)
    assert(core.exceptAll(expected).isEmpty && expected.exceptAll(core).isEmpty)
  }

  test("delta run: violations and the persisted core share one dirty-slice scan") {
    val tmp = Files.createTempDirectory("graft-deltascan").toString
    val prev = DocGen.documents(spark, 2000L).toDF()
    prev.write.mode("overwrite").parquet(s"$tmp/prev")
    // 100 added docs; the other 2000 unchanged
    prev.unionByName(DocGen.documentsRange(spark, 2000L, 2100L, 2100L).toDF())
      .write.mode("overwrite").parquet(s"$tmp/cur")
    def cfg(d: String) = ValidatorConfig(
      documentsPath = s"$tmp/$d", snapshotId = d, checkKeys = allCheckKeys,
      schema = DocGen.schema, xmlOut = None, jsonOut = None, manifestPath = None,
      nBuckets = 8)
    ValidatorApp.run(spark, cfg("prev"), s"$tmp/o1")
    val prevCore = new java.io.File(s"$tmp/o1/core").listFiles()
      .filter(_.getName.startsWith("run=")).head.getAbsolutePath
    val read = spansRowsRead(ValidatorApp.run(spark, cfg("cur").copy(
      deltaPrevDocuments = Some(s"$tmp/prev"), deltaPrevCore = Some(prevCore)),
      s"$tmp/o2"))
    // cur: the snapshot diff, the dirty slice (a semi-join on the scanned
    // corpus) and the shared scan of the corpus checks — once each
    assert(read == Map("prev" -> 2000L, "cur" -> 3 * 2100L),
      s"spans rows read per corpus: $read")
  }

  test("delta mode: app run against the prior snapshot's persisted core equals a full run") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-delta").toString
    val prev = DocGen.documents(spark, 2000L).toDF()
    prev.write.mode("overwrite").parquet(s"$tmp/prev")
    // cur: remove %97==3, change %91==5 (span text suffix), add 100 fresh
    val num = substring(col("doc_id"), 5, 12).cast("long")
    val changedSpans = transform(col("spans"), s => struct(
      s.getField("kind").as("kind"),
      concat(coalesce(s.getField("text"), lit("")), lit("!")).as("text"),
      s.getField("media_ref").as("media_ref"),
      s.getField("offset").as("offset")))
    prev.filter(num % 97 =!= 3)
      .withColumn("spans",
        when(num % 91 === 5, changedSpans).otherwise(col("spans")))
      .unionByName(DocGen.documentsRange(spark, 2000L, 2100L, 2100L).toDF())
      .write.mode("overwrite").parquet(s"$tmp/cur")

    def conf(docs: String, out: String, extra: String = "") =
      s"""data.documents = $docs
         |data.snapshotId = ${new java.io.File(docs).getName}
         |checks = kinds-defined, uri-existence, datatype, cardinality
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |schema.kind.txt:count = datatype||http://www.w3.org/2001/XMLSchema#unsignedInt
         |schema.kind.med:link = object||class:Root
         |schema.class = class:Article, class:Root
         |schema.subclass = class:Article<class:Root
         |schema.restriction = class:Article|txt:title|min|1|http://www.w3.org/2001/XMLSchema#string|
         |buckets = 8
         |$extra
         |""".stripMargin
    def runWith(c: String, out: String): Unit = {
      val p = s"$out.properties"
      Files.writeString(java.nio.file.Paths.get(p), c)
      ValidatorApp.run(spark, ValidatorConfig.load(p), out)
    }

    runWith(conf(s"$tmp/prev", s"$tmp/o1"), s"$tmp/o1")      // full run, writes core
    def coreDir(out: String): String = {
      val d = new java.io.File(s"$out/core").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("run="))
      assert(d.length == 1, s"expected one core run dir, got ${d.toSeq}")
      d(0).getAbsolutePath
    }
    runWith(conf(s"$tmp/cur", s"$tmp/o2",
      s"delta.prevDocuments = $tmp/prev\ndelta.prevCore = ${coreDir(s"$tmp/o1")}"),
      s"$tmp/o2")                                            // delta run
    runWith(conf(s"$tmp/cur", s"$tmp/o3"), s"$tmp/o3")       // full run on cur

    def ms(out: String) = spark.read.parquet(s"$out/violations")
      .na.fill("<null>", Seq("docId", "kind", "value")) // null-safe join keys
      .groupBy("check", "checkId", "docId", "kind", "value", "bucket")
      .count()
    val (d, f) = (ms(s"$tmp/o2"), ms(s"$tmp/o3"))
    val mismatch = d.join(f, Seq("check", "checkId", "docId", "kind", "value", "bucket"), "full")
      .filter(!(d("count") <=> f("count"))).count()
    assert(mismatch == 0, s"delta app run differs from full on $mismatch keys")
    // the delta run wrote ITS core (for the next snapshot) with lineage
    val core2 = spark.read.parquet(coreDir(s"$tmp/o2"))
    assert(core2.select("constraintHash").distinct().count() == 1)

    // a CLEAN prior run persists an EMPTY core — the lineage gate must
    // still accept it (empty carries nothing forward; without this the
    // common happy path made incremental validation unusable)
    val cleanSpans = array(struct(lit("txt:title").as("kind"),
      lit("ok").as("text"), lit(null).cast("string").as("media_ref"),
      lit(0).as("offset")))
    prev.withColumn("spans", cleanSpans)
      .write.mode("overwrite").parquet(s"$tmp/cleanPrev")
    prev.withColumn("spans", cleanSpans).filter(num =!= 7)
      .write.mode("overwrite").parquet(s"$tmp/cleanCur")
    def cleanConf(docs: String, extra: String = "") =
      s"""data.documents = $docs
         |data.snapshotId = ${new java.io.File(docs).getName}
         |checks = datatype
         |schema.kind.txt:title = datatype||http://www.w3.org/2001/XMLSchema#string
         |buckets = 8
         |$extra
         |""".stripMargin
    runWith(cleanConf(s"$tmp/cleanPrev"), s"$tmp/c1")
    assert(spark.read.parquet(coreDir(s"$tmp/c1")).count() == 0,
      "fixture must produce a clean (empty) core")
    runWith(cleanConf(s"$tmp/cleanCur",
      s"delta.prevDocuments = $tmp/cleanPrev\ndelta.prevCore = ${coreDir(s"$tmp/c1")}"),
      s"$tmp/c2") // must not throw 'lineage does not match'
    assert(spark.read.parquet(s"$tmp/c2/violations").count() == 0)

    // lineage gate: a different check set must refuse the old core
    val bad = conf(s"$tmp/cur", s"$tmp/o4",
      s"delta.prevDocuments = $tmp/prev\ndelta.prevCore = ${coreDir(s"$tmp/o1")}")
      .replace("checks = kinds-defined, uri-existence, datatype, cardinality",
        "checks = kinds-defined, datatype")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/o4.properties"), bad)
    intercept[IllegalArgumentException] {
      ValidatorApp.run(spark, ValidatorConfig.load(s"$tmp/o4.properties"), s"$tmp/o4")
    }
  }
}
