package graft.perfbench

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checks.{CheckContext, CheckDatatypeImpl, Checks, RowLocalCheck}
import graft.datagen.DocGen
import graft.engine.{Pipeline, ProfileStore, ValidatorConfig}
import graft.functions.{CompiledConstraints, ValidateSpans}
import Workloads.{quantile, secs}
import Sweep.Call

/** The traced run's per-layer metrics. Every layer is timed from outside
  * the program: the benchmark calls the layer's public function on the
  * workload's own input inside a span with its own job group, and
  * [[Ledger]] supplies that group's task metrics.
  */
final class Sweep(ctx: Ctx, w: Workload) {
  private val spark = ctx.spark
  private val schema = DocGen.schema
  var attempted = 0L
  var failed = 0L

  /** The nine composed-pass checks, by their config key. */
  val CheckKeys: Seq[String] = Workloads.AppChecks.filterNot(_ == "doc-id-unique")


  private def layer[T](name: String)(body: => T): Call[T] = {
    ctx.waitBus()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = ctx.tracer.span(name, "sweep", s"layer:$name")(body)
    val wall = secs(t0)
    ctx.waitBus()
    Call(r, startMs, wall, ctx.ledger.group(s"layer:$name"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def gate(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"[perfbench] ${ctx.workload} sweep failed: ${problems.take(3).mkString("; ")}")
    }
  }

  private def mb(bytes: Long): Double = bytes / 1e6
  private def s(ns: Long): Double = ns / 1e9

  /** Per-pass figures of one composed pass's job group. */
  private def passFigures(g: Ledger#Group, startMs: Long, wallS: Double): ListMap[String, Double] =
    g.synchronized {
      ListMap(
        "pass.jobs" -> g.jobs.toDouble, "pass.stages" -> g.stages.toDouble,
        "pass.tasks" -> g.tasks.toDouble,
        "pass.driver_idle_s" -> g.idleMs(startMs, startMs + (wallS * 1000).toLong) / 1000.0,
        "pass.exec_cpu_s" -> s(g.cpuNs), "pass.gc_s" -> g.gcMs / 1000.0,
        "pass.shuffle_mb" -> mb(g.shuffleBytes), "pass.spill_mb" -> mb(g.spillBytes),
        "pass.task_skew" -> g.taskSkew)
    }

  /** A traced composed pass: its job group, start, wall, and the wall of
    * its rollup span. */
  private final case class Traced(group: String, startMs: Long, wallS: Double, rollupS: Double)

  /** `audit` counted the query executions and parquet scans of the
    * window's ops. */
  def run(ops: Seq[Op], peakBytes: Long, recomputed: Long,
          audit: graft.ScanSweep.ScanAudit): ListMap[String, (Double, String)] = {
    val (corpus, nDocs, prevPath, curPath) = w.sweepInputs()
    def docs = spark.read.parquet(corpus)
    val out = ListMap.newBuilder[String, (Double, String)]

    // ---- composed pass (engine.Pipeline) ----------------------------------
    // Where the window's ops are composed passes, its traced ops and the
    // audit of the whole window (every op runs the same pass) supply the
    // figures; otherwise two serial passes here do.
    def rollupS(op: String) = ctx.tracer.all.find(sp => sp.name == "pass.rollup" && sp.op == op)
      .map(sp => (sp.endNs - sp.startNs) / 1e9).getOrElse(Double.NaN)
    val (passes, execs, scans) =
      if (w.passes) {
        val ok = ops.filter(o => o.traced && o.problems.isEmpty)
        (ok.map(o => Traced(o.group, o.startMs, o.wallS, rollupS(o.group.stripPrefix("op:")))),
          audit.execs.get.toDouble / ops.size, audit.scans.get.toDouble / ops.size)
      } else {
        spark.listenerManager.register(audit)
        val sweep = try (0 until 2).map { i =>
          ctx.waitBus()
          audit.reset()
          val c = layer(s"pass-$i")(Pass.run(spark, docs, nDocs, ctx.tracer, s"sweep-pass-$i"))
          ctx.waitBus()
          (c, audit.execs.get.toDouble, audit.scans.get.toDouble)
        } finally spark.listenerManager.unregister(audit)
        gate(sweep.flatMap(_._1.result.problems) ++
          Gate.same(sweep(1)._1.result.counts, sweep(0)._1.result.counts,
            "the first sweep pass gave"))
        (sweep.zipWithIndex.map { case ((c, _, _), i) =>
          Traced(s"layer:pass-$i", c.startMs, c.wallS, rollupS(s"sweep-pass-$i")) },
          quantile(sweep.map(_._2), 0.5), quantile(sweep.map(_._3), 0.5))
      }
    require(passes.nonEmpty, "no traced composed pass succeeded")
    val figures = passes.map(p => passFigures(ctx.ledger.group(p.group), p.startMs, p.wallS))
    val units = Map("pass.driver_idle_s" -> "s", "pass.exec_cpu_s" -> "s", "pass.gc_s" -> "s",
      "pass.shuffle_mb" -> "MB", "pass.spill_mb" -> "MB", "pass.task_skew" -> "ratio")
    for (k <- figures.head.keys) {
      out += k -> (quantile(figures.map(_(k)), 0.5), units.getOrElse(k, "count"))
      if (k == "pass.tasks") {
        out += "pass.query_executions" -> (execs, "count")
        out += "pass.parquet_scans" -> (scans, "count")
      }
    }

    // ---- shared-cache registry (checks.CheckContext), from the loop -------
    val traced = ops.filter(_.traced)
    out += "cache.peak_mb" -> (mb(peakBytes), "MB")
    out += "cache.held_after_mb" -> (mb(quantile(traced.map(_.heldAfter.toDouble), 0.5).toLong), "MB")
    out += "cache.recomputed_parts" -> (recomputed.toDouble, "count")

    // ---- parquet scan and row-local validation ---------------------------
    val scan = layer("scan")(noop(docs.select("spans")))
    out += "scan.s" -> (scan.wallS, "s")
    out += "scan.cpu_s" -> (s(scan.g.cpuNs), "s")
    val rowLocal = layer("rowlocal")(noop(Pipeline.rowLocalCore(spark, docs, schema)))
    out += "rowlocal.s" -> (rowLocal.wallS, "s")
    out += "rowlocal.cpu_s" -> (s(rowLocal.g.cpuNs), "s")
    out += "rowlocal.gc_s" -> (rowLocal.g.gcMs / 1000.0, "s")

    // ---- shared scan, then each corpus check over it ---------------------
    val ctx0 = CheckContext(spark, docs, schema)
    val rowLocalChecks = Checks.all.filter(_.isInstanceOf[RowLocalCheck])
    val cc = CompiledConstraints.from(schema, rowLocalChecks.map(_.id).toSet,
      strictDt = rowLocalChecks.exists {
        case c: CheckDatatypeImpl => c.strict
        case _ => false
      },
      spanArity = ctx0.spanArity, dtOrdinal = ctx0.spanDatatypeOrd)
    val rddsBefore = ctx.ledger.rddBytes.keySet
    val shared = layer("shared") {
      val df = ctx0.buildSharedScan(Seq(
        ValidateSpans.validateSpans(col("spans"), cc).as("__viols")))
      noop(df)
      df
    }
    out += "shared.s" -> (shared.wallS, "s")
    out += "shared.cpu_s" -> (s(shared.g.cpuNs), "s")
    out += "shared.gc_s" -> (shared.g.gcMs / 1000.0, "s")
    out += "shared.cache_mb" ->
      (mb(ctx.ledger.rddBytes.collect { case (id, b) if !rddsBefore(id) => b }.sum), "MB")
    val ctxShared = ctx0.copy(sharedOpt = Some(shared.result))
    val checkWalls = CheckKeys.map { key =>
      val frames = ValidatorConfig.CheckRegistry(key) match {
        case r: RowLocalCheck => r.extraFrames(ctxShared)
        case c => Seq(c.run(ctxShared))
      }
      val call = layer(s"checks.$key")(frames.foreach(noop))
      out += s"checks.$key.s" -> (call.wallS, "s")
      out += s"checks.$key.shuffle_mb" -> (mb(call.g.shuffleBytes), "MB")
      call.wallS
    }

    // ---- union + verdict rollup: the traced passes' rollup spans --------
    out += "rollup.s" -> (quantile(passes.map(_.rollupS), 0.5), "s")
    out += "rollup.tasks" ->
      (quantile(passes.map(p => ctx.ledger.group(s"${p.group}/rollup").tasks.toDouble), 0.5), "count")
    out += "layers.coverage" -> ((shared.wallS + checkWalls.sum + quantile(passes.map(_.rollupS), 0.5)) /
      quantile(passes.map(_.wallS), 0.5), "ratio")

    // ---- ValidatorApp stages: a full run, then a delta step --------------
    val fullOut = s"${ctx.work}/sweep/app-full"
    val deltaOut = s"${ctx.work}/sweep/app-delta"
    val appFull = layer("app.full")(Workloads.runApp(spark,
      Workloads.appConfig(prevPath, "prev", fullOut, None), fullOut))
    val appDelta = layer("app.delta")(Workloads.runApp(spark,
      Workloads.appConfig(curPath, "cur", deltaOut, Some((prevPath, fullOut))), deltaOut))
    out += "app.full_s" -> (appFull.wallS, "s")
    out += "app.delta_s" -> (appDelta.wallS, "s")
    for ((label, dir) <- Seq("full" -> fullOut, "delta" -> deltaOut)) {
      val rows = spark.read.parquet(Workloads.only(s"$dir/metrics")).collect()
        .map(r => (r.getAs[String]("stage"), r.getAs[Long]("wall_ms"), r.getAs[Long]("scans")))
      for (stage <- Sweep.AppStages)
        out += s"$label.$stage.s" ->
          (rows.find(_._1 == stage).map(_._2 / 1000.0).getOrElse(Double.NaN), "s")
      out += s"$label.parquet_scans" -> (rows.map(_._3).sum.toDouble, "count")
    }

    // ---- snapshot diff and the profile's touched buckets -----------------
    val prev = spark.read.parquet(prevPath)
    val cur = spark.read.parquet(curPath)
    val diff = layer("diff")(Pipeline.snapshotDiff(prev, cur).groupBy("status").count().collect())
    out += "diff.s" -> (diff.wallS, "s")
    out += "diff.cpu_s" -> (s(diff.g.cpuNs), "s")
    val status = diff.result.map(r => r.getString(0) -> r.getLong(1)).toMap
    val curDocs = status.getOrElse("added", 0L) + status.getOrElse("changed", 0L) +
      status.getOrElse("unchanged", 0L)
    out += "delta.dirty_frac" ->
      ((status.getOrElse("added", 0L) + status.getOrElse("changed", 0L)).toDouble / curDocs, "ratio")
    // buckets whose committed profile rows the delta run rewrote: the
    // carried ones are byte-for-byte those of the full run before it
    def profile(dir: String) = ProfileStore.read(spark, dir).drop("snapshotId")
    val touched = profile(deltaOut).exceptAll(profile(fullOut)).select("part").distinct().count()
    out += "profile.touched_frac" -> (touched.toDouble / Sweep.Buckets, "ratio")

    // ---- tracing overhead: traced minus untraced walls of one op kind ----
    def median(t: Boolean) =
      quantile(ops.filter(o => o.traced == t && o.kind == w.overheadKind).map(_.wallS), 0.5)
    out += "trace.overhead_s" -> (median(true) - median(false), "s")
    out.result()
  }
}

object Sweep {
  /** One layer call: its result, start, wall and job-group totals. */
  final case class Call[T](result: T, startMs: Long, wallS: Double, g: Ledger#Group)

  /** The stages `ValidatorApp` records in its `metrics/run=N` artifact. */
  val AppStages = Seq("validate_persist", "core_persist", "verdicts", "manifest_commit",
    "profile", "drift", "reports")
  /** Verdict buckets of the app config (`buckets = 64`). */
  val Buckets = 64
}
