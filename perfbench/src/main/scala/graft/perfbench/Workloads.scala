package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.datagen.DocGen
import graft.engine.{ValidatorApp, ValidatorConfig}

/** Per-workload state shared by the set-up, the timed loop and the sweep. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val bootS: Double) {
  def workload: String = args.workload
  val ledger = new Ledger
  spark.sparkContext.addSparkListener(ledger)
  val tracer = new Tracer(args.trace, spark.sparkContext)
  val work: String = s"${args.work}/$workload"
  val originNs: Long = System.nanoTime()
  def smoke: Boolean = args.smoke
  def waitBus(): Unit = org.apache.spark.sql.graft.shims.waitForListeners(spark)
  def close(): Unit = spark.sparkContext.removeSparkListener(ledger)
}

/** One timed operation as the client saw it. */
final case class Op(kind: String, client: Int, index: Int, traced: Boolean, group: String,
                    startMs: Long, wallS: Double, docs: Long, problems: Seq[String],
                    heldAfter: Long)

/** What a workload reports. `reported` are the metrics BENCHMARK.json
  * names; `extra` are printed and stored but not part of the contract. */
final class Result(val workload: String,
                   val reported: ListMap[String, (Double, String)],
                   val extra: ListMap[String, (Double, String)],
                   val attempted: Long, val failed: Long,
                   env: ListMap[String, Any], sizes: ListMap[String, Any],
                   ops: Seq[Op], val spans: Seq[String]) {
  def json(args: Main.Args): String = Json.obj(Seq(
    "workload" -> workload, "seed" -> args.seed, "trace" -> args.trace,
    "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
    "metrics" -> ListMap((reported ++ extra).toSeq.map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) }: _*),
    "environment" -> env, "inputs" -> sizes,
    "ops" -> ops.map(o => ListMap("kind" -> o.kind, "client" -> o.client,
      "index" -> o.index, "traced" -> o.traced, "wall_s" -> o.wallS,
      "docs" -> o.docs, "problems" -> o.problems))))
}

/** A workload: its inputs, warm-up and closed-loop operation. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def clients: Int = 1
  /** Timed ops each client runs. The count is fixed, so two commits are
    * compared over the same ops at the same point of the JVM's warm-up;
    * `--seconds` only caps the window. */
  def opsPerClient: Int
  /** The op kind whose traced and untraced walls give the overhead. */
  def overheadKind: String = "pass"
  /** Whether every op is one composed pass. */
  def passes: Boolean = overheadKind == "pass"
  /** Ops traced or untraced together: one, or a whole snapshot chain, so
    * that both walls exist for every op kind. */
  def traceStride: Int = 1
  def sizes: ListMap[String, Any]
  def generate(dir: String): Unit
  def warmUp(dir: String): Unit
  /** Runs op `i` of `client`; returns (kind, docs validated, problems). */
  def op(client: Int, i: Int, opId: String): (String, Long, Seq[String])
  /** Gates that need the whole window, by op position. */
  def finish(ops: Seq[Op]): Map[Int, Seq[String]] = Map.empty
  /** (corpus, its doc count, previous snapshot, current snapshot) for the
    * traced layer sweep. */
  def sweepInputs(): (String, Long, String, String)
}

object Workloads {
  val names = Seq("bulk", "batches", "snapshots")

  /** The `examples/run.properties` check set (which includes
    * doc-id-unique), validated against the DocGen schema. */
  val AppChecks = Seq("kinds-defined", "classes-defined", "uri-existence",
    "object-range", "domain", "datatype", "cardinality", "some", "only", "doc-id-unique")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Sum over clients of (docs a client validated) / (its time from the
    * window's start to its last completion): a client that finished
    * early does not count the other client's tail as its own time. */
  def docsPerS(ops: Seq[Op], t0Ms: Long): Double =
    ops.groupBy(_.client).values.map { os =>
      os.map(_.docs).sum / ((os.map(o => o.startMs + o.wallS * 1000).max - t0Ms) / 1000.0)
    }.sum

  def run(ctx: Ctx): Result = {
    val w: Workload = ctx.workload match {
      case "bulk" => new Bulk(ctx)
      case "batches" => new Batches(ctx)
      case "snapshots" => new Snapshots(ctx)
    }
    val tg = System.nanoTime()
    w.generate(s"${ctx.work}/gen")
    val genS = secs(tg)
    val tw = System.nanoTime()
    w.warmUp(s"${ctx.work}/gen")
    val warmS = secs(tw)

    val cpu0 = Main.CpuTimes.read()
    val audit = new graft.ScanSweep.ScanAudit
    val auditWindow = ctx.args.trace && w.passes
    if (auditWindow) ctx.spark.listenerManager.register(audit)
    val (ops, t0Ms, windowS, peak, recomputed) =
      try loop(ctx, w) finally if (auditWindow) ctx.spark.listenerManager.unregister(audit)
    // process start to the first timed op, as one process lived it
    val setupS = (t0Ms - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val skipped = w.clients * w.opsPerClient - ops.size
    if (skipped > 0)
      System.err.println(s"[perfbench] ${ctx.workload}: the --seconds cap cut $skipped ops")
    val stealFrac = Main.CpuTimes.read().stealFrac(cpu0)
    val late = w.finish(ops)
    val gated = ops.zipWithIndex.map { case (o, i) =>
      o.copy(problems = o.problems ++ late.getOrElse(i, Nil)) }
    gated.filter(_.problems.nonEmpty).take(3).foreach(o =>
      System.err.println(s"[perfbench] ${ctx.workload} op ${o.index} failed: ${o.problems.take(3).mkString("; ")}"))

    var attempted = gated.size.toLong
    var failed = gated.count(_.problems.nonEmpty).toLong
    val walls = gated.map(_.wallS)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "docs_per_s" -> (docsPerS(gated, t0Ms), "docs/s"),
      "batch_p50_s" -> (quantile(walls, 0.5), "s"),
      "cache_peak_mb" -> (peak / 1e6, "MB"))
    def kindMedian(k: String) = quantile(gated.filter(_.kind == k).map(_.wallS), 0.5)
    // 3-10 samples a run leave no percentile above the median with ten
    // samples beyond it, so p90 is printed but carries no bound
    val extra0 = ListMap(
      "batch_p90_s" -> (quantile(walls, 0.9), "s"),
      "samples" -> (walls.size.toDouble, "count"),
      "capped_ops" -> (skipped.toDouble, "count"),
      "window.recomputed_parts" -> (recomputed.toDouble, "count"),
      "window_s" -> (windowS, "s"),
      "host.steal_frac" -> (stealFrac, "ratio"),
      "setup.boot_s" -> (ctx.bootS, "s"), "setup.gen_s" -> (genS, "s"),
      "setup.warmup_s" -> (warmS, "s")) ++
      (if (ctx.workload == "snapshots")
        ListMap("app_full_s" -> (kindMedian("full"), "s"),
          "app_delta_s" -> (kindMedian("delta"), "s"))
      else ListMap.empty)

    val (reported, extra) =
      if (!ctx.args.trace) (e2e, extra0)
      else {
        val sweep = new Sweep(ctx, w)
        val layers = sweep.run(gated, peak, recomputed, audit)
        attempted += sweep.attempted
        failed += sweep.failed
        (layers, extra0 ++ ListMap("traced.docs_per_s" -> e2e("docs_per_s"),
          "traced.batch_p50_s" -> e2e("batch_p50_s")))
      }
    new Result(ctx.workload, reported,
      ListMap("failed_frac" -> (failed.toDouble / attempted, "ratio")) ++ extra,
      attempted, failed,
      Main.environment(ctx.spark, ctx.args),
      w.sizes, gated, ctx.tracer.jsonLines(ctx.originNs))
  }

  /** The closed loop: each client submits its next op only after the
    * previous one returned, `opsPerClient` times or until the `--seconds`
    * cap. Traced runs trace every second run of `traceStride` ops of a
    * client, so one process gives both walls for the overhead. Returns the ops, the window wall, the
    * peak cached bytes and the recomputed cached partitions. */
  def loop(ctx: Ctx, w: Workload): (Seq[Op], Long, Double, Long, Long) = {
    ctx.waitBus()
    ctx.ledger.resetPeak()
    ctx.ledger.resetStores()
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.args.seconds * 1e9).toLong
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    def client(c: Int): Unit = {
      var i = 0
      while (i < w.opsPerClient && System.nanoTime() < deadline) {
        val traced = ctx.args.trace && (i / w.traceStride) % 2 == 1
        val opId = s"${ctx.workload}-c$c-$i"
        val group = if (traced) s"op:$opId" else null
        val start = System.currentTimeMillis()
        val ts = System.nanoTime()
        val (kind, docs, problems) =
          try {
            if (traced) ctx.tracer.span("op", opId, group)(w.op(c, i, opId))
            else w.op(c, i, opId)
          } catch {
            case e: Exception => ("error", 0L, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        val wall = secs(ts)
        val held = if (traced) { ctx.waitBus(); ctx.ledger.heldBytes } else 0L
        done.add(Op(kind, c, i, traced, group, start, wall, docs, problems, held))
        i += 1
      }
    }
    if (w.clients == 1) client(0)
    else {
      val threads = (0 until w.clients).map(c => new Thread(() => client(c), s"client-$c"))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    val window = secs(t0)
    ctx.waitBus()
    (done.asScala.toSeq.sortBy(o => (o.startMs, o.client)), t0Ms, window,
      ctx.ledger.peakBytes, ctx.ledger.recomputedParts)
  }

  // ---- helpers shared by the workloads ---------------------------------

  def only(dir: String): String = {
    val entries = Files.list(Paths.get(dir)).iterator().asScala.toSeq
    require(entries.size == 1, s"expected one entry in $dir, found ${entries.size}")
    entries.head.toString
  }

  def appConfig(docs: String, snapshotId: String, out: String,
                prev: Option[(String, String)]): ValidatorConfig =
    ValidatorConfig(
      documentsPath = docs, snapshotId = snapshotId, checkKeys = AppChecks,
      schema = DocGen.schema, xmlOut = None, jsonOut = Some(s"$out/report.json"),
      manifestPath = Some(s"$out/manifest.jsonl"), nBuckets = Sweep.Buckets,
      deltaPrevDocuments = prev.map(_._1),
      deltaPrevCore = prev.map { case (_, prevOut) => only(s"$prevOut/core") },
      profileEnabled = true,
      driftPrevProfile = prev.map(_._2))

  /** Runs the app; returns the per-check counts of the violations it wrote. */
  def runApp(spark: SparkSession, cfg: ValidatorConfig, out: String): Map[String, Long] = {
    ValidatorApp.run(spark, cfg, out)
    Gate.countsOf(spark.read.parquet(only(s"$out/violations")))
  }
}

/** One client, repeated composed passes over one large corpus. */
final class Bulk(ctx: Ctx) extends Workload(ctx) {
  val n: Long = if (ctx.smoke) 3000L else 300000L
  /** The warm-up pass reads this many of the corpus's files: the first
    * pass of a JVM is mostly start-up cost, whatever its size. */
  private val warmFiles = 2
  override def opsPerClient: Int = if (ctx.smoke) 2 else 3
  private lazy val want = Gate.expected(n, ctx.args.perturb)
  private var corpus = ""
  private var warmPart: Seq[String] = Nil
  private var ref = Map.empty[String, Long]
  def sizes = ListMap("corpus_docs" -> n, "files" -> Inputs.Files,
    "warmup_passes" -> 1, "warmup_files" -> warmFiles)
  def generate(dir: String): Unit = Inputs.writeCorpus(spark, n, ctx.args.seed, s"$dir/corpus")
  def warmUp(dir: String): Unit = {
    corpus = s"$dir/corpus"
    warmPart = Files.list(Paths.get(corpus)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted.take(warmFiles)
    val part = spark.read.parquet(warmPart: _*)
    Pass.run(spark, part, part.count(), ctx.tracer, "warm-0")
  }
  def op(client: Int, i: Int, opId: String) = {
    val r = Pass.run(spark, spark.read.parquet(corpus), n, ctx.tracer, opId)
    if (ref.isEmpty) ref = r.counts
    ("pass", n, r.problems ++ Gate.plants(r.counts, want) ++
      Gate.same(r.counts, ref, "the first pass gave"))
  }
  /** The app, diff and profile layers run on 10k docs of the corpus: a
    * full and a delta `ValidatorApp` run take 40-50 s on all 300k docs
    * and ~22 s on 10k, and the traced run must stay well inside its time
    * limit. */
  def sweepInputs() = {
    val prev = s"${ctx.work}/sweep/prev"
    val cur = s"${ctx.work}/sweep/cur"
    spark.read.parquet(warmPart.head).limit(if (ctx.smoke) 300 else 10000).write.parquet(prev)
    Inputs.writeStep(spark, spark.read.parquet(prev), spark.read.parquet(prev).count(), 1,
      ctx.args.seed, cur, n)
    (corpus, n, prev, cur)
  }
}

/** Two clients sharing one session, each validating its own stream of
  * distinct small corpora. */
final class Batches(ctx: Ctx) extends Workload(ctx) {
  val m: Int = if (ctx.smoke) 500 else 5000
  val pool: Int = if (ctx.smoke) 6 else 10
  private val warm = if (ctx.smoke) 1 else 2
  override def clients = 2
  override def opsPerClient: Int = if (ctx.smoke) 2 else 5
  private lazy val want = Gate.expected(m, ctx.args.perturb)
  private var dir = ""
  @volatile private var ref = Map.empty[String, Long]
  def sizes = ListMap("batch_docs" -> m, "batches" -> pool, "clients" -> clients,
    "warmup_passes" -> warm)
  def generate(d: String): Unit = Inputs.writeBatches(spark, pool, m, ctx.args.seed, s"$d/batches")

  /** Stream position of client `c`'s op `i`: the stream starts after the
    * warm-up corpora and wraps around when a run outlasts the pool. */
  private def position(c: Int, i: Int): Int = (warm + i * clients + c) % pool
  private def batch(p: Int): DataFrame = spark.read.parquet(s"$dir/batches/batch=$p")

  /** Warm-up passes run one at a time, so every run enters the window
    * with the same JIT history; concurrent warm-up left run-to-run walls
    * ~10 % apart. */
  def warmUp(d: String): Unit = {
    dir = d
    for (p <- 0 until warm)
      ref = Pass.run(spark, batch(p), m, ctx.tracer, s"warm-$p").counts
  }
  def op(client: Int, i: Int, opId: String) = {
    val r = Pass.run(spark, batch(position(client, i)), m, ctx.tracer, opId)
    ("pass", m.toLong, r.problems ++ Gate.plants(r.counts, want) ++
      Gate.same(r.counts, ref, "warm-up batch gave"))
  }
  def sweepInputs() = {
    val cur = s"${ctx.work}/sweep/cur"
    val first = s"$dir/batches/batch=0"
    // batch 0 holds one of the pool's id ranges; fresh ids start above all
    Inputs.writeStep(spark, spark.read.parquet(first), m, 1, ctx.args.seed, cur, pool.toLong * m)
    (first, m.toLong, first, cur)
  }
}

/** One client driving `ValidatorApp.run` along a snapshot chain: a full
  * run of S0, then delta runs S0→S1→…→SK; the chain runs twice, each
  * time in fresh output directories. */
final class Snapshots(ctx: Ctx) extends Workload(ctx) {
  val n: Long = if (ctx.smoke) 3000L else 10000L
  val steps = 1
  override def opsPerClient: Int = 2 * (steps + 1)
  override def traceStride: Int = steps + 1
  override def overheadKind = "delta"
  private lazy val want = Gate.expected(n, ctx.args.perturb)
  private var dir = ""
  private var snapDocs = IndexedSeq.empty[Long]
  private val chain0 = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Long]]()
  def sizes = ListMap("snapshot_docs" -> n, "chain_steps" -> steps,
    "churn_per_step" -> "1/300 removed, 1/300 changed, 1/300 added")
  def snap(k: Int) = s"$dir/S$k"
  def generate(d: String): Unit = {
    Inputs.writeCorpus(spark, n, ctx.args.seed, s"$d/S0")
    for (k <- 1 to steps)
      Inputs.writeStep(spark, spark.read.parquet(s"$d/S${k - 1}"), n, k, ctx.args.seed, s"$d/S$k", n)
  }
  private def step(k: Int, out: String, prevOut: String): Map[String, Long] =
    Workloads.runApp(spark, Workloads.appConfig(snap(k), s"S$k", out,
      if (k == 0) None else Some((snap(k - 1), prevOut))), out)

  def warmUp(d: String): Unit = {
    dir = d
    snapDocs = (0 to steps).map(k => spark.read.parquet(snap(k)).count())
    step(0, s"${ctx.work}/warm/0", null)
    step(1, s"${ctx.work}/warm/1", s"${ctx.work}/warm/0")
  }
  private def outDir(c: Int, k: Int) = s"${ctx.work}/chains/$c-$k"
  def op(client: Int, i: Int, opId: String) = {
    val (c, k) = (i / (steps + 1), i % (steps + 1))
    val counts = step(k, outDir(c, k), if (k == 0) null else outDir(c, k - 1))
    val gate =
      (if (k == 0) Gate.plants(counts, want) else Nil) ++
      (if (c == 0) { chain0.put(k, counts); Nil }
       else Gate.same(counts, chain0.get(k), s"chain 0 step $k gave"))
    (if (k == 0) "full" else "delta", snapDocs(k), gate)
  }
  /** The last delta step of every chain must equal an untimed
    * from-scratch full run of the same snapshot. */
  override def finish(ops: Seq[Op]): Map[Int, Seq[String]] = {
    val refOut = s"${ctx.work}/reference"
    val ref = Workloads.runApp(spark, Workloads.appConfig(snap(steps), s"S$steps", refOut, None), refOut)
    ops.zipWithIndex.collect {
      case (o, j) if o.kind == "delta" && o.index % (steps + 1) == steps =>
        j -> Gate.same(countsAt(o.index), ref, "from-scratch full run gave")
    }.toMap
  }
  private def countsAt(i: Int): Map[String, Long] =
    Gate.countsOf(spark.read.parquet(Workloads.only(s"${outDir(i / (steps + 1), steps)}/violations")))
  def sweepInputs() = (snap(steps), snapDocs(steps), snap(steps - 1), snap(steps))
}
