package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import graft.engine.SparkBoot

/** Benchmark entry point.
  *
  * `Main --workload bulk|batches|snapshots --seed N --seconds S
  *  --trace 0|1 --work DIR --results DIR [--smoke] [--perturb CHECK-ID]`
  *
  * Prints one `metric <workload> <name> <value> <unit>` line per metric
  * and, as its last line, the JSON result object. `--trace 0` reports the
  * end-to-end metrics, `--trace 1` the per-layer metrics of a separate
  * traced run. The full result (with the environment block) and, when
  * traced, the spans go to `--results`, keyed by workload and seed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, results: String, smoke: Boolean,
                        perturb: Option[String])

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--results"),
      a.contains("--smoke"), kv.get("--perturb"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workloads.names.contains(args.workload), s"unknown workload ${args.workload}")
    val spark = SparkBoot.local()
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = new Ctx(spark, args, bootS)
    val r = try Workloads.run(ctx) finally { ctx.close(); spark.stop() }

    for ((name, (v, unit)) <- r.reported ++ r.extra)
      println(s"metric ${r.workload} $name $v $unit")
    val dir = Paths.get(args.results, r.workload)
    Files.createDirectories(dir)
    val stem = s"seed-${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.writeString(dir.resolve(s"$stem.json"), r.json(args))
    if (args.trace)
      Files.writeString(dir.resolve(s"seed-${args.seed}-spans.jsonl"),
        r.spans.mkString("", "\n", "\n"))
    println(Json.obj(Seq(
      "correct" -> (r.failed == 0), "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> ListMap(r.reported.toSeq.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** Aggregate CPU times of the host (`/proc/stat`, in ticks). The share
    * stolen by the hypervisor explains a slow run on a shared host. */
  final case class CpuTimes(total: Long, steal: Long) {
    def stealFrac(before: CpuTimes): Double =
      (steal - before.steal).toDouble / math.max(1L, total - before.total)
  }
  object CpuTimes {
    val Zero = CpuTimes(0, 0)
    def read(): CpuTimes = {
      val stat = Paths.get("/proc/stat")
      if (!Files.isReadable(stat)) Zero
      else {
        val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
        CpuTimes(f.take(8).sum, if (f.length > 7) f(7) else 0L)
      }
    }
  }

  /** The environment block: everything needed to explain a disagreement
    * between two hosts from the result file alone. */
  def environment(spark: SparkSession, args: Args): ListMap[String, Any] = {
    val cpuMaxFile = Paths.get("/sys/fs/cgroup/cpu.max")
    val cpuMax =
      if (Files.isReadable(cpuMaxFile)) Files.readString(cpuMaxFile).trim else "unavailable"
    val rt = ManagementFactory.getRuntimeMXBean
    ListMap(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cgroup_cpu_max" -> cpuMax,
      "host_steal_frac_since_boot" -> CpuTimes.read().stealFrac(CpuTimes.Zero),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).toSeq,
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
        .filterNot(_.startsWith("--add-opens")),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
      "sql_conf" -> ListMap(spark.conf.getAll.toSeq.sorted: _*),
      "seed" -> args.seed,
      "seconds" -> args.seconds,
      "smoke" -> args.smoke)
  }
}
