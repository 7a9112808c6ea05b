package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What the setup hands the workload: the session, the tracer (a no-op
  * in untraced runs), the seed and a fresh working directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: Path, val sfDir: String)

/** Everything a run measured and checked. `metrics` are the end-to-end
  * numbers BENCHMARK.json gates on, `detail` the per-workload end-to-end
  * numbers under their own names, `layer` the per-layer numbers of a
  * traced run. */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a refused or failed one counts as failed. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  /** Record an output check; a failed check counts as a failed op. */
  def check(name: String, ok: Boolean, info: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else info))
    op(ok)
  }
}

trait Workload {
  /** Everything before the first timed operation: inputs, state, warm-up. */
  def prepare(): Unit
  /** The measured loop; runs for about `seconds`. */
  def run(seconds: Double, out: Outcome): Unit
}

/** Benchmark entry point. One JVM runs one workload:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --out <result.json> --sf <sf dir>`.
  * The working directory is the scratch space: queues, checkpoints and
  * Spark's warehouse are created under it. */
object Main {
  val workloads: Map[String, Ctx => Workload] = Map(
    "queue_mixed" -> (c => new QueueMixed(c)),
    "stream_pipeline" -> (c => new StreamPipeline(c)),
    "batch_curation" -> (c => new BatchCuration(c)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val make = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val sfDir = opt("sf")
    val cwd = Paths.get("").toAbsolutePath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    System.setProperty("spark.sql.warehouse.dir", cwd.resolve("spark-warehouse").toString)
    System.setProperty("spark.local.dir", cwd.resolve("spark-local").toString)
    // keep every trigger's progress for the stream's latency accounting
    System.setProperty("spark.sql.streaming.numRecentProgressUpdates", "100000")

    // One setup, timed from JVM start (class loading and session start
    // included) to the first timed operation.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(cpus, s"perfbench-$name")
    log("session started")
    val tracer = new Tracer(spark, traced)
    val wl = make(new Ctx(spark, tracer, seed, Files.createDirectories(cwd.resolve("state")), sfDir))
    wl.prepare()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(f"setup: $setupS%.2f s")

    val out = new Outcome
    try wl.run(seconds, out)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check("run completed", ok = false, e.toString)
    }
    log("run done")
    tracer.close()
    out.metrics("setup_s") = setupS

    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics, "detail" -> out.detail, "layer" -> out.layer,
      "checks" -> out.checks.map { case (n, ok, info) =>
        Map("check" -> n, "ok" -> ok, "info" -> info) },
      "env" -> environment(spark, cpus, sfDir, seed),
      "spans" -> (if (traced) tracer.spanRecords else Nil))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(Paths.get(opt("out")).toFile, result)
    spark.stop()
    log("stopped")
  }

  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%7.2f $msg")

  private def environment(spark: SparkSession, cpus: String, sfDir: String,
                          seed: Long): Map[String, Any] = {
    val rt = Runtime.getRuntime
    val memTotalKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).get.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    Map(
      "nproc" -> rt.availableProcessors, "spark_graft_cpus" -> cpus,
      "driver_max_heap_mb" -> rt.maxMemory / (1024 * 1024),
      "ram_mb" -> memTotalKb / 1024,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> System.getProperty("java.vm.version"),
      "sf_dir" -> sfDir, "seed" -> seed,
      "flush_policy" -> ("ParquetQueue never fsyncs and the OS page cache holds " +
        "every input, so queue latencies are this machine's page-cache " +
        "latencies, not a storage device's"))
  }
}

