package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipeline.PipelineConfig

/** Benchmark entry. One process, one client, closed loop: each unit
  * starts after the previous one has been checked.
  *
  * usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --results DIR --launch-epoch-us T [--setup-only]
  *
  * `--launch-epoch-us` is the wall clock at which the caller started this
  * process, so `setup_s` counts JVM start-up too. The last stdout line is
  * the summary JSON.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, results: String, launchEpochUs: Long, setupOnly: Boolean)

  /** The shipped per-language config each workload runs under. */
  val ConfigOf: Map[String, String] = Map(
    "indic_crawl" -> "configs/graft_hindi_config.json",
    "web_neardup" -> "configs/graft_english_config.json")

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(ConfigOf.contains(w), s"unknown workload $w (have ${ConfigOf.keys.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1",
      need("work"), need("results"), need("launch-epoch-us").toLong,
      argv.contains("--setup-only"))
  }

  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Machine shape, recorded in every artifact. */
  def machine(spark: SparkSession, seed: Long): java.util.LinkedHashMap[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_mb" -> os.getTotalMemorySize / 1e6,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "seed" -> seed)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}", a.trace)
    val t0 = System.nanoTime()
    val spark = tracer.span("sessions.build") { graft.Sessions.local(cores) }
    val t1 = System.nanoTime()
    val cfg = tracer.span("pipeline.config_load") {
      PipelineConfig.fromJsonFile(ConfigOf(a.workload))
    }
    val t2 = System.nanoTime()
    val setup = Setup((epochUs() - a.launchEpochUs) / 1e6, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    try {
      if (a.setupOnly) println(Json.write(Json.obj("setup_s" -> setup.totalS)))
      else {
        val report = new Bench(spark, cfg, a, setup, tracer).run()
        val shape = machine(spark, a.seed)
        println(s"machine: ${Json.write(shape)}")
        report.put("machine", shape)
        val name = tracer.runId
        Files.createDirectories(Paths.get(a.results))
        Files.write(Paths.get(a.results, s"$name.json"), Json.write(report).getBytes(UTF_8))
        if (a.trace) {
          Trace.byName(tracer.all).foreach { case (n, total, self, k) =>
            println(f"span $n: total=$total%.4f s self=$self%.4f s calls=$k")
          }
          val lines = Iterator(Json.write(Json.obj("machine" -> shape))) ++
            Trace.jsonLines(tracer.all)
          Files.write(Paths.get(a.results, s"$name.spans.jsonl"),
            lines.mkString("", "\n", "\n").getBytes(UTF_8))
        }
        println(Json.write(report.get("summary")))
      }
    } finally spark.stop()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Set-up seconds: whole (process start to ready), and its two parts. */
final case class Setup(totalS: Double, sessionS: Double, configS: Double)
