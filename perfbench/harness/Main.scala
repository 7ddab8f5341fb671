package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Arguments from `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    out: String, data: String, queries: Seq[String])

/** One benchmark run in one JVM: builds the session the workload
  * prescribes, runs it, and writes the raw record `<out>/raw.json` that
  * `run.py` turns into metrics and checks. */
object Main {
  def main(argv: Array[String]): Unit = {
    Clock.t0Nanos // start the run clock first
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("out"), kv.getOrElse("data", ""), kv.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq)
    if (a.trace) HeapWatch.install()
    val spans = new Spans(a.trace)

    val spark = a.workload match {
      // exactly what `graft.UniqueUsersApp.main` builds: local[*], UTC
      case "flagship_steady" | "flagship_saturate" =>
        SparkSession.builder().master("local[*]").appName("graft-unique-users")
          .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      // `graft.Bench`'s session
      case "library_families" =>
        val cpus = Runtime.getRuntime.availableProcessors.toString
        SparkSession.builder().master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.io.compression.codec", "zstd")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.sparkContext.setLogLevel("ERROR")
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val planning = new PlanningListener
    if (a.trace) spark.listenerManager.register(planning)

    val fields =
      if (a.workload == "library_families") new Library(a, spark, spans, a.queries).run()
      else new Flagship(a, spark, spans).run()
    val heapMb = if (a.trace) HeapWatch.peakMb() else 0.0

    // listener events are delivered asynchronously: wait until the job
    // count stops moving before reading the totals
    var seen = -1
    val settle = System.nanoTime() + 3000000000L
    while (seen != exec.jobCount && System.nanoTime() < settle) { seen = exec.jobCount; Thread.sleep(200) }

    val conf = spark.conf
    def c(k: String) = Json.str(conf.getOption(k).getOrElse("(default)"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val env = Json.obj(Seq(
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "scala_version" -> Json.str(scala.util.Properties.versionNumberString),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "master" -> Json.str(spark.sparkContext.master),
      "state_partitions" -> c("spark.sql.shuffle.partitions"),
      "state_store_provider" -> c("spark.sql.streaming.stateStore.providerClass"),
      "aqe" -> c("spark.sql.adaptive.enabled"),
      "ui" -> c("spark.ui.enabled")))
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "jvm_start_ms" -> Json.num(Clock.fromEpoch(jvmStart)),
      "heap_peak_mb" -> Json.num(heapMb),
      "env" -> env,
      "jobs" -> exec.jobsJson,
      "tasks" -> exec.totalsJson,
      "planning" -> planning.json,
      "spans" -> spans.json) ++ fields)
    Files.writeString(Paths.get(s"${a.out}/raw.json"), record)
    // Spark's shutdown deletes its local dirs file by file, which takes
    // seconds once the kernel has written them back; all it would clean up
    // lies inside this run's directory, so end the JVM here
    Runtime.getRuntime.halt(0)
  }
}
