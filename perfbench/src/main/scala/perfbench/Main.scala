package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --confirm 0|1 --work DIR --out FILE
  *
  * Runs workload W single-client and closed-loop, and writes the raw
  * spans, workload outputs and (traced) Spark records to FILE as JSON.
  * `run.py` turns that file into metrics and checks the outputs.
  *
  * Seeds select one of `instances` input instances (seed mod instances),
  * so that every seed has committed expected outputs. `--confirm 1`
  * makes graph_fold check its edges against a full rebuild even after a
  * single measured cycle; run.py sets it when recording a golden. */
object Main {
  val instances = 16

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = Files.createDirectories(Paths.get(opt("work")))
    val rec = new Recorder
    val instance = Math.floorMod(opt("seed").toLong, instances.toLong)
    val c = new Ctx(instance, opt("seconds").toDouble, opt("trace") == "1", work, rec)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = if (workload == "limeqo_loop") None else Some(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .withExtensions(new graft.catalyst.GraftExtensions)
        .getOrCreate())
    spark.foreach(_.sparkContext.setLogLevel("WARN"))
    val startS = (System.nanoTime() - t0) / 1e9
    val probe = if (c.traced) spark.map(new SparkProbe(_, rec.overheadNs)) else None
    val outputs: Map[String, Any] = (workload, spark) match {
      case ("limeqo_loop", _) => LimeQoLoop.run(c)
      case ("graph_fold", Some(s)) => GraphFold.run(c, s, opt.get("confirm").contains("1"))
      case (other, _) => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sparkRecords = probe.map(_.finish()).getOrElse(Map.empty)
    val result = Map(
      "workload" -> workload, "seed" -> opt("seed").toLong, "instance" -> instance,
      "cores" -> cores, "jvm_start_s" -> jvmStartS, "session_start_s" -> startS,
      // JVM start to the start of the measured phase
      "setup_s" -> (jvmStartS + (c.measureStartNs - t0) / 1e9),
      "spans" -> rec.spans.map(_.toMap).toSeq,
      "outputs" -> outputs, "spark" -> sparkRecords,
      "trace_overhead_s" -> rec.overheadNs.get / 1e9,
      "peak_rss_kb" -> peakRssKb(),
      "host" -> host(spark.map(_.version)))
    Files.writeString(Paths.get(opt("out")), Json.render(result))
    spark.foreach(_.stop())
  }

  /** VmHWM: the process's peak resident set. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def host(sparkVersion: Option[String]): Map[String, Any] = {
    def blas(cls: String): String =
      try Class.forName(cls).getMethod("getInstance").invoke(null).getClass.getName
      catch { case e: Throwable => s"unavailable (${e.getClass.getSimpleName})" }
    Map("java" -> System.getProperty("java.version"),
      "spark" -> sparkVersion.getOrElse(org.apache.spark.SPARK_VERSION),
      "blas" -> blas("dev.ludovic.netlib.blas.BLAS"),
      "lapack" -> blas("dev.ludovic.netlib.lapack.LAPACK"))
  }
}
