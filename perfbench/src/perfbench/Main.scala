package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workdir>`
  *
  * Runs one workload in this JVM and writes `result.json` (and, traced,
  * `trace.json`) into `workdir`. `run.py` builds the classpath, starts
  * this and prints the final line.
  */
object Main {
  /** Spark task threads: three of the host's four cores. The fourth is
    * left to Spark's driver-side micro-batch loop, the JIT and the tail file
    * mover, so those do not queue behind the tasks. */
  val Cores = 3

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * Cores).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)

    val shape = Shapes.byName(workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $workload"))
    require(seconds * 1000 / Shapes.TickMs % 4 == 0,
      s"--seconds must make a multiple of 4 ticks of ${Shapes.TickMs} ms")
    val spark = session(work)
    val metrics = if (traced) {
      val m = new SparkMetrics
      spark.sparkContext.addSparkListener(m)
      Some(m)
    } else None
    val tracer = new Tracer(traced, spark.sparkContext)

    val result = new Consume(spark, shape, seed, seconds, work, tracer, metrics).run()

    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.num(v) })
    Files.writeString(work.resolve("result.json"), Json.obj(Seq(
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "e2e" -> nums(result.e2e),
      "layers" -> nums(result.layers),
      "info" -> nums(result.info))) + "\n")
    metrics.foreach { m =>
      val spans = tracer.allSpans(m)
      val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
      Files.writeString(work.resolve("trace.json"), Json.obj(Seq(
        "self_time_s" -> nums(Tracer.selfTimes(spans)),
        "spans" -> Json.arr(spans.sortBy(_.start).map(s => Json.obj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
          "start_ms" -> Json.num((s.start - t0) / 1e6),
          "dur_ms" -> Json.num((s.end - s.start) / 1e6)))))) ) + "\n")
    }
    spark.stop()
  }
}
