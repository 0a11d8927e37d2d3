package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main, checks the outputs and reports the metrics.
  *
  * Arguments (all required):
  *   --workload batch|stream|setup  --data DIR  --out DIR  --seed N
  *   --seconds S  --trace 0|1  --cores C
  *   --queries q1,q2,...      (batch only)
  *   --rate FPS               (stream only)
  *
  * Writes `result.json` (raw samples, counters and host state) into
  * `--out`; the batch loop also writes one parquet dump per query
  * (the output its oracle check compares) and `oracle_sql.json`.
  * `--workload setup` needs only --data, --out and --cores: it sets up
  * once and records its time. */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def trace: Boolean = apply("trace") == "1"
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"expected --key value pairs, got ${args.mkString(" ")}")
    Args(args.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val out = new File(args("out"))
    out.mkdirs()
    val cores = args.int("cores")
    // set-up = session start, the engine's expression registration and
    // graft.Bench's warm-up jobs, in a fresh JVM: cold, as a user pays it
    val t0Setup = System.nanoTime()
    val spark = session(cores, out)
    registerEngine(spark)
    warmUp(spark, args("data"))
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    if (args("workload") == "setup") {
      write(new File(out, "result.json"), Map("setup_s" -> setupS))
      spark.stop()
      return
    }
    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load1" -> load1(),
      "calib_s" -> calib(spark))
    val t0 = System.nanoTime()
    val body = args("workload") match {
      case "batch" => BatchLoop.run(spark, args, out)
      case "stream" => StreamLoop.run(spark, args, out)
      case w => throw new IllegalArgumentException(s"unknown workload kind $w")
    }
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    write(new File(out, "result.json"),
      body ++ Map("setup_s" -> setupS, "host" -> host, "cores" -> cores,
        "workload_s" -> (System.nanoTime() - t0) / 1e9, "jvm_up_s" -> jvmUpS))
    spark.stop()
  }

  /** graft.Bench's session settings; scratch space stays under `out`. */
  def session(cores: Int, out: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()

  /** The native expressions and optimizer rules the operators register
    * on first use. */
  def registerEngine(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.VectorExpressions.register(spark)
    graft.plans.TextExpressions.register(spark)
    graft.plans.ModelExpressions.register(spark)
  }

  /** graft.Bench's global warm-up: scan, shuffle and codegen once. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.region(spark, data).groupBy("r_name").count().collect()
  }

  /** graft.Bench's host-speed reference job (hash 200M longs on all
    * cores), run once to warm up and timed the second time, as
    * graft.Bench does. Recorded, never used to scale a metric. */
  def calib(spark: SparkSession): Double = {
    def job() = spark.range(200000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    job()
    val t0 = System.nanoTime()
    job()
    (System.nanoTime() - t0) / 1e9
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(f: File, v: Any): Unit = mapper.writeValue(f, v)
}
