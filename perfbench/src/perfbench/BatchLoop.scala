package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed loop over registered queries: one query thread, one query at
  * a time, a blocking unpin between queries (graft.Bench's method).
  *
  * A check pass runs every query once untimed: it warms the query up,
  * writes its output for the oracle check and takes its fingerprint.
  * Timed passes follow until `--seconds` have passed; each runs every
  * query in a seeded order, times build plus noop-sink write, and
  * compares the written output's fingerprint with the check pass's. */
object BatchLoop {

  final case class Fingerprint(rows: Long, lo: Long, hi: Long)

  /** Row count plus an order-independent hash over all columns, taken
    * as the query is written, so no extra job runs. */
  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    // xxhash64 refuses maps; their JSON form is deterministic
    val cols: Seq[Column] = df.schema.fields.toSeq.zip(df.columns).map { case (f, n) =>
      if (hasMap(f.dataType)) to_json(df.col(n)) else df.col(n)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def fingerprint(obs: Observation): Fingerprint = {
    val m = obs.get
    def l(k: String): Long = m.get(k).collect { case v: Long => v }.getOrElse(0L)
    Fingerprint(l("n"), l("lo"), l("hi"))
  }

  /** graft.Bench's blocking release of every block a query pinned. */
  def unpin(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = true) catch { case _: Exception => () }
    }
    spark.catalog.clearCache()
    graft.queries.AuditCache.clear()
  }

  /** Bytes held by pinned blocks, memory plus disk. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)

  def run(spark: SparkSession, args: Main.Args, out: File): Map[String, Any] = {
    val data = args("data")
    val seed = args("seed").toLong
    val names = args("queries").split(",").toSeq
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    Main.write(new File(out, "oracle_sql.json"),
      names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    val trace = if (args.trace) Some(new Trace(spark)) else None

    val c0 = System.nanoTime()
    val check = order(names, seed, 0).map { n =>
      val obs = Observation(s"check_$n")
      val r = try {
        fingerprinted(fns(n)(spark, data), obs).write.mode("overwrite")
          .parquet(new File(out, s"check/$n").getAbsolutePath)
        Right(fingerprint(obs))
      } catch { case e: Exception => Left(String.valueOf(e.getMessage).take(300)) }
      unpin(spark)
      n -> r
    }.toMap
    val checkS = (System.nanoTime() - c0) / 1e9

    final case class Sample(q: String, pass: Int, s: Double, status: String,
        pinnedBytes: Long, pins: Int, unpinS: Double, root: Int)
    // build + plan + noop-sink write; the plan phase is timed on its own
    // only when tracing
    def timed(n: String, obs: Observation, root: Int): (Double, String) = {
      def in[T](name: String)(body: => T): T = trace.fold(body)(_.span(name, root)(_ => body))
      val t0 = System.nanoTime()
      val status = try {
        val fp = fingerprinted(in("build")(fns(n)(spark, data)), obs)
        if (trace.isDefined) in("plan")(fp.queryExecution.executedPlan)
        in("exec")(fp.write.format("noop").mode("overwrite").save())
        if (check(n).toOption.contains(fingerprint(obs))) "ok" else "mismatch"
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
        "crash"
      }
      ((System.nanoTime() - t0) / 1e9, status)
    }
    def one(n: String, pass: Int, root: Int): Sample = {
      val (s, status) = timed(n, Observation(s"q${pass}_$n"), root)
      val pinned = pinnedBytes(spark)
      val pins = spark.sparkContext.getPersistentRDDs.size
      val u0 = System.nanoTime()
      trace.fold(unpin(spark))(_.span("unpin", root)(_ => unpin(spark)))
      Sample(n, pass, s, status, pinned, pins, (System.nanoTime() - u0) / 1e9, root)
    }
    // whole passes, started while less than --seconds have passed
    val samples = Seq.newBuilder[Sample]
    val passTimes = Seq.newBuilder[Double]
    val start = System.nanoTime()
    var pass = 1
    while ((System.nanoTime() - start) / 1e9 < args.int("seconds")) {
      val p0 = System.nanoTime()
      order(names, seed, pass).foreach { n =>
        samples += trace.fold(one(n, pass, 0))(_.span(s"query:$n", 0)(one(n, pass, _)))
      }
      passTimes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val all = samples.result()
    val layers = trace.map(t => BatchLayers(t.settle(),
      all.map(x => BatchLayers.Run(x.root, x.pinnedBytes, x.pins, x.unpinS)),
      spark.sparkContext.defaultParallelism, out))
    Map(
      "check" -> check.map { case (n, r) => n -> r.fold(
        e => Map("error" -> e), fp => Map("rows" -> fp.rows)) },
      "samples" -> all.map(x => Map("q" -> x.q, "pass" -> x.pass, "s" -> x.s,
        "status" -> x.status, "pinned_mb" -> x.pinnedBytes / 1e6)),
      "check_s" -> checkS, "passes_s" -> passTimes.result()) ++ layers.map("layers" -> _)
  }
}

/** Per-layer metrics of a traced batch run: means per timed query
  * execution, except the execution-memory peak. A query's window runs
  * from its build start to its exec end; the unpin is timed apart. */
object BatchLayers {
  final case class Run(root: Int, pinnedBytes: Long, pins: Int, unpinS: Double)

  def apply(t: Trace.Frozen, runs: Seq[Run], cores: Int, out: File): Map[String, Double] = {
    Main.write(new File(out, "spans.json"), t.allSpans)
    val kids = t.spans.groupBy(_.parent)
    val per = runs.map { r =>
      def phase(name: String) = kids.getOrElse(r.root, Nil).find(_.name == name)
      val build = phase("build")
      val phases = Seq("build", "plan", "exec").flatMap(phase)
      val (lo, hi) = (phases.map(_.start).min, phases.map(_.end).max)
      val buildJobs = build.map(b => t.jobsUnder(b.id)).getOrElse(Nil)
      val jobs = phases.flatMap(p => t.jobsUnder(p.id))
      val tasks = t.tasksOf(jobs)
      def span(js: Seq[Trace.Job]) = js.map(j => (j.start.toDouble, j.end.toDouble))
      val busyMs = tasks.map(x => (x.finish - x.launch).toDouble).sum
      Map(
        "tables.input_mb" -> tasks.map(_.inBytes).sum / 1e6,
        "tables.input_rows" -> tasks.map(_.inRows).sum.toDouble,
        "queries.build_s" -> build.map(_.ms / 1e3).getOrElse(0.0),
        "operators.eager_jobs" -> buildJobs.size.toDouble,
        "operators.driver_self_s" -> build.map(b =>
          (b.ms - Trace.covered(span(buildJobs), b.start, b.end)) / 1e3).getOrElse(0.0),
        "operators.driver_result_mb" -> tasks.map(_.resultBytes).sum / 1e6,
        "operators.pins" -> r.pins.toDouble,
        "operators.pinned_mb" -> r.pinnedBytes / 1e6,
        "operators.unpin_s" -> r.unpinS,
        "plans.plan_s" -> phase("plan").map(_.ms / 1e3).getOrElse(0.0),
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> t.stagesOf(jobs).toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.job_gap_s" -> (hi - lo - Trace.covered(span(jobs), lo, hi)) / 1e3,
        "spark.core_idle_frac" -> math.max(0.0, 1.0 - busyMs / (cores * (hi - lo))),
        "spark.task_s" -> tasks.map(_.runMs).sum / 1e3,
        "spark.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "spark.shuffle_write_mb" -> tasks.map(_.shWrite).sum / 1e6,
        "spark.shuffle_read_mb" -> tasks.map(_.shRead).sum / 1e6,
        "spark.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
        "spark.spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "spark.peak_exec_mem_mb" -> (0L +: tasks.map(_.peakMem)).max / 1e6,
        "spark.failed_tasks" -> tasks.count(_.failed).toDouble)
    }
    per.headOption.map(_.keys).getOrElse(Nil).map { k =>
      val v = per.map(_(k))
      k -> (if (k == "spark.peak_exec_mem_mb") v.max else v.sum / v.size)
    }.toMap
  }
}
