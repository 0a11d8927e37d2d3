package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{FrameEvent, FrameMessages, ReorderBuffer, SauronPipeline}

/** Open loop through the paper's topology.
  *
  * One generator thread sends `FrameMessages` wire JSON into a
  * MemoryStream on the [[Schedule]], whether or not the pipeline keeps
  * up. The predictor runs `fromWire -> SauronPipeline.process` under the
  * default trigger; its sink collects each micro-batch, stamps every
  * frame's emission time and forwards the predictions into a second
  * MemoryStream, which `ReorderBuffer.reorder` consumes as the display
  * path. Latency is emission time minus the time the frame was due at
  * the generator. The first [[WarmUpS]] seconds of frames warm the
  * pipeline up and are checked but not timed. After the measured
  * window, [[Bursts]] bursts of [[BurstS]] seconds of frames each are
  * sent at once; the predictor's throughput is the burst's frames over
  * the time from send to the last emission. */
object StreamLoop {
  val WarmUpS = 2
  val Bursts = 3
  val BurstS = 4
  val Tolerance = 0.6
  // 6 s of one camera's frames at 5 frames/s, the span of the reference's
  // 180-frame reorder buffer at its 30 frames/s display rate; the drain
  // at the threshold keeps a buffer below it, so the cap is equal
  val EmitThreshold = 30
  val MaxBuffer = 30
  // frames per batch of the batch reference run
  val CheckChunk = 256

  final case class Emit(key: String, camera: Int, frameNum: Long, emitNs: Long,
      prediction: String, latencyCol: Double)

  def run(spark: SparkSession, args: Main.Args, out: File): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rate = args.int("rate")
    val seconds = args.int("seconds")
    val sched = Schedule(args("seed").toLong, rate, rate * (WarmUpS + seconds + Bursts * BurstS))
    val plan = sched.plan
    val trace = if (args.trace) Some(new Trace(spark)) else None

    // the target set: the faces the stub model finds in the known payloads
    val targets = SauronPipeline.detectStage(
      sched.knownPayloads.zipWithIndex.map { case (p, i) => (i, p) }.toDF("t_id", "frame"))
      .select(col("t_id"), explode(col("faces")).as("f"))
      .select(col("t_id"), concat(lit("person_"), col("t_id")).as("t_name"),
        col("f.enc").as("t_enc"))
      .localCheckpoint()

    // one partition per core, as a topic with that many partitions
    // would give; by default every addData call becomes its own task
    val input = MemoryStream[String](spark.sparkContext.defaultParallelism)
    val display = MemoryStream[FrameEvent]
    val emits = new ConcurrentLinkedQueue[Emit]()
    val emitted = new AtomicLong(0)
    val collects = new ConcurrentLinkedQueue[(Long, Double, Double)]() // batch, start ms, ms
    val shown = new ConcurrentLinkedQueue[(Int, Long)]()
    val ckpt = new File(out, "checkpoints").getAbsolutePath

    val predictor = SauronPipeline.process(FrameMessages.fromWire(input.toDF()), targets, Tolerance)
      .select("key", "camera", "frame_num", "prediction", "latency_s")
      .writeStream
      .option("checkpointLocation", s"$ckpt/predict")
      .foreachBatch { (df: DataFrame, batch: Long) =>
        val c0 = System.nanoTime()
        val startMs = trace.fold(0.0)(_.nowMs)
        val rows = df.collect()
        val emitNs = System.nanoTime()
        collects.add((batch, startMs, (emitNs - c0) / 1e6))
        val es = rows.map(r => Emit(r.getString(0), r.getInt(1), r.getLong(2), emitNs,
          r.getString(3), r.getDouble(4)))
        es.foreach(emits.add)
        emitted.addAndGet(es.length)
        if (es.nonEmpty)
          display.addData(es.map(e => FrameEvent(e.camera, e.frameNum, emitNs / 1000000L,
            String.valueOf(e.prediction))).toSeq)
        ()
      }
      .start()
    val shower = ReorderBuffer.reorder(display.toDS(), EmitThreshold, MaxBuffer)
      .writeStream
      .option("checkpointLocation", s"$ckpt/display")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[FrameEvent], _: Long) =>
        ds.select("camera", "frameNum").collect().foreach(r => shown.add((r.getInt(0), r.getLong(1))))
        ()
      }
      .start()

    // The generator sends every frame whose send slot is due, then parks.
    // It runs the warm-up frames, waits until both queries have drained
    // them, then runs the measured frames on a fresh clock, so a backlog
    // built while the JVM warms up never reaches the measured window.
    val measuredFrom = WarmUpS.toLong * rate
    val burstFrom = (WarmUpS + seconds).toLong * rate
    val split = plan.indexWhere(_.sendSlot >= measuredFrom)
    val burstSplit = plan.indexWhere(_.sendSlot >= burstFrom)
    val dueNs = new Array[Long](plan.size)
    val sentNs = new Array[Long](plan.size)
    val captureS = new Array[Double](plan.size)
    val backlog = new ConcurrentLinkedQueue[Long]()
    def generator(from: Int, until: Int, startNs: Long): Thread = new Thread(() => {
      val epochStartS = (System.currentTimeMillis() * 1000000L + (startNs - System.nanoTime())) / 1e9
      var k = from
      var nextSample = startNs
      while (k < until) {
        val now = System.nanoTime()
        val j = sched.dueUntil(k, until, startNs, now)
        if (j > k) {
          val wires = (k until j).map { i =>
            dueNs(i) = sched.dueNs(startNs, plan(i).sendSlot)
            captureS(i) = epochStartS + plan(i).captureSlot.toDouble / rate
            sched.wire(plan(i), captureS(i))
          }
          input.addData(wires)
          val t = System.nanoTime()
          (k until j).foreach(sentNs(_) = t)
          k = j
        }
        if (now >= nextSample) {
          backlog.add(k - emitted.get())
          nextSample = now + 100000000L
        }
        if (k < until) LockSupport.parkNanos(
          math.max(0L, math.min(sched.dueNs(startNs, plan(k).sendSlot), nextSample) - System.nanoTime()))
      }
    }, "perfbench-generator")
    val progress = scala.collection.mutable.LinkedHashMap.empty[(String, Long), StreamingQueryProgress]
    def poll(q: StreamingQuery, tag: String): Unit =
      q.recentProgress.foreach(p => progress.getOrElseUpdate((tag, p.batchId), p))
    def drain(): Unit = {
      predictor.processAllAvailable()
      shower.processAllAvailable()
      poll(predictor, "predict"); poll(shower, "display")
    }
    def drive(g: Thread): Unit = {
      g.start()
      while (g.isAlive) {
        poll(predictor, "predict"); poll(shower, "display")
        Thread.sleep(200)
      }
      drain()
    }
    drive(generator(0, split, System.nanoTime() + 100000000L))
    backlog.clear()
    val windowStartMs = System.currentTimeMillis() + 100.0
    val measuredStartNs = System.nanoTime() + 100000000L - measuredFrom * 1000000000L / rate
    drive(generator(split, burstSplit, measuredStartNs))
    val windowEndMs = System.currentTimeMillis().toDouble
    val windowWallS = (System.nanoTime() - sched.dueNs(measuredStartNs, measuredFrom)) / 1e9

    // Bursts: each sends its frames in one call once the pipeline is
    // idle, and lasts until the last of them is emitted.
    val burstSize = (plan.size - burstSplit) / Bursts
    val bursts = (0 until Bursts).map { b =>
      val (from, until) = (burstSplit + b * burstSize,
        if (b == Bursts - 1) plan.size else burstSplit + (b + 1) * burstSize)
      val epochS = System.currentTimeMillis() / 1e3
      val wires = (from until until).map { i => captureS(i) = epochS; sched.wire(plan(i), epochS) }
      val t0 = System.nanoTime()
      (from until until).foreach { i => dueNs(i) = t0; sentNs(i) = t0 }
      input.addData(wires)
      drain()
      (from, until, t0)
    }
    val predictorId = predictor.id.toString
    predictor.stop(); shower.stop()
    Option(predictor.exception.orNull).orElse(shower.exception).foreach(e => throw e)

    // ---- checks
    val planByKey = plan.zipWithIndex.map { case (f, i) => f.key -> i }.toMap
    val emitList = emits.asScala.toSeq
    val emitCount = emitList.groupBy(_.key).map { case (k, v) => k -> v.size }
    // batch SauronPipeline.process on the same wire messages, remade
    // from the seed a chunk at a time
    val reference = plan.indices.grouped(CheckChunk).flatMap { is =>
      SauronPipeline.process(FrameMessages.fromWire(
          is.map(i => sched.wire(plan(i), captureS(i))).toDF("value")), targets, Tolerance)
        .select("key", "prediction").collect()
        .map(r => r.getString(0) -> Option(r.getString(1)))
    }.toMap
    val firstEmit = emitList.groupBy(_.key).map { case (k, v) => k -> v.head }
    // per frame sent after the warm-up: seconds from due to emission, or a failure
    val frames = (split until plan.size).map { i =>
      val f = plan(i)
      val due = dueNs(i)
      firstEmit.get(f.key) match {
        case Some(e) if emitCount(f.key) == 1 && reference.get(f.key).contains(Option(e.prediction)) =>
          Right((e.emitNs - due) / 1e9)
        case Some(_) => Left("wrong")
        case None => Left("missing")
      }
    }
    val window = frames.take(burstSplit - split)
    val burstS = bursts.map { case (from, until, t0) =>
      val fs = frames.slice(from - split, until - split)
      if (fs.forall(_.isRight)) (until - from) / (fs.map(_.toOption.get).max) else 0.0
    }
    val unknownEmits = emitList.count(e => !planByKey.contains(e.key))
    val shownCheck = displayCheck(spark, s"$ckpt/display", emitList, shown.asScala.toSeq)

    // ---- batches of the measured window
    def inWindow(p: StreamingQueryProgress) = {
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= windowStartMs && t < windowEndMs
    }
    val predBatches = progress.collect { case (("predict", _), p) if p.numInputRows > 0 && inWindow(p) => p }.toSeq
    val dispBatches = progress.collect { case (("display", _), p) if p.numInputRows > 0 && inWindow(p) => p }.toSeq
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val busyMs = predBatches.map(d(_, "triggerExecution")).sum
    val lateMs = (split until burstSplit).map(i => (sentNs(i) - dueNs(i)) / 1e6)
    val latencyCol = emitList.filter(e => planByKey.get(e.key)
      .exists(i => i >= split && i < burstSplit)).map(_.latencyCol)
    val backlogMax = (0L +: backlog.asScala.toSeq).max

    val layers = trace.map { t =>
      StreamLayers.record(t, predBatches, collects.asScala.toSeq)
      val frozen = t.settle()
      val predJobs = frozen.jobs.filter(_.streamQuery.contains(predictorId))
      val jobsPerBatch = predJobs.groupBy(_.batch).values.map(_.size.toDouble).toSeq
      Main.write(new File(out, "spans.json"), frozen.allSpans)
      val last = dispBatches.lastOption.flatMap(_.stateOperators.headOption)
      Map(
        "streaming.jobs_per_batch" -> median(jobsPerBatch),
        "streaming.trigger_ms" -> median(predBatches.map(d(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> median(predBatches.map(d(_, "addBatch"))),
        "streaming.planning_ms" -> median(predBatches.map(d(_, "queryPlanning"))),
        "streaming.wal_ms" -> median(predBatches.map(d(_, "walCommit"))),
        "streaming.frames_per_batch" -> median(predBatches.map(_.numInputRows.toDouble)),
        "streaming.busy_frac" -> busyMs / 1e3 / windowWallS,
        "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mb" -> last.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
        "streaming.state_commit_ms" -> median(dispBatches.flatMap(_.stateOperators.headOption)
          .map(_.commitTimeMs.toDouble)),
        "streaming.late_dropped" -> shownCheck("dropped_late").asInstanceOf[Long].toDouble,
        "streaming.display_trigger_ms" -> median(dispBatches.map(d(_, "triggerExecution"))),
        "streaming.latency_col_s" -> median(latencyCol),
        "source.late_ms" -> quantile(lateMs, 0.99),
        "source.backlog_frames" -> backlogMax.toDouble,
        "sink.collect_ms" -> median(collects.asScala.toSeq.map(_._3)))
    }
    Map(
      "stream" -> Map(
        "latency_s" -> window.map(_.fold(_ => Double.PositiveInfinity, identity)),
        "burst_frames_per_s" -> burstS,
        "burst_frames" -> (plan.size - burstSplit),
        "failures" -> frames.collect { case Left(w) => w }.groupBy(identity).map { case (k, v) => k -> v.size },
        "unknown_emits" -> unknownEmits,
        "latency_col_s" -> latencyCol,
        "batches" -> predBatches.size,
        "backlog_max" -> backlogMax,
        "display" -> shownCheck)) ++ layers.map("layers" -> _)
  }

  /** The display path's invariants: output strictly increasing per
    * camera; emitted + buffered + dropped-late equals forwarded.
    * `buffered` is read back from the reorder buffer's state store. */
  def displayCheck(spark: SparkSession, ckpt: String, forwarded: Seq[Emit],
      shown: Seq[(Int, Long)]): Map[String, Any] = {
    val disorder = shown.groupBy(_._1).values.map { s =>
      s.map(_._2).sliding(2).count { case Seq(a, b) => b <= a; case _ => false }
    }.sum
    val raw = spark.read.format("statestore").load(ckpt)
    // state format 2 nests the user state under `groupState`
    val st = if (raw.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("groupState")) col("value.groupState") else col("value")
    val state = raw.select(col("key").getField("value").as("camera"),
        st.getField("nextFrame").as("hw"), st.getField("buffered").as("buf"))
      .collect()
    val buffered = state.map(r => r.getSeq[Row](2).size.toLong).sum
    val hw = state.map(r => r.get(0).asInstanceOf[Int] -> r.getLong(1)).toMap
    val shownSet = shown.toSet
    val bufferedSet = state.flatMap(r => r.getSeq[Row](2).map(b => (r.get(0).asInstanceOf[Int], b.getAs[Long]("frameNum")))).toSet
    val dropped = forwarded.filter(e => !shownSet((e.camera, e.frameNum)) && !bufferedSet((e.camera, e.frameNum)))
    // a dropped frame must be one the high-water mark had passed
    val wrongDrops = dropped.count(e => e.frameNum > hw.getOrElse(e.camera, Long.MinValue))
    Map(
      "forwarded" -> forwarded.size.toLong, "emitted" -> shown.size.toLong,
      "buffered" -> buffered, "dropped_late" -> dropped.size.toLong,
      "disorder" -> disorder.toLong, "wrong_drops" -> wrongDrops.toLong,
      "balanced" -> (shown.size + buffered + dropped.size == forwarded.size && shown.size == shownSet.size))
  }

  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(v: Seq[Double], q: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}

/** Micro-batch spans of a traced stream run: one span per batch with its
  * `durationMs` phases laid end to end (progress reports durations, not
  * start times) and the sink's collect. */
object StreamLayers {
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def record(t: Trace, batches: Seq[StreamingQueryProgress],
      collects: Seq[(Long, Double, Double)]): Unit = {
    val collectOf = collects.map(c => c._1 -> c).toMap
    batches.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val id = t.record("microbatch", 0, start, start + total)
      var at = start
      Phases.flatMap(ph => Option(p.durationMs.get(ph)).map(_.doubleValue)).zip(Phases).foreach {
        case (ms, ph) => t.record(s"batch.$ph", id, at, at + ms); at += ms
      }
      collectOf.get(p.batchId).foreach { case (_, s, ms) => t.record("sink.collect", id, s, s + ms) }
    }
  }
}
