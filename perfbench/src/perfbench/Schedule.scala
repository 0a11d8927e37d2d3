package perfbench

import java.util.{Base64, SplittableRandom}

/** The open-loop generator's seeded frame plan.
  *
  * Frames are captured one per slot at `rate` slots per second. Each
  * belongs to one of [[Schedule.Cameras]] cameras, drawn uniformly, and
  * carries that camera's next frame number. A seeded
  * [[Schedule.OutOfOrder]] share is sent `1..MaxDelaySlots` slots after
  * its capture slot, so it reaches the pipeline after frames captured
  * later. A seeded [[Schedule.KnownShare]] repeats one of
  * [[Schedule.Known]] payloads, the faces the target set holds; every
  * other payload is fresh random bytes. Payloads are made on demand
  * from the seed and the slot, so a run never holds them all. */
final case class Schedule(seed: Long, rate: Int, frames: Int) {
  import Schedule._

  /** The payloads the target set is built from. */
  lazy val knownPayloads: IndexedSeq[Array[Byte]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    IndexedSeq.fill(Known)(bytes(r, PayloadBytes))
  }

  /** Every frame of the run, in send order (send slot, then capture slot). */
  lazy val plan: IndexedSeq[Frame] = {
    val r = new SplittableRandom(seed)
    val next = Array.fill(Cameras)(0L)
    (0 until frames).map { i =>
      val camera = r.nextInt(Cameras)
      next(camera) += 1
      val known = if (r.nextDouble() < KnownShare) r.nextInt(Known) else -1
      val delay = if (r.nextDouble() < OutOfOrder) 1 + r.nextInt(MaxDelaySlots) else 0
      Frame(camera, next(camera), i, i + delay, known)
    }.sortBy(f => (f.sendSlot, f.captureSlot))
  }

  /** The frame's payload: a known face, or bytes seeded by the slot. */
  def payload(f: Frame): Array[Byte] =
    if (f.known >= 0) knownPayloads(f.known)
    else bytes(new SplittableRandom(seed * 0x9E3779B97F4A7C15L + f.captureSlot), PayloadBytes)

  /** The `FrameMessages` wire JSON; `timestamp` is the capture time. */
  def wire(f: Frame, captureEpochS: Double): String =
    s"""{"timestamp":$captureEpochS,"camera":${f.camera},"frame_num":${f.frameNum},""" +
      s""""frame_b64":"${Base64.getEncoder.encodeToString(payload(f))}","dtype":"uint8",""" +
      s""""shape":[$FrameHeight,$FrameWidth,$Channels]}"""

  /** When slot `slot` is due, on the generator's nanosecond clock. A
    * frame's latency counts from here, however late it is sent. */
  def dueNs(startNs: Long, slot: Long): Long = startNs + slot * 1000000000L / rate

  /** The end of the run of frames from `from` (in send order, before
    * `until`) that are due at `nowNs`. */
  def dueUntil(from: Int, until: Int, startNs: Long, nowNs: Long): Int = {
    var j = from
    while (j < until && dueNs(startNs, plan(j).sendSlot) <= nowNs) j += 1
    j
  }
}

/** The frame parameters. perfbench/README.md gives the source of each. */
object Schedule {
  val Cameras = 6
  val FrameWidth = 400
  val FrameHeight = 225
  val Channels = 3
  val PayloadBytes: Int = FrameWidth * FrameHeight * Channels
  val OutOfOrder = 0.02
  val MaxDelaySlots = 160
  val KnownShare = 0.1
  val Known = 16

  /** `known` is the index of a known payload, or -1 for a fresh one. */
  final case class Frame(camera: Int, frameNum: Long, captureSlot: Long, sendSlot: Long,
      known: Int) {
    def key: String = s"${camera}_$frameNum"
  }

  def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }
}
