package perfbench

/** Checks of the open-loop schedule and its due-time stamping, run by
  * `perfbench/test_perfbench.py`. Exits non-zero on the first failure. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val s = Schedule(seed = 7, rate = 1000, frames = 20000)
    val plan = s.plan

    // due time of slot k is start + k / rate, exactly
    check(s.dueNs(5L, 0) == 5L && s.dueNs(5L, 1000) == 1000000005L &&
      s.dueNs(0L, 3) == 3000000L, "dueNs is start + slot / rate")

    // send order: by send slot; a delayed frame goes out 1..maxDelay
    // slots after capture, an on-time frame in its capture slot
    check(plan.map(_.sendSlot) == plan.map(_.sendSlot).sorted, "plan is in send order")
    val delays = plan.map(f => f.sendSlot - f.captureSlot)
    check(delays.forall(d => d >= 0 && d <= Schedule.MaxDelaySlots), "delays within bounds")
    val share = delays.count(_ > 0).toDouble / plan.size
    check(math.abs(share - Schedule.OutOfOrder) < 0.005, s"out-of-order share $share")
    check(plan.map(_.captureSlot).sorted == (0L until s.frames.toLong), "every slot captured once")

    // per camera, frame numbers follow capture order
    plan.groupBy(_.camera).values.foreach { fs =>
      val byCapture = fs.sortBy(_.captureSlot).map(_.frameNum)
      check(byCapture == (1L to fs.size.toLong), "per-camera frame numbers")
    }
    check(plan.map(_.key).distinct.size == plan.size, "keys are unique")

    // the generator releases exactly the frames whose send slot is due;
    // a generator that wakes late releases every overdue frame at once,
    // and each keeps the due time of its slot, not the late send time
    val start = 1000000000L
    val at0 = s.dueUntil(0, plan.size, start, start)
    check(at0 == plan.count(_.sendSlot == 0), "only slot 0 is due at start")
    val late = s.dueUntil(0, plan.size, start, start + 50000000L) // 50 ms late
    check(late == plan.count(_.sendSlot <= 50), "a late wake-up releases slots 0..50")
    check(plan.take(late).forall(f => s.dueNs(start, f.sendSlot) <= start + 50000000L),
      "released frames were due")
    check(s.dueNs(start, plan(late - 1).sendSlot) == start + 50000000L,
      "the last released frame keeps its own slot's due time")
    check(s.dueUntil(late, plan.size, start, start + 50000000L) == late, "nothing more is due")

    // the same seed gives the same frames; another seed other payloads
    check(Schedule(seed = 7, rate = 1000, frames = 20000).plan == plan, "seeded plan repeats")
    val other = Schedule(seed = 8, rate = 1000, frames = 20000)
    val fresh = plan.find(_.known < 0).get
    check(Schedule(seed = 7, rate = 1000, frames = 20000).payload(fresh).sameElements(s.payload(fresh)),
      "payloads repeat")
    check(!other.payload(fresh).sameElements(s.payload(fresh)), "another seed changes payloads")
    check(s.payload(fresh).length == Schedule.PayloadBytes, "payload is one frame")

    // the wire message carries the capture time and the payload
    val wire = s.wire(plan.head, 12.5)
    check(wire.contains("\"timestamp\":12.5") &&
      wire.contains(java.util.Base64.getEncoder.encodeToString(s.payload(plan.head))),
      "wire JSON carries capture time and payload")
    println("selftest ok")
  }
}
