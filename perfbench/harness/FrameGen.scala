package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable

/** One Kafka record in the connector's wire shape
  * (`graft.streaming.KafkaTransport.wireSchema`). */
final case class Wire(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

/** Seeded log-frame generator for the flagship workloads.
  *
  * It keeps, for every one-minute window, the exact number of distinct
  * uids a correct pipeline must emit, so the output check does not depend
  * on where micro-batch boundaries fall:
  *  - malformed frames (the four FIXTURES.md §1 kinds: non-JSON, missing
  *    uid, empty uid, non-numeric ts) are never counted;
  *  - a late frame reuses a uid already counted in its window, so the
  *    count is the same whether the watermark drops it or dedup does;
  *  - `sentinel` emits one frame far enough ahead to close every window.
  *
  * It also records, per window, the due time of the first valid frame
  * that made the window closable (ts >= window end + watermark).
  *
  * @param zipfPool   0 for a fresh uid per frame (high cardinality), else
  *                   the size of the Zipf-distributed uid pool
  * @param dupShare   share of frames repeating the previous uid of the window
  */
final class FrameGen(seed: Long, malformedShare: Double, lateShare: Double,
    zipfPool: Int, dupShare: Double) {
  val E0: Long = 1468244340L // first golden window of the reference (FIXTURES.md §2)
  val Watermark = 60L
  private val rnd = new java.util.SplittableRandom(seed)
  private val salt = mix(seed * 0x9E3779B97F4A7C15L + 1)

  private val zipfCdf: Array[Double] = if (zipfPool <= 0) Array.empty else {
    val w = Array.tabulate(zipfPool)(r => 1.0 / math.pow(r + 1, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** window start -> distinct uids counted (ordered, for late-frame reuse) */
  private val windows = mutable.HashMap.empty[Long, (mutable.HashSet[String], mutable.ArrayBuffer[String])]
  /** window start -> count, when uids are fresh per frame */
  private val counts = mutable.HashMap.empty[Long, Long]
  private val lastUid = mutable.HashMap.empty[Long, String]
  val closable = mutable.LinkedHashMap.empty[Long, Double]
  private var nextClosable = Long.MinValue
  val malformed: Array[Long] = Array.fill(4)(0L)
  var late = 0L
  var frames = 0L
  var offset = 0L
  var sentinelWindow: Long = Long.MinValue

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def hex(x: Long, tail: Int): String =
    f"$x%016x${tail & 0xfff}%03x"
  private def windowOf(ts: Long): Long = Math.floorDiv(ts, 60L) * 60L

  private def count(w: Long, uid: String): Unit =
    if (zipfPool <= 0) {
      if (!lastUid.get(w).contains(uid)) counts(w) = counts.getOrElse(w, 0L) + 1
      lastUid(w) = uid
    } else {
      val (set, order) = windows.getOrElseUpdate(w, (mutable.HashSet.empty, mutable.ArrayBuffer.empty))
      if (set.add(uid)) order += uid
    }

  private def advance(ts: Long, dueMs: Double): Unit = {
    if (nextClosable == Long.MinValue) nextClosable = windowOf(ts)
    while (nextClosable + 60 + Watermark <= ts) {
      closable(nextClosable) = dueMs
      nextClosable += 60
    }
  }

  private def json(ts: String, uid: String): Array[Byte] =
    (if (uid == null) s"""{"ts":$ts,"ref":"web"}""" else s"""{"ts":$ts,"uid":"$uid","ref":"web"}""").getBytes(UTF_8)

  private def wire(ts: Long, value: Array[Byte], wallEpochMs: Long): Wire = {
    offset += 1
    frames += 1
    Wire((60 * Math.floorDiv(ts, 60L)).toString.getBytes(UTF_8), value, "log-frames", 0,
      offset, new Timestamp(wallEpochMs), 0)
  }

  /** The next frame at event time `ts`, offered at `dueMs` on the run clock. */
  def next(ts: Long, dueMs: Double, wallEpochMs: Long): Wire = {
    val r = rnd.nextDouble()
    if (r < malformedShare) malformedFrame(ts, wallEpochMs)
    else if (r < malformedShare + lateShare) lateFrame(ts, wallEpochMs).getOrElse(validFrame(ts, dueMs, wallEpochMs))
    else validFrame(ts, dueMs, wallEpochMs)
  }

  private def malformedFrame(ts: Long, wallEpochMs: Long): Wire = {
    val kind = rnd.nextInt(4)
    malformed(kind) += 1
    val uid = hex(mix(salt ^ frames), 0)
    val value = kind match {
      case 0 => s"ts=$ts uid=$uid".getBytes(UTF_8)
      case 1 => json(ts.toString, null)
      case 2 => json(ts.toString, "")
      case _ => json("\"" + ts + "-x\"", uid)
    }
    wire(ts, value, wallEpochMs)
  }

  /** A frame for an earlier window, up to two hours of event time back,
    * reusing a uid already counted there: some land behind the watermark
    * (dropped), some within it (deduplicated). Only the Zipf pool keeps the
    * per-window uid lists this needs. */
  private def lateFrame(ts: Long, wallEpochMs: Long): Option[Wire] = {
    val w = windowOf(ts) - 60L * (1 + rnd.nextInt(120))
    windows.get(w).map(_._2).filter(_.nonEmpty).map { uids =>
      late += 1
      val lateTs = w + rnd.nextInt(60)
      wire(lateTs, json(lateTs.toString, uids(rnd.nextInt(uids.size))), wallEpochMs)
    }
  }

  private def validFrame(ts: Long, dueMs: Double, wallEpochMs: Long): Wire = {
    val uid =
      if (zipfPool > 0) {
        val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
        val rank = if (i >= 0) i else math.min(-i - 1, zipfPool - 1)
        hex(mix(salt + rank), rank)
      } else if (rnd.nextDouble() < dupShare && lastUid.contains(windowOf(ts))) lastUid(windowOf(ts))
      else hex(mix(salt ^ frames), 1)
    count(windowOf(ts), uid)
    advance(ts, dueMs)
    wire(ts, json(ts.toString, uid), wallEpochMs)
  }

  private var tick = 0L
  private var idx = 0L

  /** Steady shape: the next `perTick` frames of one generator tick, on an
    * event clock running `speed` event seconds per wall second. */
  def tickFrames(perTick: Int, tickMs: Int, speed: Double, dueMs: Double, wallEpochMs: Long): Seq[Wire] = {
    val frames = (0 until perTick).map { j =>
      next(E0 + math.floor((tick + j.toDouble / perTick) * tickMs / 1000.0 * speed).toLong, dueMs, wallEpochMs)
    }
    tick += 1
    frames
  }

  /** Saturate shape: `n` frames with event time in order, `perWindow`
    * frames per minute of event time. */
  def chunkFrames(n: Int, perWindow: Int, dueMs: Double, wallEpochMs: Long): Seq[Wire] =
    (0 until n).map { _ =>
      val ts = E0 + idx * 60 / perWindow
      idx += 1
      next(ts, dueMs, wallEpochMs)
    }

  /** One valid frame whose event time closes every window generated so far. */
  def sentinel(dueMs: Double, wallEpochMs: Long): Wire = {
    val lastWindow = (windows.keys ++ counts.keys).max
    val ts = lastWindow + 60 + Watermark + 60
    sentinelWindow = windowOf(ts)
    val uid = "sentinel"
    advance(ts, dueMs)
    wire(ts, json(ts.toString, uid), wallEpochMs)
  }

  /** window start -> exact distinct-uid count, the sentinel's window excluded */
  def expected: Map[Long, Long] =
    (if (zipfPool > 0) windows.map { case (w, (set, _)) => w -> set.size.toLong }.toMap
     else counts.toMap) - sentinelWindow
}

object FrameGen {
  /** Open-loop shape: Zipf-reused uids, 1 % malformed, 1 % late. */
  def steady(seed: Long) = new FrameGen(seed, malformedShare = 0.01, lateShare = 0.01, zipfPool = 20000, dupShare = 0)
  /** Backlog shape: fresh uids (10 % repeats), 1 % malformed, in order. */
  def saturate(seed: Long) = new FrameGen(seed, malformedShare = 0.01, lateShare = 0, zipfPool = 0, dupShare = 0.1)
}

/** Writes a small seeded sample of both flagship shapes (frame values, due
  * times and the generator's own bookkeeping) as JSON, for
  * perfbench/selftest.py to recount independently.
  *
  * Usage: GenDump <seed> <out.json> */
object GenDump {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    def dump(gen: FrameGen, frames: Seq[(Wire, Double)]): String = Json.obj(Seq(
      "frames" -> Json.arr(frames.map { case (w, due) =>
        Json.arr(Seq(Json.str(new String(w.value, UTF_8)), Json.num(due))) }),
      "expected" -> Json.obj(gen.expected.toSeq.sorted.map { case (w, c) => w.toString -> c.toString }),
      "closable" -> Json.obj(gen.closable.map { case (w, t) => w.toString -> Json.num(t) }),
      "sentinel_window" -> gen.sentinelWindow.toString,
      "malformed_by_kind" -> Json.arr(gen.malformed.map(_.toString)),
      "late" -> gen.late.toString))
    val st = FrameGen.steady(seed)
    val stFrames = (0 until 400).flatMap(k => st.tickFrames(20, 10, 480, k * 10.0, 0L).map(_ -> k * 10.0)) :+
      (st.sentinel(4000.0, 0L) -> 4000.0)
    val sa = FrameGen.saturate(seed)
    val saFrames = (0 until 3).flatMap(k => sa.chunkFrames(5000, 1000, k * 100.0, 0L).map(_ -> k * 100.0)) :+
      (sa.sentinel(300.0, 0L) -> 300.0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
      Json.obj(Seq("steady" -> dump(st, stFrames), "saturate" -> dump(sa, saFrames))))
  }
}
