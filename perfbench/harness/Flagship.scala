package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{Encoder, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}

import graft.UniqueUsersApp
import graft.streaming.{KafkaTransport, LogFrames, UniqueUsersStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** MemoryStream where each `addData` call is one offset (one chunk). With
  * `capped`, a micro-batch admits at most one chunk, as a Kafka source with
  * `maxOffsetsPerTrigger` drains a backlog. A batch reads `partitions`
  * input partitions, like a topic with that many partitions, not one per
  * chunk. It records the last admitted offset so the feeder and the
  * backlog metric see what the engine took. */
final class ChunkSource(spark: SparkSession, capped: Boolean, partitions: Int)(implicit enc: Encoder[Wire])
    extends MemoryStream[Wire](9001, spark, Some(partitions)) {
  @volatile var admitted: Long = -1L
  override def getDefaultReadLimit: ReadLimit =
    if (capped) ReadLimit.maxFiles(1) else ReadLimit.allAvailable()
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    Option(super.latestOffset(start, ReadLimit.allAvailable())).map { latest =>
      val from = Option(start).map(_.json.toLong).getOrElse(-1L)
      admitted = if (capped) math.min(latest.json.toLong, from + 1) else latest.json.toLong
      LongOffset(admitted)
    }.orNull
  }
}

/** Sink side of the flagship: every emitted (key, value) record with the
  * time the sink received it, and the sink's own busy time per epoch. */
object SinkLog {
  val rows = new ConcurrentLinkedQueue[(String, String, Double, Long)]()
  val busyNanos = new ConcurrentHashMap[Long, LongAdder]()
  /** (epoch, first row, close) of every sink partition that received rows */
  val writes = new ConcurrentLinkedQueue[(Long, Double, Double)]()
}

final class RecordingWriter extends ForeachWriter[Row] {
  private var epoch = -1L
  private var busy = 0L
  private var first = 0L
  def open(partitionId: Long, epochId: Long): Boolean = { epoch = epochId; busy = 0L; true }
  def process(r: Row): Unit = {
    val t = System.nanoTime()
    if (busy == 0L) first = t
    SinkLog.rows.add((r.getString(0), r.getString(1), Clock.ms(t), epoch))
    busy += System.nanoTime() - t
  }
  def close(err: Throwable): Unit = if (busy > 0) {
    SinkLog.busyNanos.computeIfAbsent(epoch, _ => new LongAdder).add(busy)
    SinkLog.writes.add((epoch, Clock.ms(first), Clock.now()))
  }
}

/** The flagship stream: `KafkaTransport.frames` -> `UniqueUsersApp.buildPlan`
  * in append mode, fed wire-shaped frames through a [[ChunkSource]]. */
final class Flagship(a: Args, spark: SparkSession, spans: Spans) {
  import spark.implicits._

  private val progress = new ProgressListener
  private val offered = mutable.ArrayBuffer(0L) // cumulative frames per source offset
  private val kept = mutable.ArrayBuffer.empty[Array[Byte]] // frame values, traced runs only
  private val genLateMs = mutable.ArrayBuffer.empty[Double]

  private def offer(src: ChunkSource, rows: Seq[Wire], dueMs: Double): Unit = {
    val t = Clock.now()
    src.addData(rows)
    offered += offered.last + rows.size
    if (a.trace) { rows.foreach(kept += _.value); spans.add("source.offer", t, Clock.now(), "generator") }
    genLateMs += t - dueMs
  }

  /** Runs the workload and returns the raw record's fields. */
  def run(): Seq[(String, String)] = {
    val steady = a.workload == "flagship_steady"
    spark.streams.addListener(progress)
    val gen = if (steady) FrameGen.steady(a.seed) else FrameGen.saturate(a.seed)
    val src = new ChunkSource(spark, capped = !steady, partitions = Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLocalProperty("perfbench.tag", "stream")
    val query = UniqueUsersApp.buildPlan(KafkaTransport.frames(src.toDF()),
        UniqueUsersApp.Config(bootstrap = "unused"))
      .writeStream.foreach(new RecordingWriter).outputMode("append")
      .option("checkpointLocation", s"${a.out}/checkpoint").start()
    val epochAt = (due: Double) => Clock.t0Epoch + due.toLong

    // steady: 2,000 frames/s in 10 ms ticks; the event clock runs fast
    // enough that at least 120 one-minute windows close in the measured span
    val rate = 2000
    val tickMs = 10
    val perTick = rate * tickMs / 1000
    val speed = math.max(60.0, math.ceil(120.0 * 60 / a.seconds))
    def tick(due: Double): Seq[Wire] = gen.tickFrames(perTick, tickMs, speed, due, epochAt(due))
    // saturate: capped chunks of fresh uids, event time in order, 20,000
    // frames per minute of event time
    def chunk(due: Double): Seq[Wire] = gen.chunkFrames(100000, 20000, due, epochAt(due))

    // warm-up: the first batch (codegen, JIT, state store start-up) is
    // paid by set-up time; the measured span starts when it completes
    def awaitBatch(id: Long): Unit = {
      val deadline = Clock.now() + 120000
      while (progress.lastBatchId < id) {
        if (!query.isActive || Clock.now() > deadline)
          throw query.exception.getOrElse(new IllegalStateException(s"batch $id did not complete"))
        Thread.sleep(5)
      }
    }
    def awaitAdmitted(): Unit = while (src.admitted < offered.size - 2) LockSupport.parkNanos(1000000L)
    val w0 = Clock.now()
    var m0 = 0.0
    var procs0 = 0L
    var mEnd = Double.MaxValue
    var backlogEnd = 0L
    if (steady) {
      // open loop from this thread, warm-up included: ticks are offered on
      // schedule whether or not the engine keeps up
      var k = 0L
      while (w0 + k * tickMs < mEnd) {
        val due = w0 + k * tickMs
        val wait = ((due - Clock.now()) * 1e6).toLong
        if (wait > 0) LockSupport.parkNanos(wait)
        offer(src, tick(due), due)
        k += 1
        if (m0 == 0.0 && progress.lastBatchId >= 0) {
          m0 = Clock.now()
          procs0 = ProcStat.processes()
          mEnd = m0 + a.seconds * 1000.0
        }
        if (m0 == 0.0 && Clock.now() > w0 + 120000) awaitBatch(0) // throws: the first batch never ended
      }
      backlogEnd = offered.last - offered(src.admitted.toInt + 1)
      offer(src, Seq(gen.sentinel(mEnd, epochAt(mEnd))), mEnd)
    } else {
      // keep exactly one chunk queued behind the running batch, from the
      // warm-up batch on; the chunk whose batch should end at or past the
      // measured span's end carries the sentinel
      offer(src, chunk(w0), w0)
      awaitAdmitted()
      val c1 = Clock.now()
      offer(src, chunk(c1), c1)
      awaitBatch(0)
      m0 = Clock.now()
      procs0 = ProcStat.processes()
      mEnd = m0 + a.seconds * 1000.0
      var last = false
      while (!last) {
        awaitAdmitted()
        val due = Clock.now()
        val lastDur = Option(query.lastProgress).map(_.batchDuration.toDouble).getOrElse(0.0)
        val rows = chunk(due)
        last = due + 2 * lastDur >= mEnd
        offer(src, if (last) rows :+ gen.sentinel(due, epochAt(due)) else rows, due)
      }
      while (Clock.now() < mEnd) LockSupport.parkNanos(1000000L)
      backlogEnd = offered.last - offered(src.admitted.toInt + 1)
    }

    // drain: wait until every window the sentinel closed has been emitted
    val expected = gen.expected
    val deadline = Clock.now() + 150000
    def emittedWindows = SinkLog.rows.asScala.map(_._1).toSet.size
    while (emittedWindows < expected.size && Clock.now() < deadline) Thread.sleep(20)
    val drainEnd = Clock.now()
    val procsSpawned = ProcStat.processes() - procs0
    // let the batch that emitted the last window commit before stopping
    val lastEpoch = SinkLog.rows.asScala.map(_._4).foldLeft(-1L)(math.max)
    if (query.isActive) awaitBatch(lastEpoch)
    query.stop()

    // per-layer, traced runs only: the parse/validate and windowed-count
    // layers as batch jobs (noop sink) over this run's frames
    val layer = if (!a.trace) Nil else {
      spark.sparkContext.setLocalProperty("perfbench.tag", "layer")
      val raw = spark.createDataset(kept.toSeq).toDF("value")
      raw.cache().count()
      def noop(df: org.apache.spark.sql.DataFrame, name: String): Double = {
        val t = Clock.now()
        df.write.format("noop").mode("overwrite").save()
        val e = Clock.now()
        spans.add(name, t, e, "layer")
        (e - t) / 1000.0
      }
      val parsed = LogFrames.valid(LogFrames.parse(raw, raw("value")))
      val parseS = noop(parsed, "LogFrames.parse_valid")
      val typed = parsed.cache()
      typed.count()
      val windowS = noop(UniqueUsersStream.uniquePerWindow(typed), "UniqueUsersStream.uniquePerWindow")
      Seq("parse_valid_s" -> Json.num(parseS), "unique_per_window_s" -> Json.num(windowS))
    }

    val sink = SinkLog.rows.asScala.toSeq.sortBy(_._3)
    Seq(
      "setup_end_ms" -> Json.num(m0),
      "t0_epoch_ms" -> Clock.t0Epoch.toString,
      "measure_start_ms" -> Json.num(m0),
      "measure_end_ms" -> Json.num(mEnd),
      "drain_end_ms" -> Json.num(drainEnd),
      "processes_spawned" -> procsSpawned.toString,
      "frames_offered" -> offered.last.toString,
      "backlog_events_end" -> backlogEnd.toString,
      "gen_late_ms" -> Json.arr(genLateMs.map(Json.num)),
      "malformed_by_kind" -> Json.arr(gen.malformed.map(_.toString)),
      "late_frames" -> gen.late.toString,
      "expected" -> Json.obj(expected.toSeq.sortBy(_._1).map { case (w, c) => w.toString -> c.toString }),
      "closable_ms" -> Json.obj(gen.closable.map { case (w, t) => w.toString -> Json.num(t) }),
      "sentinel_window" -> gen.sentinelWindow.toString,
      "sink" -> Json.arr(sink.map { case (k, v, t, e) =>
        Json.arr(Seq(Json.str(k), Json.str(v), Json.num(t), e.toString)) }),
      "sink_busy_ms" -> Json.obj(SinkLog.busyNanos.asScala.toSeq.sortBy(_._1).map { case (e, n) =>
        e.toString -> Json.num(n.sum / 1e6) }),
      "sink_writes" -> Json.arr(SinkLog.writes.asScala.map { case (e, s, t) =>
        Json.arr(Seq(e.toString, Json.num(s), Json.num(t))) }),
      "progress" -> progress.json) ++ layer
  }
}
