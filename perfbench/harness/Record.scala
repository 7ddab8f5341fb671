package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

/** Run clock: every time in the raw record is milliseconds since the harness
  * started, so generator, sink and listener times share one axis. */
object Clock {
  val t0Nanos: Long = System.nanoTime()
  val t0Epoch: Long = System.currentTimeMillis()
  def ms(nanos: Long): Double = (nanos - t0Nanos) / 1e6
  def now(): Double = ms(System.nanoTime())
  def fromEpoch(epochMs: Long): Double = (epochMs - t0Epoch).toDouble
}

/** Processes the box has started since boot (`processes` in /proc/stat),
  * or -1 where that file is missing. On an otherwise idle box the
  * difference over a span counts the child processes the program spawns. */
object ProcStat {
  def processes(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("processes ")).map(_.split(" ")(1).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: java.io.IOException => -1L }
}

/** Minimal JSON writer for the raw run record `run.py` reads. */
object Json {
  def str(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Bench-side spans (name, start, end, parent), kept in memory and written
  * out once at the end of a traced run. */
final class Spans(enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[String]()
  def add(name: String, startMs: Double, endMs: Double, parent: String): Unit =
    if (enabled) q.add(Json.arr(Seq(Json.str(name), Json.num(startMs), Json.num(endMs), Json.str(parent))))
  def json: String = Json.arr(q.asScala)
}

/** Old-generation occupancy after full collections, from the JVM's GC
  * notifications. After a young collection the old generation still holds
  * promoted garbage, so only full collections measure the live heap. */
object HeapWatch {
  @volatile private var peakBytes = 0L
  private val OldGen = Set("G1 Old Gen", "PS Old Gen", "Tenured Gen")
  private val FullGc = Set("G1 Old Generation", "PS MarkSweep", "MarkSweepCompact")

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter if FullGc(e.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName) =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit = n.getUserData match {
          case cd: CompositeData =>
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, use) =>
              if (OldGen(pool)) peakBytes = math.max(peakBytes, use.getUsed)
            }
          case _ =>
        }
      }, null, null)
    case _ =>
  }

  /** Peak live old-generation bytes, including a full collection taken
    * now, so a run without a natural full GC still reports its live set.
    * Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    * GC finds their handles unreachable, so collect, let it run, collect. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => OldGen(p.getName))
      .foreach(p => peakBytes = math.max(peakBytes, p.getUsage.getUsed))
    peakBytes / 1048576.0
  }
}
