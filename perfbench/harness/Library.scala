package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

import scala.collection.mutable

/** The family representatives as users call them: `SparkEntry.queries`
  * into the noop sink, timed per query, after one untimed pass that writes
  * each result to parquet for the DuckDB oracle comparison. */
final class Library(a: Args, spark: SparkSession, spans: Spans, names: Seq[String]) {

  private def runQuery(session: SparkSession, name: String, tag: String)(
      write: org.apache.spark.sql.DataFrame => Unit): Option[String] = {
    session.sparkContext.setLocalProperty("perfbench.tag", tag)
    try { write(SparkEntry.queries(name)(session, a.data)); None }
    catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
  }

  def run(): Seq[(String, String)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val oracleDir = s"${a.out}/oracle"
    Files.createDirectories(Paths.get(oracleDir))
    val errors = mutable.LinkedHashMap.empty[String, String]

    // warm-up: the untimed pass whose outputs the oracle check reads. It
    // runs three queries at a time, each in a session of its own, since
    // queries set session conf and name their streaming sinks; JIT and
    // codegen caches are JVM-wide, so it warms the timed passes all the same
    val pool = Executors.newFixedThreadPool(3)
    names.map { n =>
      n -> pool.submit(() => runQuery(spark.newSession(), n, s"warmup:$n")(
        _.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$n")))
    }.foreach { case (n, f) => f.get().foreach(errors(n) = _) }
    pool.shutdown()
    spark.catalog.clearCache()
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql.getOrElse(n, "")))))
    val setupEnd = Clock.now()

    // timed passes, one query at a time in name order: as many whole passes
    // as fit in the measured span, rounded to the nearest, and at least two,
    // so that every query has a best of two on a slow box as on a fast one
    val walls = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val m0 = Clock.now()
    val procs0 = ProcStat.processes()
    var passes = 0
    while (passes < 2 || Clock.now() + (Clock.now() - m0) / passes / 2 < m0 + a.seconds * 1000.0) {
      names.foreach { n =>
        val t = Clock.now()
        val err = runQuery(spark, n, n)(_.write.format("noop").mode("overwrite").save())
        val e = Clock.now()
        spark.catalog.clearCache() // each pass builds a new lineage; a leftover cache is never hit
        err.foreach(errors.getOrElseUpdate(n, _))
        walls(n) += e - t
        spans.add(s"q.$n", t, e, s"pass.$passes")
      }
      passes += 1
    }
    Seq(
      "setup_end_ms" -> Json.num(setupEnd),
      "measure_start_ms" -> Json.num(m0),
      "measure_end_ms" -> Json.num(Clock.now()),
      "passes" -> passes.toString,
      "processes_spawned" -> (ProcStat.processes() - procs0).toString,
      "oracle_dir" -> Json.str(oracleDir),
      "walls_ms" -> Json.obj(walls.map { case (n, ws) => n -> Json.arr(ws.map(Json.num)) }),
      "errors" -> Json.obj(errors.map { case (n, e) => n -> Json.str(e) }))
  }
}
