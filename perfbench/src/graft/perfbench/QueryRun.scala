package graft.perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.core.Tables

/** The batch-query workload (`query-heavy`).
  *
  * Set-up, timed from JVM start: session, `Tables.registerAll`, and a
  * warm-up query. Then one pass over `--queries` in the order given, so
  * every timing is a query's first execution in this JVM. Each is timed
  * from `Q.build` to completion of the noop sink, with `clearCache()`
  * before it, as `graft.Bench` does. Each query's result is then written,
  * untimed, in `graft.Verify`'s layout (one parquet dir per query plus
  * `oracle_sql.json`) for `scripts/check.py`. */
object QueryRun {
  def run(a: Args): Map[String, Any] = {
    val sf = a("sf")
    val cores = a.int("cores")
    val traced = a("trace") == "1"
    val registry = SparkEntry.queries
    val warm = registry(a("warmup"))

    val spark = Env.session(cores)
    val r0 = System.nanoTime()
    Tables.registerAll(spark, sf)
    val registerS = (System.nanoTime() - r0) / 1e9
    warm(spark, sf).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    val setup = Map("setup_s" -> (Env.nowMs() - Env.jvmStartMs()) / 1e3, "register_s" -> registerS)

    val ledger = if (traced) Some(new Ledger) else None
    ledger.foreach(_.install(spark))
    val guard0 = Env.guard()
    val probe = new LoadProbe
    val gateDir = a("gate-dir")
    val execs = a.list("queries").map(name => execute(spark, sf, registry, name, gateDir))
    val foreign = probe.stop()
    val guard1 = Env.guard()
    val trace = ledger.map(_.snapshot(spark))

    Files.createDirectories(Paths.get(gateDir))
    Json.write(s"$gateDir/oracle_sql.json", SparkEntry.oracleSql)
    Env.stop(spark)

    Map("setup" -> setup, "execs" -> execs, "foreign_load" -> foreign,
      "guard_before" -> guard0, "guard_after" -> guard1,
      "peak_rss_mb" -> Env.peakRssMb(), "trace" -> trace)
  }

  private def execute(spark: SparkSession, sf: String,
      registry: Map[String, (SparkSession, String) => DataFrame],
      name: String, gateDir: String): Map[String, Any] = {
    spark.catalog.clearCache()
    val w0 = Env.nowMs()
    val t0 = System.nanoTime()
    var t1, t2 = 0L
    var end = 0L
    val ok =
      try {
        val df = registry(name)(spark, sf)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        t2 = System.nanoTime()
        end = Env.nowMs()
        // untimed: the result, written as graft.Verify writes it, for the
        // DuckDB oracle; re-runs only the built plan, not the build
        df.coalesce(1).write.mode("overwrite").parquet(s"$gateDir/$name")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          end = Env.nowMs()
          false
      }
    Map("name" -> name, "ok" -> ok, "start_ms" -> w0, "end_ms" -> end,
      "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9, "wall_s" -> (t2 - t0) / 1e9)
  }
}
