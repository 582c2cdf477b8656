package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload pass hands back: end-to-end or per-layer metrics
  * (by name), extra detail for the run record, the operation counts,
  * and the outputs the Python side checks. */
final case class Outcome(metrics: Map[String, Double], detail: Map[String, Any],
                         attempted: Int, failed: Int,
                         outputs: Map[String, Any] = Map.empty)

/** Everything a workload pass needs. `data` holds the generated inputs
  * (`lineitem.parquet`, the CDC feed log), `work` is this run's scratch
  * directory. */
final case class Ctx(spark: SparkSession, tracer: Tracer, data: String,
                     work: String, seed: Long, seconds: Double, cores: Int,
                     jvmStartMs: Long, heap: HeapWatch) {
  def dir(name: String): String = new File(work, name).getPath
  /** Seconds since the JVM started: at the first timed operation, the
    * run's set-up time. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** Run `op` in a closed loop for `seconds` (and at least `minOps`
    * times), then probe the heap; returns the loop's wall time. */
  def loop(minOps: Int)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minOps) { op(i); i += 1 }
    val wall = (System.nanoTime() - t0) / 1e9
    heap.probe()
    wall
  }
}

/** Entry point of the benchmark JVM. Run by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload <etl_refresh|cdc_replicate> --seed n
  *        --seconds s --trace 0|1 --data dir --work dir --out result.json
  *        --cores N
  * }}}
  *
  * With `--trace 0` it runs the named workload untraced and reports the
  * end-to-end metrics. With `--trace 1` it runs the traced pass of every
  * workload, so one traced run reports every per-layer metric. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a("work"), "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a("work"), "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the session's first job pays scheduler and codegen start-up
    spark.range(100000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = a("trace") == "1"
    val tracer = new Tracer(spark.sparkContext, trace)
    val heap = new HeapWatch
    val ctx = Ctx(spark, tracer, a("data"), a("work"), a("seed").toLong,
      a("seconds").toDouble, cores, jvmStartMs, heap)
    val outcome =
      if (trace) {
        val parts = Seq(EtlRefresh.traced(ctx), CdcReplicate.traced(ctx),
          SnapshotScan.traced(ctx))
        Outcome(parts.flatMap(_.metrics).toMap, parts.flatMap(_.detail).toMap,
          parts.map(_.attempted).sum, parts.map(_.failed).sum,
          parts.flatMap(_.outputs).toMap)
      } else a("workload") match {
        case "etl_refresh"   => EtlRefresh.run(ctx)
        case "cdc_replicate" => CdcReplicate.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    System.err.println(f"[perfbench] workload done at ${ctx.sinceStart}%.1f s after JVM start")
    val metrics =
      if (trace) outcome.metrics
      else outcome.metrics + ("live_heap_mb" -> heap.liveMb)
    val record = Map[String, Any](
      "metrics" -> metrics,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "detail" -> (outcome.detail ++ Map("session_s" -> sessionS)),
      "outputs" -> outcome.outputs,
      "spans" -> tracer.allSpans.map(s => Map("span" -> s,
        "counters" -> tracer.countersOf(s.id).map(c => Map("tasks" -> c.tasks,
          "input_bytes" -> c.inputBytes, "records_read" -> c.recordsRead,
          "output_bytes" -> c.outputBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes)))),
      "jobs" -> tracer.allJobs,
      "stages" -> tracer.allStages)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new File(a("out")), record)
    spark.stop()
  }
}

/** Timing helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value, n); None with fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 11) None
    else {
      val p = 1.0 - 10.0 / xs.size
      Some((p * 100, quantile(xs, p), xs.size))
    }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => bytesUnder(c.getPath)).sum
  }

  /** A sample summary for the run record. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map("n" -> xs.size, "p50" -> median(xs), "min" -> xs.min, "max" -> xs.max,
      "tail" -> tail(xs).map { case (p, v, n) => Map("percentile" -> p, "value" -> v, "n" -> n) }
        .getOrElse("fewer than 11 samples"),
      "samples" -> xs)
}

/** The old-generation occupancy right after a full collection at the
  * end of the timed loop: the live set the loop leaves behind, rather
  * than wherever the young collections happened to leave the old
  * generation. Probing between operations would perturb them: the
  * cleanup Spark runs after a collection overlaps the next operation. */
final class HeapWatch {
  private val pool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var live = 0L

  /** Collect, then record the old generation. Collects twice: Spark's
    * ContextCleaner drops the blocks of broadcasts and shuffles only
    * after their handles have been collected, so the second collection
    * sees what is really live. */
  def probe(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    pool.foreach(p => live = math.max(live, p.getUsage.getUsed))
  }

  def liveMb: Double = live / (1024.0 * 1024.0)
}
