package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.FlightPipeline
import graft.operators.{Cleaners, Dedupe, Sinks, UnifiedJoin}
import graft.schema.FlightVocab.{JoinKeys, SupplierPriceTaxCols}
import graft.sources.FlightSynth

/** `etl_refresh`: the paper's job, closed loop. One cycle is
  * `FlightPipeline.run` then `Sinks.truncateAndLoad` with 3-backup
  * retention, so every cycle after the first also backs up the previous
  * table. After each load a consumer reads the published table
  * [[ReadsPerCycle]] times. */
object EtlRefresh {
  private val Table = "flights"
  /** Full refreshes of the table in set-up: the initial load, then
    * ones that also back the previous table up. */
  private val SetupLoads = 2
  /** Consumer reads of each freshly loaded table. */
  private val ReadsPerCycle = 2
  /** The repo's DuckDB oracle for the pipeline (q40), run by the checker. */
  private def Oracle: String = graft.SparkEntry.oracleSql("q40_flight_pipeline")

  private def refresh(c: Ctx, input: String, table: String, backups: String,
                      stamp: Long): Long =
    Sinks.truncateAndLoad(c.spark, FlightPipeline.run(c.spark, input), table,
      backups, Table, stamp, maxBackups = 3)

  /** The consumer's read of the published table: a digest of every row
    * and column (row count plus the exact sum of 64-bit row hashes),
    * so every cycle's load can be compared with the first one. */
  private def consumerRead(c: Ctx, table: String): Row = {
    val df = c.spark.read.parquet(table)
    df.agg(count(lit(1)), sum(xxhash64(df.columns.map(k => col(s"`$k`")): _*)
      .cast("decimal(38,0)"))).collect().head
  }

  /** Set-up. The JIT keeps speeding the refresh up for several cycles.
    * The first, cold refresh runs on the generator's small copy of the
    * input (`warm/`, 1/8 of the orders) into a scratch table: it pays
    * class loading and code generation, which do not depend on the
    * input size. Then [[SetupLoads]] refreshes of the real input into
    * the table, the first of them its initial load. Returns the table,
    * its backups, the rows loaded and the set-up refresh times. */
  private def warmTable(c: Ctx): (String, String, Long, Seq[Double]) = {
    val small = new java.io.File(c.data, "warm").getPath
    val cold = Stats.seconds(refresh(c, small, c.dir("warm-table"), c.dir("warm-backups"), 1L))._2
    val (table, backups) = (c.dir("table"), c.dir("backups"))
    val loads = (1 to SetupLoads).map(i =>
      Stats.seconds(refresh(c, c.data, table, backups, i.toLong)))
    (table, backups, loads.head._1, cold +: loads.map(_._2))
  }

  def run(c: Ctx): Outcome = {
    val (table, backups, firstRows, warmS) = warmTable(c)
    val expected = consumerRead(c, table)
    val cycles = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Double]
    var failed = 0
    var rows = 0L
    val setupS = c.sinceStart
    // at least three cycles: a median over several refreshes, and all
    // three retained backups present for the space figure
    val loopS = c.loop(minOps = 3) { i =>
      try {
        val (n, s) = Stats.seconds(refresh(c, c.data, table, backups, SetupLoads + 1L + i))
        cycles += s
        rows += n
        if (n != firstRows) failed += 1
        (1 to ReadsPerCycle).foreach { _ =>
          val (r, rs) = Stats.seconds(consumerRead(c, table))
          reads += rs
          if (r != expected) failed += 1
        }
      } catch { case e: Exception => failed += 1; System.err.println(s"refresh failed: $e") }
    }
    val plain = c.dir("plain")
    c.spark.read.parquet(table).write.parquet(plain)
    val spaceAmp = (Stats.bytesUnder(table) + Stats.bytesUnder(backups)).toDouble /
      Stats.bytesUnder(plain)
    val cs = cycles.result()
    val rd = reads.result()
    Outcome(
      Map("setup_s" -> setupS,
        "op_p50_s" -> Stats.median(cs),
        "read_p50_s" -> Stats.median(rd),
        "rows_per_s" -> rows / loopS,
        "space_amp" -> spaceAmp),
      Map("setup_refresh_s" -> warmS, "refresh_s" -> Stats.summary(cs),
        "consumer_read_s" -> Stats.summary(rd), "loop_s" -> loopS,
        "rows_loaded_per_cycle" -> firstRows,
        "table_bytes" -> Stats.bytesUnder(table),
        "aliases" -> Map("refresh_p50_s" -> Stats.median(cs))),
      cs.size + rd.size, failed,
      Map("etl_table" -> table, "etl_rows" -> firstRows, "etl_loads" -> cs.size,
        "etl_oracle_sql" -> Oracle))
  }

  /** Per-layer pass: prefix cuts through the pipeline with `noop`
    * sinks, each materialising exactly the columns the next stage
    * consumes, then the load over the cached dedup output. */
  def traced(c: Ctx): Outcome = {
    val t = c.tracer
    val spark = c.spark
    val (table, backups, firstRows, _) = warmTable(c)
    // the untraced cycle the traced one is compared with
    val untraced = Stats.seconds(refresh(c, c.data, table, backups, SetupLoads + 1L))._2
    def noop(dfs: DataFrame*): Unit =
      dfs.foreach(_.write.format("noop").mode("overwrite").save())

    t.newOp()
    val d = c.data
    val synth = Seq(FlightSynth.cola(spark, d), FlightSynth.set(spark, d),
      FlightSynth.lion(spark, d), FlightSynth.eztravel(spark, d),
      FlightSynth.foreignEztravel(spark, d), FlightSynth.rich(spark, d))
    def cleaned: Seq[DataFrame] = Seq(Cleaners.cleanCola(synth(0)),
      Cleaners.cleanCompetitor(synth(1), "settour_air_tickets_price", "settour_tax"),
      Cleaners.cleanCompetitor(synth(2), "lion_air_tickets_price", "lion_tax"),
      Cleaners.cleanCompetitor(synth(3), "eztravel_ticket_air_tickets_price", "eztravel_tax"),
      Cleaners.cleanCompetitor(synth(4), "foreign_supplier_eztraval_ticket_air_tickets_price",
        "foreign_supplier_eztraval_tax"),
      Cleaners.cleanCompetitor(synth(5), "rich_mond_air_tickets_price", "rich_mond_tax"))
    // the join consumes every cola column but only the keys and the
    // price and tax columns of each competitor side
    def normalized: Seq[DataFrame] = {
      val cl = cleaned
      UnifiedJoin.normalizeForJoin(cl.head) +: cl.tail.map { x =>
        val n = UnifiedJoin.normalizeForJoin(x)
        val payload = n.columns.filter(cn =>
          SupplierPriceTaxCols.exists { case (p, q) => cn == p || cn == q })
        n.select((JoinKeys ++ payload).map(k => col(s"`$k`")): _*)
      }
    }
    def joined: DataFrame = { val cl = cleaned
      UnifiedJoin.joinPriceAndTax(cl(0), cl(1), cl(2), cl(3), cl(4), cl(5)) }
    def unified: DataFrame = { val cl = cleaned
      UnifiedJoin.unify(cl(0), cl(1), cl(2), cl(3), cl(4), cl(5)) }

    val cuts = Seq(
      "etl.sources.synth" -> (() => noop(synth: _*)),
      "etl.operators.Cleaners" -> (() => noop(cleaned: _*)),
      "etl.operators.UnifiedJoin.normalize" -> (() => noop(normalized: _*)),
      "etl.operators.UnifiedJoin.join" -> (() => noop(joined)),
      "etl.operators.UnifiedJoin.project" -> (() => noop(unified)))
    val cutSpans = cuts.map { case (name, f) => name -> t.span(name)(f())._2 }
    val dedup = Dedupe.keepLatestAllCols(unified, "creation_time")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (_, dedupSpan) = t.span("etl.operators.Dedupe")(dedup.count())
    val (loaded, loadSpan) = t.span("etl.operators.Sinks.load")(
      Sinks.truncateAndLoad(spark, dedup, table, backups, Table, SetupLoads + 2L,
        maxBackups = 3))
    t.drain()
    val tableBytes = Stats.bytesUnder(table)
    dedup.unpersist()

    // ratios, counted outside the spans
    val joinedRows = joined.count()
    val matched = joined.filter(coalesce(SupplierPriceTaxCols.map(_._2)
      .filter(joined.columns.contains).map(k => col(s"`$k`")): _*).isNotNull).count()
    val unifiedRows = unified.count()

    val all = cutSpans :+ ("etl.operators.Dedupe" -> dedupSpan) :+ ("etl.operators.Sinks.load" -> loadSpan)
    val secs = all.map(_._2.seconds)
    val selfS = all.indices.map(i =>
      if (i == 0 || all(i)._1 == "etl.operators.Sinks.load") secs(i) else secs(i) - secs(i - 1))
    val metrics = all.zip(selfS).flatMap { case ((name, s), self) =>
      val f = t.facts(s)
      Seq(s"${name}_s" -> self, s"$name.jobs" -> f.jobs.size.toDouble,
        s"$name.gc_s" -> f.gcSeconds,
        s"$name.shuffle_write_bytes" -> f.counters.shuffleWriteBytes.toDouble,
        s"$name.spill_bytes" -> f.counters.spillBytes.toDouble,
        s"$name.driver_gap_s" -> (s.seconds - f.jobBusySeconds))
    }.toMap
    val tracedCycle = dedupSpan.seconds + loadSpan.seconds
    val loadOut = t.facts(loadSpan).counters.outputBytes
    Outcome(
      metrics ++ Map(
        "etl.Dedupe.removed_ratio" -> (1.0 - loaded.toDouble / unifiedRows),
        "etl.UnifiedJoin.match_ratio" -> matched.toDouble / joinedRows,
        "etl.Sinks.bytes_written_per_loaded_byte" -> loadOut.toDouble / tableBytes,
        "etl.trace_overhead_s" -> (tracedCycle - untraced)),
      Map("etl.untraced_refresh_s" -> untraced, "etl.traced_cycle_s" -> tracedCycle,
        "etl.cut_s" -> all.map { case (n, s) => n -> s.seconds }.toMap,
        "etl.rows" -> Map("joined" -> joinedRows, "matched" -> matched,
          "unified" -> unifiedRows, "loaded" -> loaded)),
      1, if (loaded == firstRows) 0 else 1,
      Map("etl_table" -> table, "etl_rows" -> loaded, "etl_loads" -> 1,
        "etl_oracle_sql" -> Oracle))
  }
}
