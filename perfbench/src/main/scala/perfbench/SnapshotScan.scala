package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotTable, Tables}

/** Snapshot reads, traced only: a stable snapshot table (all lineitem
  * columns, deletion-vector deletes and several pending equality-delete
  * epochs) read by full masked aggregate scans (`SnapshotTable.scan`
  * and the `graft_snapshot` connector) and by seeded key lookups (the
  * connector with a pushed-down key predicate, and
  * `SnapshotTable.readIn`). The untraced read paths are timed by
  * `cdc_replicate`'s fresh reads. */
object SnapshotScan {
  val EqEpochs = 3
  val KeysPerLookup = 8

  private def build(c: Ctx, dir: String): Unit = {
    val spark = c.spark
    val raw = Tables.table(spark, c.data, "lineitem")
    SnapshotTable.write(spark, raw.repartitionByRange(2 * c.cores, col("l_orderkey")),
      dir, "overwrite", statsCols = Seq("l_orderkey"))
    // ~2% of rows deleted through a deletion vector ...
    SnapshotTable.deleteVectors(spark, dir,
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(c.seed)), lit(50L)) === 0)
    // ... and ~0.5% per epoch through pending equality deletes
    (1 to EqEpochs).foreach { e =>
      val keys = raw.filter(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        lit(c.seed), lit(e)), lit(200L)) === 0).select("l_orderkey", "l_linenumber")
      SnapshotTable.deleteByKeys(spark, dir, Seq("l_orderkey", "l_linenumber"), keys)
    }
  }

  private def aggregate(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(col("l_quantity").cast("long")), sum("l_orderkey"),
      sum("l_linenumber"), max("l_partkey"), min("l_suppkey"), max("l_shipdate"))
      .collect().head

  private def viaApi(c: Ctx, dir: String): DataFrame = SnapshotTable.scan(c.spark, dir)
  private def viaConnector(c: Ctx, dir: String): DataFrame =
    c.spark.read.format("graft_snapshot").load(dir)

  /** Lookup results as sorted row strings, so equal sets compare equal. */
  private def lookup(c: Ctx, dir: String, keys: Seq[Long], api: Boolean): Seq[String] = {
    val rows =
      if (api) SnapshotTable.readIn(c.spark, dir, "l_orderkey", keys).collect()
      else viaConnector(c, dir).filter(col("l_orderkey").isin(keys: _*)).collect()
    rows.map(_.mkString("|")).toSeq.sorted
  }

  private def keyDraws(c: Ctx, dir: String): Iterator[Seq[Long]] = {
    val maxKey = SnapshotTable.scan(c.spark, dir).agg(max("l_orderkey")).collect().head.getLong(0)
    val rnd = new java.util.Random(c.seed)
    Iterator.continually(Seq.fill(KeysPerLookup)((rnd.nextDouble() * (maxKey + 1)).toLong))
  }

  /** A purged copy of the table: the same reads on it are the expected
    * answers. */
  private def purgedCopy(c: Ctx, dir: String): String = {
    val copy = c.dir("scan-purged")
    SnapshotTable.cloneTable(c.spark, dir, copy, deep = true)
    SnapshotTable.purgeDeletes(c.spark, copy)
    copy
  }

  private def expectedLookups(c: Ctx, copy: String, draws: Seq[Seq[Long]]): Seq[Seq[String]] = {
    val all = draws.flatten.distinct
    val got = viaApi(c, copy).filter(col("l_orderkey").isin(all: _*)).collect()
      .groupBy(_.getAs[Long]("l_orderkey")).map { case (k, rs) => k -> rs.map(_.mkString("|")).toSeq }
    draws.map(ks => ks.distinct.flatMap(k => got.getOrElse(k, Nil)).sorted)
  }

  /** Per-layer pass: traced scans through both paths and traced
    * lookups, with rows read per row returned. */
  def traced(c: Ctx): Outcome = {
    val t = c.tracer
    val dir = c.dir("scan-traced")
    build(c, dir)
    val draws = keyDraws(c, dir)
    aggregate(viaApi(c, dir)); aggregate(viaConnector(c, dir))
    val Reps = 3
    val api = (1 to Reps).map { _ => t.newOp(); t.span("scan.api")(aggregate(viaApi(c, dir))) }
    val conn = (1 to Reps).map { _ => t.newOp(); t.span("scan.connector")(aggregate(viaConnector(c, dir))) }
    val lks = (1 to 2 * Reps).map { j =>
      t.newOp(); val ks = draws.next()
      val (rows, s) = t.span("lookup")(lookup(c, dir, ks, api = j % 2 == 0))
      (ks, rows, s)
    }
    t.drain()
    val copy = purgedCopy(c, dir)
    val expected = aggregate(viaApi(c, copy))
    val expLk = expectedLookups(c, copy, lks.map(_._1))
    val failed = (api ++ conn).count(_._1 != expected) +
      lks.map(_._2).zip(expLk).count { case (a, b) => a != b }

    val scanSpans = (api ++ conn).map(_._2)
    val sf = scanSpans.map(t.facts)
    val lf = lks.map(l => t.facts(l._3))
    val live = expected.getLong(0).toDouble
    val med = (xs: Seq[Double]) => Stats.median(xs)
    Outcome(
      Map("scan.api_s" -> med(api.map(_._2.seconds)),
        "scan.connector_s" -> med(conn.map(_._2.seconds)),
        "scan.jobs" -> med(sf.map(_.jobs.size.toDouble)),
        "scan.driver_gap_s" -> med(scanSpans.zip(sf).map { case (s, f) => s.seconds - f.jobBusySeconds }),
        "scan.input_bytes" -> med(sf.map(_.fsBytesRead.toDouble)),
        "scan.gc_s" -> med(sf.map(_.gcSeconds)),
        "scan.rows_read_per_row_returned" -> med(sf.map(_.counters.recordsRead / live)),
        "lookup.tasks" -> med(lf.map(_.counters.tasks.toDouble)),
        "lookup.input_bytes" -> med(lf.map(_.fsBytesRead.toDouble)),
        "lookup.rows_read_per_row_returned" -> med(lks.zip(lf).map { case (l, f) =>
          f.counters.recordsRead.toDouble / math.max(1, l._2.size) })),
      Map("scan.live_rows" -> live, "lookup.rows" -> lks.map(_._2.size)),
      3 * Reps, failed)
  }
}
