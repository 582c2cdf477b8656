package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotTable, Tables}
import graft.streaming.ApplyChanges

/** `cdc_replicate`: a composite-key replica of lineitem, bootstrapped
  * in set-up. Each cycle applies one seeded eq-CDC epoch through
  * `ApplyChanges.applyBatchEqKeys`, then a consumer reads the new
  * version once, through `SnapshotTable.scan` after the even epochs of
  * a fold cycle and through the `graft_snapshot` connector after the
  * odd ones. Every [[FoldEvery]] epochs `SnapshotTable.purgeDeletes`
  * folds the pending deletes. */
object CdcReplicate {
  val Keys = Seq("l_orderkey", "l_linenumber")
  val FoldEvery = 4
  /** Whole fold cycles in set-up: cycles keep speeding up through the
    * first one after the cold one. */
  val WarmCycles = 2

  /** The feed log is written by the generator, one directory per epoch. */
  private def feed(c: Ctx, epoch: Int): DataFrame =
    c.spark.read.parquet(new File(c.data, f"feed/epoch=$epoch").getPath)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))

  def feedRows(c: Ctx): Map[Int, Long] =
    scala.io.Source.fromFile(new File(c.data, "feed_rows.txt")).getLines()
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val Array(e, n) = l.split(" ")
        e.toInt -> n.toLong
      }.toMap

  private def bootstrap(c: Ctx, dir: String): Unit = {
    val raw = Tables.table(c.spark, c.data, "lineitem")
    ApplyChanges.applyBatchEqKeys(raw.withColumn("change_type", lit("upsert"))
      .withColumn("commit_version", lit(0L)), dir, Keys)
  }

  private def apply(c: Ctx, dir: String, epoch: Int): Unit = applyBatch(dir, feed(c, epoch))

  /** One epoch; the feed batch is opened outside, before any timing. */
  private def applyBatch(dir: String, batch: DataFrame): Unit =
    ApplyChanges.applyBatchEqKeys(batch, dir, Keys)

  /** Read path of the fresh read after the `e`-th epoch: the connector
    * after odd epochs, so each fold cycle reads twice through each. */
  private def viaConnector(e: Int): Boolean = e % 2 == 1

  /** The consumer's read of the freshest version; exact aggregates that
    * the checker recomputes from the feed log. */
  private def freshRead(c: Ctx, dir: String, connector: Boolean): Seq[Long] = {
    val df =
      if (connector) c.spark.read.format("graft_snapshot").load(dir)
      else SnapshotTable.scan(c.spark, dir)
    // the row-hash sum makes the read touch every column, as a consumer
    // copying the new version would; only the exact sums are checked
    val r = df.agg(count(lit(1)),
      sum(col("l_quantity").cast("long")), sum("l_orderkey"), sum("l_linenumber"),
      sum(xxhash64(df.columns.map(k => col(s"`$k`")): _*).cast("decimal(38,0)")))
      .collect().head
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Set-up: bootstrap the replica, then warm the epoch, read and fold
    * paths with [[WarmCycles]] whole fold cycles. */
  private def warmReplica(c: Ctx, dir: String): Unit = {
    bootstrap(c, dir)
    (0 until WarmCycles * FoldEvery).foreach { e =>
      apply(c, dir, e)
      freshRead(c, dir, viaConnector(e))
      if (e % FoldEvery == FoldEvery - 1) SnapshotTable.purgeDeletes(c.spark, dir)
    }
  }

  /** Plain-parquet copy of the live rows, for space amplification. */
  private def spaceAmp(c: Ctx, dir: String, tag: String): Double = {
    val plain = c.dir(s"plain-$tag")
    SnapshotTable.scan(c.spark, dir).write.parquet(plain)
    Stats.bytesUnder(dir).toDouble / Stats.bytesUnder(plain)
  }

  private def exportReplica(c: Ctx, dir: String): String = {
    val out = c.dir("replica-final")
    SnapshotTable.scan(c.spark, dir)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp_ntz"))
      .write.parquet(out)
    out
  }

  def run(c: Ctx): Outcome = {
    val rowsOf = feedRows(c)
    val dir = c.dir("replica")
    warmReplica(c, dir)
    val epochs = Seq.newBuilder[Double]
    val readS = Seq.newBuilder[(Boolean, Double)]
    val foldS = Seq.newBuilder[Double]
    val cycles = Seq.newBuilder[Double]
    val cycleReads = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Map[String, Any]]
    var attempted = 0
    var failed = 0
    var applied = 0L
    var e = WarmCycles * FoldEvery
    var amp = Double.NaN
    var ampS = 0.0
    val setupS = c.sinceStart
    // One operation of the loop is a whole fold cycle, and the medians
    // are taken over cycles. Epoch times grow with the pending deletes
    // and drop after a fold, so whole cycles keep the medians independent
    // of where the run stops. And an epoch or a read is short enough
    // (~0.2-0.6 s) that the machine's slow and fast spells split its
    // times into two clusters, whose median jumps between them; a
    // cycle (~4 s) averages over them.
    val loopS = c.loop(minOps = 2) { _ =>
      val t0 = System.nanoTime()
      var readSum = 0.0
      (1 to FoldEvery).foreach { _ =>
        require(rowsOf.contains(e), s"the feed log has no epoch $e")
        attempted += 2
        try {
          val batch = feed(c, e)
          epochs += Stats.seconds(applyBatch(dir, batch))._2
          applied += rowsOf(e)
          val (r, rs) = Stats.seconds(freshRead(c, dir, viaConnector(e)))
          readS += viaConnector(e) -> rs
          readSum += rs
          reads += Map("epochs" -> (e + 1), "agg" -> r)
        } catch { case ex: Exception => failed += 1; System.err.println(s"epoch $e failed: $ex") }
        e += 1
      }
      attempted += 1
      try foldS += Stats.seconds(SnapshotTable.purgeDeletes(c.spark, dir))._2
      catch { case ex: Exception => failed += 1; System.err.println(s"fold failed: $ex") }
      cycles += (System.nanoTime() - t0) / 1e9
      // the cycle reads twice through each path, so both weigh the same
      cycleReads += readSum / FoldEvery
      // measured once, after the first fold, so the figure does not
      // depend on how many cycles fit in the run
      if (amp.isNaN) {
        val (a, s) = Stats.seconds(spaceAmp(c, dir, "fold"))
        amp = a
        ampS = s
      }
    }
    val es = epochs.result()
    val (connS, apiS) = readS.result().partition(_._1)
    val cs = cycles.result()
    val readP50 = Stats.median(cycleReads.result())
    // the space probe is not part of the measured work
    val workS = loopS - ampS
    Outcome(
      Map("setup_s" -> setupS,
        "op_p50_s" -> Stats.median(cs),
        "read_p50_s" -> readP50,
        "rows_per_s" -> applied / workS,
        "space_amp" -> amp),
      Map("fold_cycle_s" -> Stats.summary(cs), "epoch_s" -> Stats.summary(es),
        "fresh_read_per_cycle_s" -> Stats.summary(cycleReads.result()),
        "fresh_read_api_s" -> Stats.summary(apiS.map(_._2)),
        "fresh_read_connector_s" -> Stats.summary(connS.map(_._2)),
        "fold_s" -> Stats.summary(foldS.result()),
        "loop_s" -> workS, "feed_rows_applied" -> applied,
        "aliases" -> Map("fold_cycle_p50_s" -> Stats.median(cs),
          "fresh_read_p50_s" -> readP50, "cdc_rows_per_s" -> applied / workS)),
      attempted, failed,
      Map("cdc_epochs" -> e, "cdc_reads" -> reads.result(),
        "cdc_replica" -> exportReplica(c, dir)))
  }

  /** Per-layer pass: traced epochs, each followed by a traced read, and
    * one traced fold. Jobs are charged to a phase by the innermost
    * program frame of their call site. */
  def traced(c: Ctx): Outcome = {
    val t = c.tracer
    val dir = c.dir("replica")
    bootstrap(c, dir)
    apply(c, dir, 0)
    freshRead(c, dir, viaConnector(0))
    val logDir = new File(dir, "_log").getPath
    val epochN = FoldEvery
    val reads = Seq.newBuilder[Map[String, Any]]
    val perEpoch = (1 to epochN).map { e =>
      t.newOp()
      val files0 = SnapshotTable.readManifest(c.spark, dir,
        SnapshotTable.latestVersion(c.spark, dir).get).files.map(_.path).toSet
      val log0 = Stats.bytesUnder(logDir)
      val batch = feed(c, e)
      val (_, es) = t.span("cdc.epoch")(applyBatch(dir, batch))
      val log1 = Stats.bytesUnder(logDir)
      val m = SnapshotTable.readManifest(c.spark, dir,
        SnapshotTable.latestVersion(c.spark, dir).get)
      val added = m.files.count(f => !files0(f.path))
      val pendingRefs = m.files.flatMap(_.eqDv).distinct.size
      val (r, rs) = t.span("cdc.read")(freshRead(c, dir, viaConnector(e)))
      reads += Map("epochs" -> (e + 1), "agg" -> r)
      (es, rs, added, log1 - log0, pendingRefs)
    }
    t.newOp()
    val v0 = SnapshotTable.latestVersion(c.spark, dir).get
    val (_, fs) = t.span("cdc.fold")(SnapshotTable.purgeDeletes(c.spark, dir))
    val (r, _) = t.span("cdc.read")(freshRead(c, dir, viaConnector(epochN + 1)))
    reads += Map("epochs" -> (epochN + 1), "agg" -> r)
    t.drain()

    def phase(f: String): String =
      if (f.startsWith("graft.streaming.ApplyChanges")) "collapse"
      else if (f.startsWith("graft.sources.SnapshotTable.stageFiles") ||
               f.startsWith("graft.sources.SnapshotTable.writeSingleParquet")) "stage"
      else if (f.startsWith("graft.")) "attach"
      else "other"
    // The collapse (the newest-action window over the feed batch, which
    // ApplyChanges caches) starts no job of its own: it runs inside the
    // first staging job that touches the cached frame. So it is charged
    // by stage: the first stage that runs the window (later stages only
    // read its cache) and the shuffle-map stages that feed that one.
    def collapseStages(f: SpanFacts): Seq[StageRec] =
      f.stages.find(_.scopes("Window")).toSeq.flatMap { w =>
        f.stages.filter(st => st.id != w.id && (st.rdds & w.shuffleParents).nonEmpty) :+ w
      }
    /** Seconds of the jobs of phase `ph`, with collapse stages moved
      * from the phase of their job to "collapse". */
    def phaseSeconds(f: SpanFacts, ph: String): Double = {
      val jobPhase = f.jobs.map(j => j.id -> phase(j.frame)).toMap
      val moved = collapseStages(f).filterNot(st => jobPhase.get(st.job).contains("collapse"))
      val in = moved.filter(st => jobPhase.get(st.job).contains(ph)).map(_.seconds).sum
      f.jobSeconds(phase(_) == ph) + (if (ph == "collapse") moved.map(_.seconds).sum else -in)
    }
    val med = (xs: Seq[Double]) => Stats.median(xs)
    val ef = perEpoch.map(p => t.facts(p._1))
    val rf = perEpoch.map(p => t.facts(p._2))
    val ff = t.facts(fs)
    Outcome(
      Map(
        "cdc.streaming.ApplyChanges.collapse_s" -> med(ef.map(phaseSeconds(_, "collapse"))),
        "cdc.sources.SnapshotTable.stage_s" -> med(ef.map(phaseSeconds(_, "stage"))),
        "cdc.sources.SnapshotTable.attach_s" -> med(ef.map(phaseSeconds(_, "attach"))),
        "cdc.epoch.driver_gap_s" -> med(perEpoch.zip(ef).map { case (p, f) => p._1.seconds - f.jobBusySeconds }),
        "cdc.epoch.jobs" -> med(ef.map(_.jobs.size.toDouble)),
        "cdc.epoch.files_added" -> med(perEpoch.map(_._3.toDouble)),
        "cdc.epoch.bytes_written" -> med(ef.map(_.counters.outputBytes.toDouble)),
        "cdc.epoch.log_bytes" -> med(perEpoch.map(_._4.toDouble)),
        "cdc.read.jobs" -> med(rf.map(_.jobs.size.toDouble)),
        "cdc.read.driver_gap_s" -> med(perEpoch.zip(rf).map { case (p, f) => p._2.seconds - f.jobBusySeconds }),
        "cdc.read.input_bytes" -> med(rf.map(_.fsBytesRead.toDouble)),
        "cdc.pending_ref_files" -> perEpoch.last._5.toDouble,
        "cdc.fold_s" -> fs.seconds,
        "cdc.fold.jobs" -> ff.jobs.size.toDouble,
        "cdc.fold.bytes_rewritten" -> ff.counters.outputBytes.toDouble),
      Map("cdc.epoch_s" -> perEpoch.map(_._1.seconds), "cdc.read_s" -> perEpoch.map(_._2.seconds),
        "cdc.job_frames" -> ef.flatMap(_.jobs.map(j => j.frame)).groupBy(identity)
          .map { case (k, v) => k -> v.size },
        "cdc.collapse_stages" -> ef.map(f => collapseStages(f).map(_.id)),
        "cdc.fold_from_version" -> v0),
      epochN + 1, 0,
      // the traced pass applies epochs 0..epochN
      Map("cdc_epochs" -> (epochN + 1), "cdc_reads" -> reads.result(),
        "cdc_replica" -> exportReplica(c, dir)))
  }
}
