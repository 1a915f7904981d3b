package perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

import graft.core.{Merge, Normalize, Pipeline, Temporal, Watermark,
  WatermarkStore}
import graft.io.{ManifestVersioned, MergeCapableWarehouse, Tables}

/** What the mirror learns beside the spans, per night. */
final class NightProbe {
  var filesListed = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  var writeBytes = 0L
  var writeFiles = 0L
  val touched = mutable.ArrayBuffer[Double]()
}

/** `Pipeline.run`, re-spelled through the same public calls with a span
  * around each layer. The lazy layers are additionally forced into Spark's
  * `noop` sink so their time shows up inside their own span; a layer's self
  * time is its forced time minus the forced time of its input.
  */
class Mirror(run: Run, tr: Tracer) {
  private val spark: SparkSession = run.spark
  private val clock: Column = current_timestamp()
  val probes = mutable.Map[Int, NightProbe]()

  private def probe = probes.getOrElseUpdate(tr.night, new NightProbe)

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Counting outside every layer span, so it adds to no layer's time. */
  private def rows(df: DataFrame): Long = tr("trace.count")(df.count())

  private def write(cfg: Pipeline.Config)(body: => Unit): Unit = {
    val wh = java.nio.file.Paths.get(cfg.warehouseDir)
    val before = run.files(wh)
    tr("write")(body)
    val (bytes, n) = run.written(before, run.files(wh))
    probe.writeBytes += bytes
    probe.writeFiles += n
  }

  private def postCount(cfg: Pipeline.Config, table: String): Long =
    tr("pipeline.post_count") {
      val df = tr("read.prune")(cfg.adapter.read(spark, cfg.warehouseDir, table))
      tr("read.exec")(df.count())
    }

  /** Mirrors `Pipeline.fullLoad`. */
  def fullLoad(cfg: Pipeline.Config, folder: String): Long = {
    val raw = tr("csv.infer")(
      Tables.readCsvFolder(spark, s"${cfg.sourceRoot}/$folder"))
    tr("csv.parse")(force(raw))
    val normalized = Normalize.normalizeColumns(raw)
    tr("normalize.force")(force(normalized))
    val merged = Merge.latestWins(
      Merge.tombstoneFilter(normalized, cfg.keyCol, Pipeline.bc2adlsTombstone),
      Seq(cfg.keyCol), Pipeline.latestOrder)
    tr("merge.force")(force(merged))
    probe.rowsIn += rows(normalized)
    probe.rowsOut += rows(merged)
    val out = Temporal.withExtractedAt(
      Normalize.renameReserved(Temporal.stringifyTemporals(merged)),
      cfg.timezone, clock)
    val table = Normalize.tableName(folder)
    write(cfg) {
      cfg.mode match {
        case Pipeline.OverwriteMode =>
          cfg.adapter.overwrite(out, cfg.warehouseDir, table)
        case Pipeline.MergeMode =>
          cfg.adapter.asInstanceOf[MergeCapableWarehouse]
            .mergeBootstrap(out, cfg.warehouseDir, table, cfg.keyCol)
      }
    }
    postCount(cfg, table)
  }

  /** Mirrors `Pipeline.incremental`. In merge mode the program merges
    * inside `mergeChanges`; the mirror then replays `Merge.merge` on the
    * touched slice of the previous version, which is what that verb merges.
    */
  def incremental(cfg: Pipeline.Config, folder: String,
      watermark: java.sql.Timestamp): Option[Long] = {
    val files = tr("watermark.list")(
      WatermarkStore.listFiles(spark, s"${cfg.sourceRoot}/$folder"))
    probe.filesListed += files.size
    val fresh = WatermarkStore.newFiles(files, Some(watermark))
    if (fresh.isEmpty) return None
    val table = Normalize.tableName(folder)
    val raw = tr("csv.infer")(Tables.readCsvFiles(spark, fresh))
    tr("csv.parse")(force(raw))
    val change = Pipeline.normalizeStage(raw, cfg.timezone, clock)
    tr("normalize.force")(force(change))
    cfg.mode match {
      case Pipeline.OverwriteMode =>
        val warehouse = tr("read.prune")(
          cfg.adapter.read(spark, cfg.warehouseDir, table))
        tr("merge.input")(force(warehouse))
        val merged = Merge.merge(warehouse, change, cfg.keyCol,
          Pipeline.latestOrder, Pipeline.bc2adlsTombstone)
        tr("merge.force")(force(merged))
        probe.rowsIn += rows(warehouse) + rows(change)
        probe.rowsOut += rows(merged)
        probe.touched += 1.0
        write(cfg)(cfg.adapter.replace(spark, cfg.warehouseDir, table, merged))
      case Pipeline.MergeMode =>
        val prev = tr("trace.probe")(
          ManifestVersioned.currentVersion(spark, cfg.warehouseDir, table))
        var touched: Seq[Seq[String]] = Nil
        var committed = 0
        write(cfg) {
          val (t, v) = cfg.adapter.asInstanceOf[MergeCapableWarehouse]
            .mergeChanges(spark, cfg.warehouseDir, table, change, cfg.keyCol,
              Pipeline.latestOrder, Pipeline.bc2adlsTombstone)
          touched = t
          committed = v
        }
        val shards = tr("trace.probe")(ManifestVersioned.manifestEntries(
          spark, cfg.warehouseDir, table, Some(committed)).size)
        probe.touched += touched.size.toDouble / shards
        if (touched.nonEmpty) {
          val slice = tr("trace.probe")(ManifestVersioned.readPartitionsMulti(
            spark, cfg.warehouseDir, table, touched, prev)
            .drop("_graft_shard"))
          tr("merge.input")(force(slice))
          val merged = Merge.merge(slice, change, cfg.keyCol,
            Pipeline.latestOrder, Pipeline.bc2adlsTombstone)
          tr("merge.force")(force(merged))
          probe.rowsIn += rows(slice) + rows(change)
          probe.rowsOut += rows(merged)
        }
    }
    Some(postCount(cfg, table))
  }

  /** Mirrors `Pipeline.run` (discovery, dispatch, per-folder isolation,
    * watermark commit after every folder).
    */
  def night(cfg: Pipeline.Config): Seq[Pipeline.TableResult] = {
    tr("pipeline.recover")(Pipeline.recover(spark, cfg))
    val folders = tr("pipeline.discover")(
      Pipeline.discoverFolders(spark, cfg, Nil))
    val state = tr("watermark.load")(WatermarkStore.load(spark, cfg.statePath))
    val results = folders.map { folder =>
      tr.folder = folder
      val rows = Try(tr("folder") {
        state.get(folder) match {
          case Some(wm) => incremental(cfg, folder, wm).getOrElse(0L)
          case None => fullLoad(cfg, folder)
        }
      })
      Pipeline.TableResult(folder, Normalize.tableName(folder), rows)
    }
    tr.folder = ""
    val ok = results.filter(_.rows.isSuccess).map(_.folder).toSet
    val marks = folders.filter(ok).flatMap { folder =>
      val files = tr("watermark.list")(
        WatermarkStore.listFiles(spark, s"${cfg.sourceRoot}/$folder"))
      probe.filesListed += files.size
      WatermarkStore.maxByCreated(folder, files)
    }
    val kept = state.collect {
      case (f, wm) if !marks.exists(_.folder == f) => Watermark(f, wm)
    }.toSeq
    if (marks.nonEmpty)
      tr("watermark.save")(WatermarkStore.save(spark, marks ++ kept,
        cfg.statePath))
    results
  }
}

/** The traced run. Pass A applies the nights through `Pipeline.run` with
  * only the job listener attached; pass B applies the same nights through
  * the [[Mirror]] into a second warehouse, then serves the read mix with a
  * span around each read's prune and execute steps. Both final tables go to
  * the output check, which also requires them to be equal.
  */
class TracedRun(run: Run) {
  import run.{c, emit, spark}

  private val sc = spark.sparkContext
  private val log = new JobLog
  private val tr = new Tracer(sc)
  private val mirror = new Mirror(run, tr)
  private val lookupFiles = mutable.ArrayBuffer[Int]()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def go(): Unit = {
    FsCounters.work = run.work.toString
    sc.addSparkListener(log)
    val nightsN = c.int("nights")

    val dirA = run.work.resolve("passA")
    run.land(0, dirA)
    tr.night = 0
    tr("night")(run.pipelineNight(dirA))
    run.nights(dirA, dir => {
      tr.night += 1
      tr("night")(run.pipelineNight(dir))
    })

    val dirB = run.work.resolve("passB")
    run.land(0, dirB)
    tr.night = 0
    tr("night")(mirror.night(run.cfg(dirB)))
    val versionsB = run.nights(dirB, dir => {
      tr.night += 1
      val t0 = System.nanoTime()
      val res = tr("night")(mirror.night(run.cfg(dir)))
      ((System.nanoTime() - t0) / 1e9, res.count(_.rows.isFailure))
    })
    emit("applied", versionsB.size - 1)

    val reads = mutable.ArrayBuffer[(String, Long)]()
    tr.night = -1
    val warmup = c.int("warmup")
    run.readOps(dirB.resolve("warehouse").toString,
        versionsB(c.int("asof_night"))).zipWithIndex.foreach { case (op, i) =>
      val df = tr(s"read.${op.kind}") {
        val df = tr("read.prune")(op.plan())
        val (ans, n) = tr("read.exec")(op.run(df))
        emit("read", op.kind, 0.0, ans)
        if (i >= warmup) reads += op.kind -> n
        df
      }
      if (op.kind == "lookup" && i >= warmup)
        lookupFiles += tr("trace.probe")(df.inputFiles.length)
    }
    JobLog.drain(sc)
    run.exportTables(dirA, "passA")
    run.exportTables(dirB, "passB")
    layers(nightsN, reads.toSeq)
    spans()
  }

  /** Per-layer metrics, each the median over the incremental nights of its
    * per-night total (read metrics: over the reads).
    */
  private def layers(nightsN: Int, reads: Seq[(String, Long)]): Unit = {
    val jobs = log.all
    val spans = tr.spans.toSeq
    val nightSpans = spans.filter(_.name == "night")
    def passOf(s: Span): String =
      if (nightSpans.indexOf(s) <= nightsN) "A" else "B"
    val nightsA = nightSpans.filter(s => passOf(s) == "A" && s.night >= 1)
    val nightsB = nightSpans.filter(s => passOf(s) == "B" && s.night >= 1)
    def jobsUnder(root: Span): Seq[JobRec] = {
      val ids = tr.subtree(root.id)
      jobs.filter(j => ids.contains(j.span))
    }
    def under(root: Span, name: String): Seq[Span] = {
      val ids = tr.subtree(root.id)
      spans.filter(s => s.name == name && ids.contains(s.id))
    }
    def secs(root: Span, name: String) = under(root, name).map(_.seconds).sum
    def jobsIn(root: Span, name: String) =
      under(root, name).flatMap(jobsUnder)
    def fs(root: Span, key: String) = root.fs.getOrElse(key, 0L).toDouble
    def perNight(name: String)(f: Span => Double): Unit =
      emit("layer", name, median(nightsB.map(f)))
    def probeOf(s: Span) = mirror.probes.getOrElse(s.night, new NightProbe)
    val sideSites = Set("BloomSidecar.scala", "NdvSidecar.scala",
      "ZoneMaps.scala")

    perNight("watermark.list_s")(secs(_, "watermark.list"))
    perNight("watermark.save_s")(secs(_, "watermark.save"))
    perNight("watermark.files_listed")(probeOf(_).filesListed.toDouble)
    perNight("csv.infer_s")(secs(_, "csv.infer"))
    perNight("csv.parse_s")(secs(_, "csv.parse"))
    perNight("csv.bytes_read")(n => (jobsIn(n, "csv.infer") ++
      jobsIn(n, "csv.parse")).map(_.inputBytes).sum.toDouble)
    perNight("csv.jobs")(jobsIn(_, "csv.infer").size.toDouble)
    perNight("normalize.self_s")(n =>
      secs(n, "normalize.force") - secs(n, "csv.parse"))
    perNight("merge.self_s")(n => secs(n, "merge.force") -
      secs(n, "normalize.force") - secs(n, "merge.input"))
    perNight("merge.shuffle_bytes")(
      jobsIn(_, "merge.force").map(_.shuffleWrite).sum.toDouble)
    perNight("merge.rows_in")(probeOf(_).rowsIn.toDouble)
    perNight("merge.rows_out")(probeOf(_).rowsOut.toDouble)
    perNight("write.s")(secs(_, "write"))
    perNight("write.jobs")(jobsIn(_, "write").size.toDouble)
    perNight("write.task_s")(jobsIn(_, "write").map(_.taskMs).sum / 1000.0)
    perNight("write.bytes")(probeOf(_).writeBytes.toDouble)
    perNight("write.files")(probeOf(_).writeFiles.toDouble)
    perNight("manifest.touched_ratio")(n => median(probeOf(n).touched.toSeq))
    perNight("manifest.opens")(fs(_, "mv.manifest_open"))
    perNight("manifest.list_calls")(fs(_, "mv.list"))
    perNight("manifest.status_calls")(fs(_, "mv.status"))
    perNight("manifest.stage_jobs")(
      jobsIn(_, "write").count(j => !sideSites(j.site)).toDouble)
    perNight("bloom.jobs")(
      jobsUnder(_).count(_.site == "BloomSidecar.scala").toDouble)
    perNight("bloom.tasks")(
      jobsUnder(_).filter(_.site == "BloomSidecar.scala").map(_.tasks).sum.toDouble)
    perNight("ndv.jobs")(
      jobsUnder(_).count(_.site == "NdvSidecar.scala").toDouble)
    perNight("zonemaps.footer_opens")(fs(_, "mv.footer_open"))
    perNight("pipeline.recover_s")(secs(_, "pipeline.recover"))
    perNight("pipeline.post_count_s")(secs(_, "pipeline.post_count"))

    val folders = Main.Tables.size.toDouble
    emit("layer", "pipeline.jobs_per_folder",
      median(nightsA.map(jobsUnder(_).size / folders)))
    emit("layer", "spark.jobs", median(nightsA.map(jobsUnder(_).size.toDouble)))
    emit("layer", "spark.task_s",
      median(nightsA.map(jobsUnder(_).map(_.taskMs).sum / 1000.0)))
    emit("layer", "spark.shuffle_bytes",
      median(nightsA.map(jobsUnder(_).map(_.shuffleWrite).sum.toDouble)))
    emit("layer", "trace.overhead_s",
      median(nightsB.map(_.seconds)) - median(nightsA.map(_.seconds)))

    val ops = spans.filter(s => s.parent == 0L && s.name.startsWith("read."))
      .drop(c.int("warmup"))
    def opsOf(kinds: String*) = ops.filter(s => kinds.contains(s.name.drop(5)))
    emit("layer", "read.prune_s",
      median(ops.flatMap(under(_, "read.prune")).map(_.seconds)))
    emit("layer", "read.exec_s",
      median(ops.flatMap(under(_, "read.exec")).map(_.seconds)))
    val lookups = opsOf("lookup")
    emit("layer", "read.files_scanned_per_lookup",
      if (lookupFiles.isEmpty) 0.0 else lookupFiles.sum.toDouble / lookupFiles.size)
    emit("layer", "read.meta_ops_per_lookup", if (lookups.isEmpty) 0.0 else
      lookups.map(s => fs(s, "mv.list") + fs(s, "mv.status") +
        fs(s, "mv.manifest_open")).sum / lookups.size)
    val keyed = opsOf("lookup", "keyset")
    val returned = reads.filter(r => r._1 == "lookup" || r._1 == "keyset")
      .map(_._2).sum
    val scanned = keyed.flatMap(under(_, "read.exec")).flatMap(jobsUnder)
      .map(_.inputRecords).sum
    emit("layer", "read.rows_scanned_per_row_returned",
      if (returned == 0) 0.0 else scanned.toDouble / returned)
  }

  /** All spans, one line each: id, parent, name, night, folder, start and
    * end in nanoseconds of the JVM's monotonic clock.
    */
  private def spans(): Unit = {
    val w = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(
      run.work.resolve("spans.tsv")))
    try tr.spans.sortBy(_.id).foreach(s => w.println(Seq(s.id, s.parent,
      s.name, s.night, s.folder, s.startNs, s.endNs).mkString("\t")))
    finally w.close()
  }
}
