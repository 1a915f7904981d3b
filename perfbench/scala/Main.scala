package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.core.Pipeline
import graft.io.{ManifestVersioned, ManifestWarehouseAdapter}

/** Key/value run settings written by `run.py`. */
final class Conf(path: Path) {
  private val p = new java.util.Properties()
  locally {
    val in = Files.newInputStream(path)
    try p.load(in) finally in.close()
  }
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(sys.error(s"missing setting $k"))
  def int(k: String): Int = apply(k).toInt
}

/** One read of the closed-loop client: `plan` resolves the pruned relation
  * (the manifest, zone-map and bloom work done before any job), `run`
  * executes it and renders the answer in the text form `check.py` expects.
  */
final case class ReadOp(kind: String, plan: () => DataFrame,
    run: DataFrame => (String, Long))

/** The nightly-ELT benchmark harness: sets up a warehouse, applies nights
  * through `Pipeline.run`, serves a read mix, and exports the final tables
  * for the output check. `trace=1` runs the traced mirror instead.
  */
object Main {
  val Tables = Seq("orders", "lineitem")
  val ReadTable = "orders"
  val Shards = 8

  def main(args: Array[String]): Unit = {
    val c = new Conf(Paths.get(args(0)))
    val trace = c.int("trace") == 1
    val b = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(c("work"), "spark-local").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, c)
    try {
      if (trace) new TracedRun(run).go() else run.go()
    } finally {
      run.out.close()
      spark.stop()
    }
  }
}

/** State and steps shared by the untraced and the traced run. */
class Run(val spark: SparkSession, val c: Conf) {
  import Main._

  val work: Path = Paths.get(c("work")).toAbsolutePath
  val out = new PrintWriter(Files.newBufferedWriter(work.resolve("report.tsv")))
  val mode: Pipeline.LoadMode = c("mode") match {
    case "overwrite" => Pipeline.OverwriteMode
    case "merge" => Pipeline.MergeMode
  }
  val adapter = new ManifestWarehouseAdapter(shards = Shards,
    mergeKey = Some("systemid"))

  def emit(fields: Any*): Unit = out.println(fields.mkString("\t"))

  def cfg(dir: Path): Pipeline.Config = Pipeline.Config(
    sourceRoot = dir.resolve("src").toString,
    warehouseDir = dir.resolve("warehouse").toString,
    statePath = dir.resolve("state/latest.csv").toString,
    adapter = adapter, mode = mode)

  /** Copies night `n`'s change-set files into `dir/src`, keeping the mtimes
    * the generator stamped on them.
    */
  def land(n: Int, dir: Path): Unit = {
    val night = work.resolve(f"nights/night$n%03d")
    Files.list(night).iterator().asScala.foreach { folder =>
      val dst = dir.resolve("src").resolve(folder.getFileName)
      Files.createDirectories(dst)
      Files.list(folder).iterator().asScala.foreach { f =>
        Files.copy(f, dst.resolve(f.getFileName),
          StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  /** Every regular file under `dir` with its (size, mtime). */
  def files(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toMap

  /** (bytes, files) present in `after` and not, unchanged, in `before`. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Long, Int) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.map(_._1).sum, fresh.size)
  }

  def dirBytes(p: Path): Long = files(p).values.map(_._1).sum

  /** Bytes the live version of every table references: its manifest, the
    * generation dirs, delete vectors and bloom sidecars of its entries.
    */
  def liveBytes(wh: Path): Long = Tables.map { t =>
    val base = wh.resolve(s"$t.mv")
    val v = ManifestVersioned.currentVersion(spark, wh.toString, t).get
    val entries = ManifestVersioned.manifestEntries(spark, wh.toString, t)
    val dirs = entries.values.toSeq
      .flatMap(e => Seq(e.dir) ++ e.deletes ++ e.bloom).distinct
    Files.size(base.resolve(f"_manifest.v$v%05d")) +
      dirs.map(d => dirBytes(base.resolve(d))).sum
  }.sum

  def version(wh: Path): Int =
    ManifestVersioned.currentVersion(spark, wh.toString, ReadTable).get

  /** One night through the program's own entry point; returns the seconds
    * it took and the number of folders that failed.
    */
  def pipelineNight(dir: Path): (Double, Int) = {
    val t0 = System.nanoTime()
    val report = Pipeline.run(spark, cfg(dir))
    val s = (System.nanoTime() - t0) / 1e9
    report.tables.filter(_.rows.isFailure).foreach(r =>
      System.err.println(s"folder ${r.folder} failed: ${r.rows.failed.get}"))
    (s, report.tables.count(_.rows.isFailure))
  }

  /** Applies nights 1 to `nights` to the warehouse under `dir` through
    * `step`, recording each as a `night` line and the space used after the
    * last. Returns the committed version of `orders` after each night,
    * night 0 first.
    */
  def nights(dir: Path, step: Path => (Double, Int)): IndexedSeq[Int] = {
    val wh = dir.resolve("warehouse")
    val versions = (1 to c.int("nights")).scanLeft(version(wh)) { (_, n) =>
      land(n, dir)
      val before = files(wh)
      val (s, failed) = step(dir)
      val (bytes, nfiles) = written(before, files(wh))
      val v = version(wh)
      emit("night", n, s, failed, bytes, nfiles, v)
      v
    }
    emit("space", dirBytes(wh), liveBytes(wh))
    versions
  }

  /** The read mix against `orders`, one op per line of `reads.tsv`, run
    * once each in file order.
    */
  def readOps(wh: String, asOf: Int): IndexedSeq[ReadOp] = {
    def agg(df: DataFrame): (String, Long) = {
      val r = df.agg(count(lit(1)), sum(col("orderkey"))).first()
      (s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}",
        r.getLong(0))
    }
    def filtered(cond: org.apache.spark.sql.Column) = () =>
      ManifestVersioned.readFiltered(spark, wh, ReadTable, cond)
    Files.readAllLines(work.resolve("reads.tsv")).asScala.toIndexedSeq.map {
      line =>
        val f = line.split("\t")
        f(0) match {
          case "lookup" => ReadOp("lookup", filtered(col("systemid") === f(1)),
            df => {
              val rows = df.select("orderkey", "totalprice").collect()
              (rows.map(r => f"${r.getInt(0)}:${r.getDouble(1)}%.2f")
                .sorted.mkString(","), rows.length.toLong)
            })
          case "keyset" =>
            val keys = f(1).split(",").toSeq
            ReadOp("keyset", filtered(col("systemid").isin(keys: _*)), df => {
              val rows = df.select("systemid").collect().map(_.getString(0))
              (rows.sorted.mkString(","), rows.length.toLong)
            })
          case "range" => ReadOp("range",
            filtered(col("orderkey").between(f(1).toInt, f(2).toInt)), agg)
          case "asof" => ReadOp("asof",
            () => ManifestVersioned.read(spark, wh, ReadTable, Some(asOf)), agg)
          case "history" => ReadOp("history",
            () => ManifestVersioned.history(spark, wh, ReadTable), df => {
              val n = df.collect().length.toLong
              (n.toString, n)
            })
          case "scan" => ReadOp("scan",
            () => adapter.read(spark, wh, ReadTable), df => {
              val rows = df.groupBy("orderstatus")
                .agg(count(lit(1)), sum(col("orderkey"))).collect()
              (rows.map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
                .sorted.mkString(","), rows.length.toLong)
            })
        }
    }
  }

  def timedRead(op: ReadOp): Unit = {
    val t0 = System.nanoTime()
    val res = Try(op.run(op.plan()))
    val ms = (System.nanoTime() - t0) / 1e6
    res.failed.foreach(e => System.err.println(s"read ${op.kind} failed: $e"))
    emit("read", op.kind, ms, res.map(_._1).getOrElse("ERROR"))
  }

  /** Writes the live version of every table, minus the wall-clock audit
    * column, as parquet under `out/<tag>` for the output check.
    */
  def exportTables(dir: Path, tag: String): Unit = Tables.foreach { t =>
    adapter.read(spark, dir.resolve("warehouse").toString, t)
      .drop("extracted_at")
      .write.mode("overwrite").parquet(work.resolve(s"out/$tag/$t").toString)
  }

  def go(): Unit = {
    var live: Path = null
    (0 until c.int("setup_reps")).foreach { i =>
      live = work.resolve(s"setup$i")
      land(0, live)
      val (s, failed) = pipelineNight(live)
      emit("setup", i, s, failed)
    }
    val versions = nights(live, pipelineNight)
    emit("applied", versions.size - 1)
    readOps(live.resolve("warehouse").toString, versions(c.int("asof_night")))
      .foreach(timedRead)
    exportTables(live, "untraced")
  }
}
