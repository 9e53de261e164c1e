package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.Rolling
import graft.sources.{HttpFetcher, Sinks}

/** CLI entry point mirroring the reference's daily invocation
  * (`etl/etl_main.py:320-326` argparse surface, driven by
  * `daily-etl.yml:43-45`):
  *
  * {{{
  * runMain graft.HousingEtlMain --input <url-or-csv> [--lookup <csv>]
  *   [--force-download] [--no-upload] [--bq-table project.dataset.table]
  *   [--windows 4 12 ...] [--cache-dir d] [--out artifacts]
  * }}}
  *
  * Flag semantics match the reference: `--force-download` bypasses the
  * 24 h landing-zone cache; `--no-upload` skips the push sinks (Sheets /
  * BigQuery analogs) while local CSV artifacts are always written;
  * `--bq-table` routes the windows table to the warehouse sink;
  * `--windows` overrides the rolling widths (nargs-style: consumes ints
  * until the next `--flag`).
  */
object HousingEtlMain {

  final case class Config(
      input: String = "",
      lookup: Option[String] = None,
      cacheDir: String = "./data_cache",
      outDir: String = "./artifacts",
      forceDownload: Boolean = false,
      noUpload: Boolean = false,
      bqTable: Option[String] = None,
      windows: Seq[Int] = Rolling.DefaultWindows)

  def parseArgs(args: Seq[String]): Config = {
    def loop(rest: List[String], cfg: Config): Config = rest match {
      case Nil => cfg
      case "--force-download" :: t => loop(t, cfg.copy(forceDownload = true))
      case "--no-upload" :: t => loop(t, cfg.copy(noUpload = true))
      case "--bq-table" :: v :: t => loop(t, cfg.copy(bqTable = Some(v)))
      case "--input" :: v :: t => loop(t, cfg.copy(input = v))
      case "--lookup" :: v :: t => loop(t, cfg.copy(lookup = Some(v)))
      case "--cache-dir" :: v :: t => loop(t, cfg.copy(cacheDir = v))
      case "--out" :: v :: t => loop(t, cfg.copy(outDir = v))
      case "--windows" :: t =>
        val (ws, t2) = t.span(a => !a.startsWith("--"))
        require(ws.nonEmpty, "--windows needs at least one width")
        val widths = ws.map(a => a.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"--windows expects positive integers, got: $a")))
        require(widths.forall(_ > 0),
          s"--windows widths must be positive, got: ${widths.mkString(" ")}")
        loop(t2, cfg.copy(windows = widths))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val cfg = loop(args.toList, Config())
    require(cfg.input.nonEmpty, "--input <url-or-csv-path> is required")
    cfg
  }

  /** The full daily run, sinks injected for testability: fetch through the
    * landing zone (retried HTTP for URLs, file copy for local paths), run
    * the pipeline, always write local CSV artifacts (to `artifacts(outDir)`,
    * CSV files by default), and unless `--no-upload` push the report tabs
    * and optionally the windows table to the warehouse sink — the
    * reference's upload block (etl_main.py:365-385). Logs the QA report
    * after the artifacts and one `timing:` line of per-stage wall seconds
    * after the pushes.
    */
  def runCli(spark: SparkSession, cfg: Config,
             push: Sinks.ReportSink,
             warehouse: String => Sinks.ReportSink,
             log: String => Unit = HousingEtl.defaultLog,
             artifacts: String => Sinks.ReportSink = new Sinks.CsvDirSink(_))
      : HousingEtl.Outputs = {
    val timings = mutable.ArrayBuffer.empty[(String, Double)]
    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime
      try body finally timings += stage -> (System.nanoTime - t0) / 1e9
    }
    // Scheme match is case-insensitive (RFC 3986; python-requests — the
    // reference's client — accepts HTTPS://...), else an uppercase-scheme
    // URL would be treated as a local file path and die in Files.copy.
    val scheme = cfg.input.toLowerCase(java.util.Locale.ROOT)
    val fetcher: java.nio.file.Path => Unit =
      if (scheme.startsWith("http://") || scheme.startsWith("https://"))
        new HttpFetcher(cfg.input)
      else
        dest => Files.copy(Paths.get(cfg.input), dest,
          StandardCopyOption.REPLACE_EXISTING)
    val zone = new Sinks.LandingZone(cfg.cacheDir)
    val raw = timed("fetch")(zone.fetch(fetcher, force = cfg.forceDownload))

    val out = timed("plan")(HousingEtl.run(spark, raw.toString, cfg.lookup,
      windows = cfg.windows, log = log))

    // Every output is built from one parse of the CSV (out.shared: the
    // enriched parse, then the unsorted weekly stats), and each report tab
    // is read by its artifact write and again by its push. Persisting the
    // shared frames first, then the tabs in dependency order, lets the
    // cache manager substitute each cached plan into every later plan that
    // contains it, so the CSV is scanned once and no tab is computed
    // twice, including while the artifact writes run concurrently.
    val cached = out.shared ++ HousingEtl.artifactTabs(out).map(_._2)
    cached.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      // The QA report the reference logs after its transform (coverage at
      // etl_main.py:196, summary metrics at 344-350) — emitted once the
      // artifacts are safely on disk; writeArtifacts collects the 1-row
      // report alongside them.
      val qaRow = timed("artifacts")(
        HousingEtl.writeArtifacts(out, artifacts(cfg.outDir)))
      log(s"qa: rows_raw=${qaRow.getAs[Long]("rows_raw")} " +
        s"dims=${qaRow.getAs[Long]("dims")} " +
        s"coverage_pct=${qaRow.getAs[Double]("coverage_pct")} " +
        s"latest_week=${qaRow.getAs[java.sql.Timestamp]("latest_week")}")

      // Push-sink failure tolerance (etl_main.py:374-385): the Sheets-style
      // upload block and the warehouse push are each wrapped in
      // log-and-continue — an export outage must not fail the daily run. The
      // CSV artifacts above stay fatal (the reference does not guard them):
      // they are the system of record, and they were written before any push
      // was attempted, so nothing is lost when a push dies.
      if (!cfg.noUpload) {
        def pushTab(tab: String, df: DataFrame): Unit =
          timed(s"push:$tab")(push.write(tab, df))
        try {
          pushTab("weekly_by_la", out.weekly)
          pushTab("windows", out.windows)
          pushTab("latest", out.snapshot)
          pushTab("anomalies", out.anomalies)
          out.typeBreakdown.foreach(pushTab("type_breakdown", _))
          pushTab("qa", out.qa)
        } catch {
          case scala.util.control.NonFatal(e) =>
            log(s"push sink failed (continuing): $e")
        }
        cfg.bqTable.foreach { t =>
          try timed(s"warehouse:$t")(warehouse(t).write("windows", out.windows))
          catch {
            case scala.util.control.NonFatal(e) =>
              log(s"warehouse sink failed for $t (continuing): $e")
          }
        }
      }
      log("timing: " + timings.map { case (stage, s) =>
        s"$stage=${"%.3f".formatLocal(java.util.Locale.ROOT, s)}s"
      }.mkString(" "))
    } finally {
      // in a finally, after the push block: the tabs are read again up
      // there (unpersisting earlier would recompute them), and a throw from
      // writeArtifacts or a non-NonFatal push error must not leak the
      // cached plans for the life of a long-lived application's session
      cached.foreach(_.unpersist())
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args.toIndexedSeq)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // Default push sink logs tab shapes (the real Sheets client is
      // deployment config, like GCP_SA_JSON in the reference); the
      // warehouse sink is the generic format-parameterized writer.
      val logPush = new Sinks.StringifiedPushSink((tab, rows) =>
        println(s"[push] $tab: ${rows.size - 1} rows x ${rows.head.size} cols"))
      runCli(spark, cfg, logPush,
        t => new Sinks.WriterSink("bigquery", Map("table" -> t)))
      println(s"[etl] artifacts written to ${cfg.outDir}")
    } finally spark.stop()
  }
}
