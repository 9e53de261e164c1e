package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.{CsvSniffSource, Sinks}

/** The reference's complete lifecycle (etl/etl_main.py main(), SURVEY.md
  * §3.1) over housing-shaped CSV input: sniff → canonicalize → enrich with
  * local authority → weekly stats → densify → rolling windows → anomaly
  * flags → latest snapshot → QA — every stage a lazy plan, executed only at
  * the sinks.
  *
  * This is the user-facing parity API (the graded queries in SparkEntry
  * exercise the same operators against the driver testdata); the fixture
  * corpus in HousingEtlSpec mirrors FIXTURES.md §2.
  */
object HousingEtl {

  /** The run's outputs. `shared` holds the frames several outputs are built
    * from, in dependency order: the enriched parse (invalid-date rows
    * included) and the unsorted weekly stats, which both the sorted
    * `weekly` artifact and the densify grid read. A caller that executes
    * more than one output persists these first (see `HousingEtlMain.runCli`),
    * so every output reads them from the cache.
    */
  final case class Outputs(weekly: DataFrame, typeBreakdown: Option[DataFrame],
      coveragePct: DataFrame, windows: DataFrame, anomalies: DataFrame,
      snapshot: DataFrame, qa: DataFrame, shared: Seq[DataFrame])

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Stage-boundary diagnostics channel, mirroring the reference's
    * info-level logger (etl_main.py:56-57 setup; parse diagnostics at
    * 129/132/135, branch decisions throughout). Injectable so tests can
    * assert the lines; defaults to slf4j.
    */
  def defaultLog: String => Unit = logger.info(_)

  def run(spark: SparkSession, rawCsvPath: String,
          lookupPath: Option[String] = None,
          windows: Seq[Int] = Rolling.DefaultWindows,
          zThresh: Double = 3.0,
          log: String => Unit = defaultLog): Outputs = {
    val (raw, rc) = CsvSniffSource.sniffCsv(spark, rawCsvPath)
    // The reference logs each stage's decisions eagerly because pandas is
    // eager; a lazy engine logs its PLAN-TIME decisions here (separator,
    // resolved columns, branch taken) and leaves measured metrics to the
    // sinks (runCli logs the QA report once artifacts are written).
    log(s"parse: sep=${if (rc.sep == "\t") "\\t" else rc.sep} " +
      s"date=${rc.date} price=${rc.price} " +
      s"id=${rc.id.getOrElse("<synthetic>")} " +
      s"postcode=${rc.postcode.getOrElse("<absent>")} " +
      s"prop_type=${rc.propType.getOrElse("<absent>")}")
    // One parse feeds every output: the canonical frame still holds the
    // invalid-date rows, so QA's rows_raw counts the same scan the outputs
    // read. Its projection also drops any source local_authority column,
    // which the lookup below replaces (the reference ASSIGNS
    // df["local_authority"], etl_main.py:181-190).
    val canon = CsvSniffSource.toCanonical(raw, rc)

    // J1 / P9 — lookup enrichment with prefix fallback
    // (etl_main.py:178-191): invalid or absent lookup → postcode[:4].
    // A lookup that repeats a postcode fans a fact row out (pandas merge
    // semantics), so `parsed_row` marks exactly one joined row per parsed
    // row: rows_raw is counted on it instead of on the pre-join frame,
    // which would be a second scan of the CSV.
    val base = lookupPath.map(CsvSniffSource.readLookup(spark, _)) match {
      case Some(Right(lookup)) =>
        log(s"lookup: joined ${lookupPath.get}")
        val firstMatch = lookup.withColumn("parsed_row", row_number().over(
          Window.partitionBy("pc_nospace").orderBy("local_authority")) === 1)
        Joins.lookupJoin(canon, firstMatch, canon("postcode") === firstMatch("pc_nospace"))
          .drop("pc_nospace")
          .withColumn("parsed_row", coalesce(col("parsed_row"), lit(true)))
      case other =>
        // the Left carries WHICH failure happened (missing file vs wrong
        // columns) — the reference logs them distinctly (etl_main.py:177-182)
        log(other match {
          case Some(Left(reason)) => s"$reason - postcode-prefix fallback"
          case _ => "lookup: none - postcode-prefix fallback"
        })
        canon.withColumn("local_authority", CoreOps.prefixKey(col("postcode")))
          .withColumn("parsed_row", lit(true))
    }
    // P3 — the invalid-date drop (etl_main.py:158-159)
    val withLa = base.where(col("date").isNotNull).drop("parsed_row")

    // pandas groupby parity (etl_main.py:213/223, dropna defaults true):
    // rows whose local_authority resolved to NaN are excluded from BOTH
    // grouped outputs — and from the densify grid axes, whose week range
    // the reference derives from the (already filtered) weekly frame. They
    // still count in coverage and QA, which the reference computes on the
    // full frame before grouping.
    val grouped = withLa.where(col("local_authority").isNotNull)

    val coverage = withLa.agg(
      Joins.coveragePct(col("local_authority")).as("coverage_pct"))

    val weekly = WeeklyAgg.weeklyStatsCore(grouped, col("date"),
      col("local_authority"), col("transaction_id"), col("price"))

    val typeBreak =
      if (withLa.columns.contains("prop_type"))
        // astype(str) parity (etl_main.py:223): pandas stringifies the
        // type column BEFORE grouping, so a missing prop_type becomes the
        // literal "nan" group — it is local_authority NaN that drops the
        // row, never prop_type.
        Some(WeeklyAgg.typeBreakdown(
          grouped.withColumn("prop_type",
            coalesce(col("prop_type"), lit("nan"))),
          col("date"), col("local_authority"), col("prop_type")))
      else None  // etl_main.py:221-225: breakdown only when a type col exists
    log(s"type breakdown: ${if (typeBreak.isDefined) "enabled"
      else "skipped (no property-type column)"}")
    log(s"windows: ${windows.mkString(", ")} weeks; z-threshold $zThresh")

    // Cheap (week, dim) projection for the densify grid axes and the
    // snapshot's max week — avoids re-evaluating the CSV-scan → weekly-agg
    // lineage inside 1-row bound subtrees (same escape hatch Pipeline uses).
    val weekDim = grouped.select(
      CoreOps.weekStart(col("date")).as("week"),
      col("local_authority").as("dim"))
    val dense = Densify.densify(
      weekly.select("week", "dim", "transactions", "price_mean"),
      fillZero = Seq("transactions"),
      gridFrom = Some(weekDim))
    val rolled = Rolling.rollingWindows(dense, windows)
    val anomalies = Anomaly.detectAnomalies(rolled, zThresh)
    val snapshot = Snapshot.latestWeek(rolled, latestFrom = Some(weekDim))
    // QA parity (etl_main.py:344-350): rows_raw counts the RAW parse —
    // before the invalid-date drop — while the other metrics describe the
    // cleaned frame; a 1-row cross join keeps both lazy.
    val qa = base.agg(count_if(col("parsed_row")).as("rows_raw")).crossJoin(
      withLa.withColumn("week", CoreOps.weekStart(col("date"))).agg(
        count_distinct(col("local_authority")).as("dims"),
        Joins.coveragePct(col("local_authority")).as("coverage_pct"),
        max(col("week")).as("latest_week")))

    Outputs(weekly.orderBy("dim", "week"), typeBreak, coverage, rolled,
      anomalies, snapshot, qa, shared = Seq(base, weekly))
  }

  /** The artifact tabs (S6; etl_main.py:387-401), in the reference's order. */
  def artifactTabs(out: Outputs): Seq[(String, DataFrame)] =
    Seq("weekly" -> out.weekly) ++ out.typeBreakdown.map("type_breakdown" -> _) ++
      Seq("windows" -> out.windows, "anomalies" -> out.anomalies,
        "latest_snapshot" -> out.snapshot, "qa" -> out.qa)

  /** Artifact export (S6; etl_main.py:387-401): writes every tab and
    * collects the 1-row QA report, and returns the QA row.
    *
    * Each write is a few small jobs, mostly single-task stages, so one
    * after another they leave the cores idle. Here they run in three waves;
    * a wave's tasks run side by side, one thread each, and a wave starts
    * once the one before it has finished. The waves follow the outputs'
    * dependencies, so each frame a caller has cached is built by one wave
    * before the next reads it (concurrent readers of a cache not yet built
    * each run a job to build it): the QA collect reads only the parsed
    * input, the next wave the tabs built from the shared frames, the last
    * the two tabs built from `windows`. Every started task is awaited and
    * the first failure, in tab order, is rethrown, so a failed artifact
    * still fails the run and leaves no job running.
    */
  def writeArtifacts(out: Outputs, sink: Sinks.ReportSink): Row = {
    var qaRow: Row = null
    val (fromWindows, fromShared) = artifactTabs(out).partition { case (tab, _) =>
      tab == "anomalies" || tab == "latest_snapshot"
    }
    def writes(tabs: Seq[(String, DataFrame)]): Seq[() => Unit] =
      tabs.map { case (tab, df) => () => sink.write(tab, df) }
    inWaves(Seq(Seq(() => qaRow = out.qa.collect().head),
      writes(fromShared), writes(fromWindows)))
    qaRow
  }

  /** Runs the waves in order, each wave's tasks on threads of their own,
    * and throws the first failure of a wave once all its tasks are done.
    * The pool lives for the call and its threads are started from the
    * calling thread, so they inherit its Spark local properties (job group,
    * scheduler pool, and any listener tags the caller set).
    */
  private def inWaves(waves: Seq[Seq[() => Unit]]): Unit = {
    val pool = Executors.newFixedThreadPool(waves.map(_.size).sum)
    try waves.foreach { wave =>
      val futures = wave.map(task => pool.submit(new Callable[Unit] {
        def call(): Unit = task()
      }))
      val failures = futures.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(e => throw e)
    } finally pool.shutdown()
  }
}
