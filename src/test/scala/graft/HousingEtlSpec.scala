package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.GraftTestAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{CsvSniffSource, Sinks}

/** End-to-end pipeline tests over the reference-shaped fixture corpus
  * (FIXTURES.md §2): separator sniffing, coercing cleans, lookup
  * normalization + fallback branches, synthetic ids, conditional type
  * breakdown, and the full stage chain through anomalies/QA.
  */
class HousingEtlSpec extends SparkTestBase {

  private val header =
    "transaction_unique_identifier,price,date_of_transfer,postcode,property_type"
  private val rows = Seq(
    "T1,250000,2024-01-02 00:00,SW1A 1AA,D",
    "T2,noprice,2024-01-03 00:00,sw1a1aa ,S",      // price coerce→null (P5)
    "T3,185000,not-a-date,EC1A 1BB,T",             // date coerce→row drop (P3)
    "T4,420000,2023-12-31 00:00,,F",               // null postcode (P6/P9)
    "T5,300000,2024-01-09 00:00,SW1A 1AA,D")

  private def tmpFile(name: String, content: String): String = {
    val dir: Path = Files.createTempDirectory("graft-fixture")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private def pricePaidCsv(sep: String = ",", dropId: Boolean = false,
                           dropType: Boolean = false): String = {
    def mangle(line: String): String = {
      val cells = line.split(",", -1).toSeq
      val kept = (if (dropId) cells.drop(1) else cells)
        .dropRight(if (dropType) 1 else 0)
      kept.mkString(sep)
    }
    tmpFile("pp.csv", (header +: rows).map(mangle).mkString("\n"))
  }

  private val lookupCsv = tmpFile("lookup.csv",
    "postcode,local_authority\nsw1a 1aa,Westminster\nEC1A1BB,Islington\n")
  private val badLookupCsv = tmpFile("bad_lookup.csv",
    "postcode,council\nSW1A1AA,Westminster\n")

  // The plain lookup-enriched run is read-only input to several tests —
  // build its lineage once instead of re-running the whole pipeline per
  // test.
  private lazy val lookupOut = HousingEtl.run(spark, pricePaidCsv(), Some(lookupCsv))

  test("S8 WriterSink: configured destination wins over the tab-derived default") {
    val sink = new Sinks.WriterSink("bigquery", Map("table" -> "proj.ds.windows"))
    assert(sink.effectiveOptions("windows") == Map("table" -> "proj.ds.windows"))
    // no configured table → the tab names the destination
    val bare = new Sinks.WriterSink("bigquery", Map("project" -> "p"))
    assert(bare.effectiveOptions("windows") ==
      Map("table" -> "windows", "project" -> "p"))
  }

  test("S4 sniffing accepts comma, tab, pipe, and semicolon variants identically") {
    for (sep <- Seq(",", "\t", "|", ";")) {
      val (df, rc) = CsvSniffSource.sniffCsv(spark, pricePaidCsv(sep))
      assert(rc.date == "date_of_transfer" && rc.price == "price")
      assert(rc.id.contains("transaction_unique_identifier"))
      assert(df.count() == 5)
    }
  }

  test("end-to-end with lookup: normalization joins, bad rows coerced") {
    val out = lookupOut
    val weekly = out.weekly.collect()
    // T3 dropped (bad date). T1/T2 week 2024-01-01 Westminster (both map via
    // normalized keys), T5 week 2024-01-08 Westminster. T4 (null postcode →
    // no lookup match → NaN LA) is dropped from the grouped outputs like
    // pandas groupby dropna (etl_main.py:213) — it still counts in
    // coverage/QA below.
    assert(weekly.length == 2)
    val wm = weekly.filter(_.getAs[String]("dim") == "Westminster")
    assert(wm.map(_.getAs[Long]("transactions")).toSeq.sorted == Seq(1L, 2L))
    // price_mean of week1 Westminster: only T1 has a valid price → 250000
    val w1 = wm.filter(_.getTimestamp(0).toString.startsWith("2024-01-01")).head
    assert(w1.getAs[Double]("price_mean") == 250000.0)
    assert(out.coveragePct.collect().head.getDouble(0) == 75.0)  // 3 of 4
    assert(out.typeBreakdown.isDefined)
    // full chain executes: anomalies and snapshot non-empty, qa is 1 row
    assert(out.anomalies.count() > 0)
    val qa = out.qa.collect()
    assert(qa.length == 1)
    // rows_raw counts the RAW parse (5 rows incl. the bad-date one), like
    // the reference's len(df_raw) — not the post-clean count of 4.
    assert(qa.head.getAs[Long]("rows_raw") == 5L)
  }

  test("invalid lookup schema falls back to postcode prefix (P9)") {
    val out = HousingEtl.run(spark, pricePaidCsv(), Some(badLookupCsv))
    val dims = out.weekly.select("dim").collect().map(r =>
      Option(r.getString(0))).toSet
    assert(dims.contains(Some("SW1A")))  // prefix of normalized postcode
  }

  test("nonexistent lookup path falls back instead of crashing (etl_main.py:177)") {
    val out = HousingEtl.run(spark, pricePaidCsv(),
      Some("/nonexistent/rotated-away-lookup.csv"))
    assert(out.weekly.where("dim = 'SW1A'").count() == 2)
  }

  test("--windows rejects non-positive and non-numeric widths at parse time") {
    intercept[IllegalArgumentException](
      HousingEtlMain.parseArgs(Seq("--input", "x", "--windows", "0")))
    intercept[IllegalArgumentException](
      HousingEtlMain.parseArgs(Seq("--input", "x", "--windows", "4", "x")))
  }

  test("no lookup at all also uses prefix fallback") {
    val out = HousingEtl.run(spark, pricePaidCsv(), None)
    assert(out.weekly.where("dim = 'SW1A'").count() == 2)
  }

  test("missing id column → synthetic ids still count distinct rows (P4)") {
    val out = HousingEtl.run(spark, pricePaidCsv(dropId = true), Some(lookupCsv))
    assert(out.weekly.agg(org.apache.spark.sql.functions.sum("transactions"))
      .collect().head.getLong(0) == 3L)  // 4 valid-date rows minus NaN-LA T4
  }

  test("missing property_type column → no type breakdown (A5 branch)") {
    val out = HousingEtl.run(spark, pricePaidCsv(dropType = true), Some(lookupCsv))
    assert(out.typeBreakdown.isEmpty)
  }

  test("S6 CSV artifacts round-trip") {
    val dir = Files.createTempDirectory("graft-artifacts").toString
    val out = lookupOut
    HousingEtl.writeArtifacts(out, new Sinks.CsvDirSink(dir))
    val weekly = spark.read.option("header", "true").csv(s"$dir/weekly")
    assert(weekly.count() == out.weekly.count())
  }

  test("S7 stringified push sink: nulls become empty strings") {
    import spark.implicits._
    var pushed: Seq[Seq[String]] = Nil
    val sink = new Sinks.StringifiedPushSink((_, rows) => pushed = rows)
    sink.write("weekly", lookupOut.weekly)
    assert(pushed.head == lookupOut.weekly.columns.toSeq)
    assert(pushed.flatten.forall(_ != null))
    // the advertised null -> "" coalesce, pinned on an actual null cell
    // (the weekly fixture happens to be fully non-null)
    sink.write("t", Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("id", "s"))
    assert(pushed == Seq(Seq("id", "s"), Seq("1", "x"), Seq("2", "")))
  }

  test("CLI arg parsing mirrors etl_main.py:320-326") {
    val cfg = HousingEtlMain.parseArgs(Seq(
      "--input", "/x/pp.csv", "--lookup", "/x/lk.csv", "--force-download",
      "--no-upload", "--bq-table", "p.d.t", "--windows", "2", "8",
      "--out", "/x/art"))
    assert(cfg.input == "/x/pp.csv" && cfg.lookup.contains("/x/lk.csv"))
    assert(cfg.forceDownload && cfg.noUpload && cfg.bqTable.contains("p.d.t"))
    assert(cfg.windows == Seq(2, 8) && cfg.outDir == "/x/art")
    // defaults: reference DEFAULT_WINDOWS, upload on
    val d = HousingEtlMain.parseArgs(Seq("--input", "x"))
    assert(d.windows == graft.ops.Rolling.DefaultWindows && !d.noUpload)
    intercept[IllegalArgumentException](
      HousingEtlMain.parseArgs(Seq("--input", "x", "--bogus")))
    intercept[IllegalArgumentException](HousingEtlMain.parseArgs(Seq()))
  }

  test("CLI end-to-end: artifacts always, pushes unless --no-upload, bq routing") {
    val outDir = Files.createTempDirectory("graft-cli-art").toString
    val cacheDir = Files.createTempDirectory("graft-cli-cache").toString
    var pushedTabs = Vector.empty[String]
    var bqWrites = Vector.empty[(String, String)]
    val push = new Sinks.ReportSink {
      def write(tab: String, df: org.apache.spark.sql.DataFrame): Unit =
        pushedTabs :+= tab
    }
    def warehouse(table: String) = new Sinks.ReportSink {
      def write(tab: String, df: org.apache.spark.sql.DataFrame): Unit =
        bqWrites :+= (table, tab)
    }
    val cfg = HousingEtlMain.Config(input = pricePaidCsv(),
      lookup = Some(lookupCsv), cacheDir = cacheDir, outDir = outDir,
      bqTable = Some("proj.ds.windows"), windows = Seq(2, 4))
    val out = HousingEtlMain.runCli(spark, cfg, push, warehouse)
    assert(out.weekly.count() == 2)
    assert(pushedTabs == Vector("weekly_by_la", "windows", "latest",
      "anomalies", "type_breakdown", "qa"))
    assert(bqWrites == Vector(("proj.ds.windows", "windows")))
    val weeklyArt = spark.read.option("header", "true").csv(s"$outDir/weekly")
    assert(weeklyArt.count() == 2)
    // --no-upload: artifacts still written, nothing pushed; the landing
    // cache from run 1 is reused (same canonical content either way)
    pushedTabs = Vector.empty; bqWrites = Vector.empty
    HousingEtlMain.runCli(spark, cfg.copy(noUpload = true), push, warehouse)
    assert(pushedTabs.isEmpty && bqWrites.isEmpty)
    assert(Files.exists(java.nio.file.Paths.get(cacheDir, "landing.csv")))
  }

  test("stage logging: parse diagnostics, lookup branch, windows (etl_main.py:56-57)") {
    var lines = Vector.empty[String]
    HousingEtl.run(spark, pricePaidCsv("|"), Some(lookupCsv), log = lines :+= _)
    assert(lines.exists(l => l.startsWith("parse: sep=|") &&
      l.contains("date=date_of_transfer") && l.contains("price=price") &&
      l.contains("id=transaction_unique_identifier")))
    assert(lines.exists(_.startsWith("lookup: joined ")))
    assert(lines.exists(_ == "type breakdown: enabled"))
    assert(lines.exists(_.startsWith("windows: 4, 12 weeks")))
    // fallback + synthetic-id branches log their decisions too
    lines = Vector.empty
    HousingEtl.run(spark, pricePaidCsv(dropId = true, dropType = true),
      Some(badLookupCsv), log = lines :+= _)
    assert(lines.exists(l => l.startsWith("parse:") && l.contains("id=<synthetic>")))
    assert(lines.exists(_.contains("postcode-prefix fallback")))
    assert(lines.exists(_ == "type breakdown: skipped (no property-type column)"))
    // wrong-schema lookup and MISSING lookup log DISTINCT diagnostics
    // (reference etl_main.py:177-182 separates the two checks): a mistyped
    // path must not send the operator to inspect the CSV's header
    assert(lines.exists(_.contains("lacks required columns")))
    lines = Vector.empty
    HousingEtl.run(spark, pricePaidCsv(","),
      Some("/nonexistent/lookup.csv"), log = lines :+= _)
    assert(lines.exists(l => l.contains("does not exist")
      && l.contains("postcode-prefix fallback")))
    assert(!lines.exists(_.contains("lacks required columns")))
  }

  test("push-sink failure is logged and tolerated; artifacts survive (etl_main.py:374-385)") {
    val outDir = Files.createTempDirectory("graft-cli-sinkfail").toString
    val cacheDir = Files.createTempDirectory("graft-cli-sinkfail-cache").toString
    val throwing = new Sinks.ReportSink {
      def write(tab: String, df: org.apache.spark.sql.DataFrame): Unit =
        throw new RuntimeException(s"sheets API down ($tab)")
    }
    var lines = Vector.empty[String]
    val cfg = HousingEtlMain.Config(input = pricePaidCsv(),
      lookup = Some(lookupCsv), cacheDir = cacheDir, outDir = outDir,
      bqTable = Some("proj.ds.windows"), windows = Seq(2))
    // both push blocks throw; the run must still complete and report
    val out = HousingEtlMain.runCli(spark, cfg, throwing,
      _ => throwing, log = lines :+= _)
    assert(out.weekly.count() == 2)
    // local CSV artifacts were all written before the pushes died
    val weeklyArt = spark.read.option("header", "true").csv(s"$outDir/weekly")
    assert(weeklyArt.count() == 2)
    assert(lines.exists(_.startsWith("push sink failed (continuing):")))
    assert(lines.exists(_.startsWith("warehouse sink failed for proj.ds.windows")))
    // the QA report line fired too (reference logs it before uploads)
    assert(lines.exists(l => l.startsWith("qa: rows_raw=5") &&
      l.contains("coverage_pct=75.0")))
  }

  test("CLI --force-download bypasses the landing cache") {
    val cacheDir = Files.createTempDirectory("graft-cli-force").toString
    val outDir = Files.createTempDirectory("graft-cli-force-art").toString
    val nop = new Sinks.ReportSink {
      def write(tab: String, df: org.apache.spark.sql.DataFrame): Unit = ()
    }
    val v1 = tmpFile("pp.csv", (header +: rows).mkString("\n"))
    val cfg = HousingEtlMain.Config(input = v1, lookup = Some(lookupCsv),
      cacheDir = cacheDir, outDir = outDir, noUpload = true, windows = Seq(2))
    assert(HousingEtlMain.runCli(spark, cfg, nop, _ => nop).qa
      .collect().head.getAs[Long]("rows_raw") == 5L)
    // source grows; without force the TTL cache still serves 5 rows
    val v2 = tmpFile("pp.csv", (header +: (rows :+
      "T6,150000,2024-01-16 00:00,EC1A 1BB,T")).mkString("\n"))
    val cfg2 = cfg.copy(input = v2)
    assert(HousingEtlMain.runCli(spark, cfg2, nop, _ => nop).qa
      .collect().head.getAs[Long]("rows_raw") == 5L)
    assert(HousingEtlMain.runCli(spark, cfg2.copy(forceDownload = true),
      nop, _ => nop).qa.collect().head.getAs[Long]("rows_raw") == 6L)
  }

  // A daily-run input big enough to give the weekly, window and anomaly
  // tabs real content: 3,000 rows over 40 weeks and nine postcodes (one
  // missing from the lookup, one blank), junk prices and one unparseable
  // date. Seeded, so every run reads the same file.
  private def dailyCsv(dropId: Boolean = false): String = {
    val rnd = new scala.util.Random(7)
    val postcodes = Seq("SW1A 1AA", "sw1a 2bb", "EC1A 1BB", "EC1A 2CC",
      "M1 1AE", "M1 2BF", "LS1 1UR", "ZZ9 9ZZ", "")
    val start = java.time.LocalDate.of(2023, 3, 6)
    val lines = (1 to 3000).map { i =>
      val date = if (i == 1500) "not-a-date"
        else s"${start.plusDays(rnd.nextInt(280L.toInt))} 00:00"
      val price = if (rnd.nextInt(50) == 0) "n/a"
        else (50000 + rnd.nextInt(900000)).toString
      val cells = Seq(s"T$i", price, date, postcodes(rnd.nextInt(postcodes.size)),
        Seq("D", "S", "T", "F")(rnd.nextInt(4)))
      (if (dropId) cells.drop(1) else cells).mkString(",")
    }
    val head = if (dropId) header.split(",").drop(1).mkString(",") else header
    tmpFile("daily.csv", (head +: lines).mkString("\n"))
  }
  private val dailyLookup = tmpFile("daily_lookup.csv",
    "postcode,local_authority\nSW1A1AA,Westminster\nSW1A2BB,Westminster\n" +
      "EC1A1BB,Islington\nEC1A2CC,Islington\nM11AE,Manchester\n" +
      "M12BF,Manchester\nLS11UR,Leeds\n")
  private val nopSink: Sinks.ReportSink = (_: String, _: DataFrame) => ()

  private def dailyCfg(input: String, noUpload: Boolean = true) =
    HousingEtlMain.Config(input = input, lookup = Some(dailyLookup),
      cacheDir = Files.createTempDirectory("graft-daily-cache").toString,
      outDir = Files.createTempDirectory("graft-daily-art").toString,
      noUpload = noUpload, windows = Seq(2, 4))

  /** A CSV artifact's lines, header included, as a sorted multiset. */
  private def artifactLines(dir: String): Seq[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSeq.sorted

  test("rows_raw counts parsed rows: before the invalid-date drop, not the lookup fan-out") {
    // SW1A1AA maps to two authorities, so T1, T2 and T5 join twice each
    val dupLookup = tmpFile("dup_lookup.csv", "postcode,local_authority\n" +
      "sw1a 1aa,Westminster\nSW1A1AA,St James's\nEC1A1BB,Islington\n")
    val out = HousingEtl.run(spark, pricePaidCsv(), Some(dupLookup))
    // the fan-out is real: both authorities count T1, T2 (week 1) and T5
    assert(out.weekly.agg(org.apache.spark.sql.functions.sum("transactions"))
      .head().getLong(0) == 6L)
    // 5 data lines, T3's unparseable date included
    assert(out.qa.head().getAs[Long]("rows_raw") == rows.size.toLong)
    var lines = Vector.empty[String]
    HousingEtlMain.runCli(spark, dailyCfg(pricePaidCsv()).copy(lookup = Some(dupLookup)),
      nopSink, _ => nopSink, log = lines :+= _)
    assert(lines.exists(_.startsWith(s"qa: rows_raw=${rows.size} ")))
  }

  test("runCli scans the landing CSV once: every other plan reads one cached frame") {
    // Scans of landing.csv in an executed plan: those outside any cached
    // frame, and the cached frames (one entry per cache) that scan it
    // themselves rather than through another cache. Header sniffing reads
    // the first line through a `text` scan and is not counted.
    val uncached = mutable.ArrayBuffer.empty[String]
    val caches = mutable.Set.empty[Int]
    def walk(p: SparkPlan, cache: Option[Int], fn: String): Unit = p match {
      case s: FileSourceScanExec if !s.relation.fileFormat.isInstanceOf[TextFileFormat] &&
          s.relation.location.rootPaths.exists(_.getName == "landing.csv") =>
        cache.fold[Unit](uncached += fn)(caches += _)
      case m: InMemoryTableScanExec =>
        walk(m.relation.cachedPlan, Some(System.identityHashCode(m.relation.cacheBuilder)), fn)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, cache, fn)
      case q: QueryStageExec => walk(q.plan, cache, fn)
      case r: ReusedExchangeExec => walk(r.child, cache, fn)
      case other => (other.children ++ other.subqueries).foreach(walk(_, cache, fn))
    }
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        synchronized(walk(qe.executedPlan, None, fn))
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val pushed = mutable.ArrayBuffer.empty[String]
    val push = new Sinks.StringifiedPushSink((tab, _) => pushed += tab)
    spark.listenerManager.register(listener)
    try {
      HousingEtlMain.runCli(spark, dailyCfg(dailyCsv(), noUpload = false), push,
        _ => nopSink)
      GraftTestAccess.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(pushed.size == 6)  // the pushes read the cached tabs too
    assert(uncached.isEmpty, s"plans that re-scan landing.csv: $uncached")
    assert(caches.size == 1)
  }

  test("concurrent artifacts equal the lazy sequential outputs; caches are released") {
    for (dropId <- Seq(false, true)) {
      val input = dailyCsv(dropId)
      val cfg = dailyCfg(input)
      HousingEtlMain.runCli(spark, cfg, nopSink, _ => nopSink)
      assert(spark.sharedState.cacheManager.isEmpty)
      // the same tabs from the lazy plans, uncached, one write after another
      val seqDir = Files.createTempDirectory("graft-daily-seq").toString
      val seqSink = new Sinks.CsvDirSink(seqDir)
      val tabs = HousingEtl.artifactTabs(
        HousingEtl.run(spark, input, cfg.lookup, windows = cfg.windows))
      tabs.foreach { case (tab, df) => seqSink.write(tab, df) }
      assert(tabs.map(_._1) == Seq("weekly", "type_breakdown", "windows",
        "anomalies", "latest_snapshot", "qa"))
      for ((tab, _) <- tabs) {
        val got = artifactLines(s"${cfg.outDir}/$tab")
        assert(got.size > 1, s"$tab is empty")
        assert(got == artifactLines(s"$seqDir/$tab"), s"$tab (dropId=$dropId)")
      }
    }
  }

  test("a failing artifact write fails the run once every write is done, caches released") {
    val failing: String => Sinks.ReportSink = dir => {
      val csv = new Sinks.CsvDirSink(dir)
      (tab: String, df: DataFrame) =>
        // fails inside a task, while the other tabs' jobs are running
        csv.write(tab, if (tab != "anomalies") df
          else df.withColumn("boom", raise_error(lit("artifact disk full")).cast("string")))
    }
    var lines = Vector.empty[String]
    val cfg = dailyCfg(dailyCsv(), noUpload = false)
    val e = intercept[Exception](HousingEtlMain.runCli(spark, cfg, nopSink,
      _ => nopSink, log = lines :+= _, artifacts = failing))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("artifact disk full")), e)
    GraftTestAccess.drainListeners(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the QA line and the pushes follow the artifacts, so neither happened
    assert(!lines.exists(l => l.startsWith("qa:") || l.startsWith("timing:")))
    // the other tabs were written in full
    assert(artifactLines(s"${cfg.outDir}/weekly").size > 1)
  }

  test("runCli logs one timing line after the pushes, with every stage") {
    var lines = Vector.empty[String]
    val push: Sinks.ReportSink = (tab: String, _: DataFrame) => lines :+= s"pushed $tab"
    HousingEtlMain.runCli(spark,
      dailyCfg(pricePaidCsv(), noUpload = false).copy(bqTable = Some("p.d.t")),
      push, _ => nopSink, log = lines :+= _)
    val timing = lines.filter(_.startsWith("timing: "))
    assert(timing.size == 1 && lines.last == timing.head)
    val stages = timing.head.stripPrefix("timing: ").split(" ").toSeq.map { kv =>
      val Array(stage, secs) = kv.split("=")
      assert(secs.matches("\\d+\\.\\d{3}s"), kv)
      stage
    }
    assert(stages == Seq("fetch", "plan", "artifacts", "push:weekly_by_la",
      "push:windows", "push:latest", "push:anomalies", "push:type_breakdown",
      "push:qa", "warehouse:p.d.t"))
    assert(lines.indexWhere(_.startsWith("qa:")) < lines.indexOf("pushed weekly_by_la"))
  }

  test("S1-S3 landing zone: fetches once within TTL, backs up, force refetches") {
    val dir = Files.createTempDirectory("graft-landing").toString
    val lz = new Sinks.LandingZone(dir)
    var fetches = 0
    def fetcher(p: java.nio.file.Path): Unit = {
      fetches += 1; Files.writeString(p, header)
    }
    lz.fetch(fetcher); lz.fetch(fetcher)
    assert(fetches == 1)  // cache hit within TTL
    lz.fetch(fetcher, force = true)
    assert(fetches == 2)
    val listing = Files.list(java.nio.file.Paths.get(dir, "backups"))
    try assert(listing.count() >= 1) finally listing.close()
  }
}
