package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{HousingEtlMain, SparkEntry}
import graft.sources.Sinks

/** One cold JVM of the benchmark: set up a session, run the workload's
  * cold pass, then warm passes until `--seconds` is spent (at least one), and
  * write `result.json` (plus `spans.jsonl` when traced) into `--work`.
  *
  * {{{
  * java graftbench.Harness --workload etl_daily|registry_batch|registry_stream
  *   --work DIR --seconds S --trace 0|1 --cores N --launched EPOCH_NS
  *   [--csv F --lookup F]                      (etl_daily)
  *   [--data DIR --queries q1,q2 --domains q1:d1,q2:d2]  (registry_*)
  * }}}
  */
object Harness {

  final case class Op(pass: String, name: String, seconds: Double,
                      rows: Long = -1, hash: String = "", error: String = "",
                      rowsRaw: Long = -1, pushRows: Long = -1)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    // spans of one run share its id: the name of its work directory
    val tracer = if (traced) Some(new Tracer(Paths.get(work).getFileName.toString)) else None

    // Set-up: from the launch of this JVM (epoch ns, passed by run.py) to a
    // ready session with a fresh warehouse directory.
    val spark = session(work, cores, tracer)
    val now = java.time.Instant.now()
    val setupS = (now.getEpochSecond * 1000000000L + now.getNano - a("launched").toLong) / 1e9

    val heap = new HeapPeak(spark)
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t = System.nanoTime
      val r = tracer.fold(body)(_.apply(name)(body))
      (r, (System.nanoTime - t) / 1e9)
    }

    val etl = if (workload == "etl_daily")
      Some(new EtlDaily(spark, a("csv"), a("lookup"), work, tracer)) else None
    val runPass: String => Seq[Op] = workload match {
      case "etl_daily" => pass => Seq(etl.get.run(pass))
      case "registry_batch" | "registry_stream" =>
        val queries = a("queries").split(",").toSeq
        writeOracles(queries, s"$work/oracle_sql.json")
        pass => queries.map(q => registryOp(spark, tracer, pass, q, a("data")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime
    do {
      val pass = if (passSeconds.isEmpty) "cold" else s"warm${passSeconds.size}"
      val (o, s) = timed(s"pass:$pass")(runPass(pass))
      ops ++= o
      passSeconds += s
      heap.sample()
    } while (passSeconds.size < 2 ||
      (System.nanoTime - start) / 1e9 + passSeconds.last <= seconds)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "cold_s" -> passSeconds.head,
      "warm_s" -> passSeconds.tail.toSeq,
      "peak_heap_mb" -> heap.peakBytes / 1048576.0,
      "cores" -> cores,
      "ops" -> ops.map(opJson))
    tracer.foreach { t =>
      out("per_layer") = Layers.metrics(t, cores, a, etl)
      out("self_s") = Layers.selfByLayer(t)
      Files.writeString(Paths.get(s"$work/spans.jsonl"), t.spans.map { s =>
        Json(mutable.LinkedHashMap[String, Any]("run" -> t.runId, "id" -> s.id,
          "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.start,
          "end_ns" -> s.end, "self_s" -> t.selfSeconds(s)) ++ Layers.countsJson(s.counts))
      }.mkString("", "\n", "\n"))
    }
    Files.writeString(Paths.get(s"$work/result.json"), Json(out))
    spark.stop()
  }

  private def opJson(o: Op): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("pass" -> o.pass, "name" -> o.name,
      "seconds" -> o.seconds, "rows" -> o.rows, "hash" -> o.hash,
      "error" -> o.error, "rows_raw" -> o.rowsRaw, "push_rows" -> o.pushRows)

  /** A session with its own warehouse directory. Traced runs register
    * their listeners here, so set-up time includes them. */
  def session(work: String, cores: Int, tracer: Option[Tracer]): SparkSession = {
    val wh = Paths.get(work, "warehouse").toAbsolutePath
    Files.createDirectories(wh)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("spark.local.dir", Paths.get(work, "local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.foreach { t =>
      t.attach(s.sparkContext)
      s.sparkContext.addSparkListener(t.sparkListener)
      s.listenerManager.register(t.queryListener)
      s.sharedState.externalCatalog.addListener(t.catalogListener)
      s.streams.addListener(t.streamListener)
    }
    s
  }

  /** The forcing action: row count and an order-insensitive sum of row
    * hashes, in one job. Columns are renamed by position (results may carry
    * duplicate or dotted names) and maps go through JSON (not hashable). */
  def fingerprint(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def registryOp(spark: SparkSession, tracer: Option[Tracer], pass: String,
                 name: String, data: String): Op = {
    def span[T](n: String)(body: => T): T = tracer.fold(body)(_.apply(n)(body))
    val t = System.nanoTime
    try span(s"op:$name") {
      val df = span("registry.plan")(SparkEntry.queries(name)(spark, data))
      val (rows, hash) = span("registry.exec")(fingerprint(df))
      Op(pass, name, (System.nanoTime - t) / 1e9, rows, hash)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Op(pass, name, (System.nanoTime - t) / 1e9,
          error = s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  private def writeOracles(queries: Seq[String], path: String): Unit =
    Files.writeString(Paths.get(path), Json(mutable.LinkedHashMap[String, Any](
      queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")): _*)))

  /** Bytes read through Hadoop's local file system so far. */
  def localBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesRead).sum
}

/** One `HousingEtlMain.runCli` daily run per call, with the CSV artifact
  * sink and an in-memory push sink. Traced runs get their spans from the
  * hooks `runCli` accepts: its `log` callback (the plan is built when the
  * "windows:" line is logged, the artifacts and QA collect are done when
  * the "qa:" line is) and the push sink (one span per tab). */
final class EtlDaily(spark: SparkSession, csv: String, lookup: String,
                     work: String, tracer: Option[Tracer]) {
  private val cfg = HousingEtlMain.Config(input = csv, lookup = Some(lookup),
    cacheDir = s"$work/landing", outDir = s"$work/artifacts",
    forceDownload = true)
  val inputBytes: Long = Files.size(Paths.get(csv)) + Files.size(Paths.get(lookup))
  /** Local bytes read and rows pushed by the cold daily run. */
  var coldBytesRead, coldPushRows = 0L

  def run(pass: String): Harness.Op = {
    var pushRows = 0L
    var rowsRaw = -1L
    var pushFailure = ""
    val t = System.nanoTime
    val read0 = Harness.localBytesRead()
    val push = new Sinks.StringifiedPushSink((_, rows) => pushRows += rows.size - 1)
    val op = tracer.map(_.begin("op:etl_daily"))
    try {
      var stage = tracer.map { tr =>
        tr("sources.fetch")(new Sinks.LandingZone(cfg.cacheDir).fetch(
          p => Files.copy(Paths.get(csv), p, StandardCopyOption.REPLACE_EXISTING),
          force = true))
        tr.begin("etl.plan")
      }
      def next(name: Option[String]): Unit = tracer.foreach { tr =>
        stage.foreach(tr.end)
        stage = name.map(tr.begin)
      }
      val log: String => Unit = line =>
        if (line.startsWith("windows:")) next(Some("sinks.artifacts"))
        else if (line.startsWith("qa:")) {
          rowsRaw = "rows_raw=(\\d+)".r.findFirstMatchIn(line).fold(-1L)(_.group(1).toLong)
          next(None)
        }
        // runCli logs a failed push and carries on; for the benchmark the
        // daily run has then failed
        else if (line.startsWith("push sink failed")) pushFailure = line
      val sink: Sinks.ReportSink = tracer.fold(push: Sinks.ReportSink) { tr =>
        (tab: String, df: org.apache.spark.sql.DataFrame) => {
          next(None)
          tr(s"sinks.push:$tab")(push.write(tab, df))
        }
      }
      HousingEtlMain.runCli(spark, cfg, sink,
        t => throw new IllegalStateException(s"no warehouse sink configured ($t)"),
        log)
      next(None)
      if (pass == "cold") {
        coldBytesRead = Harness.localBytesRead() - read0
        coldPushRows = pushRows
      }
      Harness.Op(pass, "etl_daily", (System.nanoTime - t) / 1e9,
        rowsRaw = rowsRaw, pushRows = pushRows, error = pushFailure.take(500))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Harness.Op(pass, "etl_daily", (System.nanoTime - t) / 1e9,
          error = s"${e.getClass.getName}: ${e.getMessage}".take(500))
    } finally op.foreach(s => tracer.foreach(_.end(s)))
  }
}

/** Largest heap in use right after a collection. The collection is forced
  * at the end of each pass, outside the timed span, so the figure is the
  * heap the program retains across passes (memos, cached blocks,
  * driver-side state) and does not depend on when the collector happened
  * to run. Read from JMX. */
final class HeapPeak(spark: SparkSession) {
  var peakBytes = 0L

  def sample(): Unit = {
    // Spark's own listeners hold events until they are delivered; deliver
    // them first so the figure does not depend on the queue's progress.
    org.apache.spark.GraftBenchAccess.drainListeners(spark.sparkContext)
    // A collection only makes dead broadcasts, shuffles and RDDs visible to
    // Spark's ContextCleaner, which frees their blocks from its own thread
    // (polling every 100 ms); collect again once it has, twice, or the
    // figure depends on how far that thread got.
    System.gc()
    for (_ <- 1 to 2) { Thread.sleep(250); System.gc() }
    peakBytes = peakBytes max ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
