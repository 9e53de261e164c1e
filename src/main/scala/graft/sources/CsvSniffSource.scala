package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CoreOps

/** Schema-flexible CSV ingest (SURVEY.md §1.3 + §2.A S4/S5, §2.B P1/P2;
  * reference etl/etl_main.py:122-136, 149-156).
  *
  * The reference discovers schema at runtime twice: separator sniffing
  * (`,` / tab / `|`, first parse containing a *price* and a *date* column
  * wins) and case-insensitive substring column resolution. Both are
  * driver-side, schema-only operations here — each candidate parse reads
  * just the header line, never the data — after which downstream operators
  * work against a fixed canonical schema: dynamic at the edge, static
  * inside.
  */
object CsvSniffSource {

  val Separators: Seq[String] = Seq(",", "\t", "|", ";")

  /** Columns resolved by the reference's substring heuristics
    * (etl_main.py:149-153): first column whose lowercase name contains the
    * needle(s). `sep` records which sniffed separator won, for the stage
    * diagnostics the reference logs (etl_main.py:129-135).
    */
  final case class ResolvedColumns(date: String, price: String,
      postcode: Option[String], id: Option[String], propType: Option[String],
      sep: String = ",")

  private def findCol(cols: Seq[String], needles: String*): Option[String] =
    cols.find(c => needles.exists(n => c.toLowerCase.contains(n)))

  def resolveColumns(cols: Seq[String]): Option[ResolvedColumns] =
    (for {
      date <- findCol(cols, "date")
      price <- findCol(cols, "price")
    } yield ResolvedColumns(date, price,
      findCol(cols, "postcode"),
      findCol(cols, "unique", "id"),
      findCol(cols, "property", "type")))
      // A wrong-separator parse fuses the whole header into ONE column whose
      // name contains every needle — date and price then resolve to the same
      // column. Requiring them distinct rejects that parse and lets the next
      // separator attempt win.
      .filter(rc => rc.date != rc.price)

  /** S4 — try each separator; accept the first whose header resolves a date
    * and a price column. The reference's last resort is pandas `sep=None`
    * auto-detect; we approximate it by including every separator that
    * sniffer recognizes in practice (comma, tab, pipe, semicolon) in the
    * candidate list, and fail with the required-column assertion (P2) when
    * none resolves — the same ultimate outcome as the reference, whose
    * required-column check raises right after its auto-detect parse.
    * `inferSchema` stays off — casts are explicit coercing ones (P3/P5)
    * so junk nulls instead of throwing under ANSI.
    */
  def sniffCsv(spark: SparkSession, path: String): (DataFrame, ResolvedColumns) = {
    val attempts = Separators.iterator.map { sep =>
      val df = spark.read.option("header", "true").option("sep", sep).csv(path)
      (df, resolveColumns(df.columns.toSeq).map(_.copy(sep = sep)))
    }
    attempts.collectFirst { case (df, Some(rc)) => (df, rc) }
      .getOrElse {
        // P2 — required-column assertion (etl_main.py:155-156)
        throw new IllegalArgumentException(
          s"Required columns (date or price) not found in $path with any of $Separators")
      }
  }

  /** Normalization projection onto the canonical schema (SURVEY.md §1.3):
    * coerced `date`, coerced `price`, normalized `postcode` (null column
    * when absent), `transaction_id` (source column or synthetic — P4),
    * optional normalized `prop_type`, and no other source column.
    *
    * A `date` that does not parse is null, but its row stays: this frame is
    * the raw parse, counted as-is for QA's `rows_raw`, and callers drop the
    * invalid-date rows (P3) from it. One frame serves both, so a run that
    * caches it scans the CSV once.
    */
  def toCanonical(df: DataFrame, rc: ResolvedColumns): DataFrame = {
    val withDate = df.withColumn("date", CoreOps.coerceTimestamp(col(rc.date)))
    val withId = rc.id match {
      case Some(c) => withDate.withColumn("transaction_id", col(c).cast("string"))
      case None => CoreOps.withSyntheticId(withDate, "transaction_id")
        .withColumn("transaction_id", col("transaction_id").cast("string"))
    }
    val pc: Column = rc.postcode match {
      case Some(c) => CoreOps.normalizeKey(col(c))
      case None => lit(null).cast("string")
    }
    withId
      .withColumn("price", CoreOps.coerceDouble(col(rc.price)))
      .withColumn("postcode", pc)
      .select((Seq(col("date"), col("transaction_id"), col("price"),
        col("postcode")) ++ rc.propType.map(c =>
          CoreOps.normalizeCategory(col(c)).as("prop_type"))): _*)
  }

  /** S5 — lookup CSV, all-string (matches pandas dtype=str read at
    * etl_main.py:178). Returns None when the file does not exist
    * (etl_main.py:177's os.path.exists guard — a rotated-away lookup must
    * fall back, not kill the daily run) or lacks the required columns,
    * triggering the caller's prefix fallback (etl_main.py:180-182).
    */
  /** Left holds the fallback diagnostic — the reference distinguishes a
    * missing file from a present-but-wrong-schema one (etl_main.py:177-182,
    * os.path.exists vs the column check), and so must the log line, or the
    * operator debugging a silent prefix fallback inspects the wrong thing.
    */
  def readLookup(spark: SparkSession,
                 path: String): Either[String, DataFrame] = {
    // Existence through the Hadoop filesystem of the path's scheme, not
    // java.nio: a driver-local check would silently classify every
    // hdfs:// or s3a:// lookup as missing and flip the pipeline to the
    // prefix fallback with no error.
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return Left(s"lookup: $path does not exist")
    val df = spark.read.option("header", "true").csv(path)
    if (Seq("postcode", "local_authority").forall(df.columns.contains))
      Right(df.select(
        CoreOps.normalizeKey(col("postcode")).as("pc_nospace"),
        col("local_authority")))
    else Left(s"lookup: $path lacks required columns")
  }
}
