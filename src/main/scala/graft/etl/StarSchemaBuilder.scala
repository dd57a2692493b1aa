package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference ETL pipeline (tiisnel/stock_data_project,
  * airflow/dags/fetch_stocks.py) re-expressed as one lazy Spark plan.
  *
  * Reference semantics replicated (file:line cites against
  * /root/reference):
  *  - landing zone of `prefix:YYYY-MM-DD.csv` objects; the date in the
  *    object name is the incremental watermark (fetch_stocks.py:19-37)
  *  - DimDate = dates(stocks) UNION dates(econ) with derived
  *    year/month/weekend columns (fetch_stocks.py:165-184; UNION set
  *    semantics at :175 → union().distinct() here)
  *  - DimStockIndex keyed by md5(ticker) with CASE display names
  *    (fetch_stocks.py:187-199)
  *  - DimCountry constant row (fetch_stocks.py:202-208)
  *  - Fact: daily return per ticker = close/lag(close)-1
  *    (pandas pct_change, :213), 20-day rolling sample stddev with
  *    min_periods=20 (NULL until 20 returns, :216), LEFT JOIN annual
  *    econ on year (:239), country via constant-predicate broadcast
  *    join (:240)
  *
  * NOT replicated (anti-patterns documented in SURVEY §4.1): the
  * DuckDB↔pandas double materialization — here the whole build is one
  * Catalyst plan; windows shuffle once on ticker, dims broadcast.
  *
  * The reference bug at fetch_stocks.py:172 (DayOfWeek column holds
  * CAST(Date AS VARCHAR)) is fixed to the evident intent: a weekday
  * name via date_format(d, 'EEEE').
  *
  * Likewise DimStockIndex (fetch_stocks.py:187-199): the reference
  * puts the raw Ticker in IndexName and the CASE display strings in
  * IndexCode — an evident column mix-up (a column named "Code"
  * holding the display string "S&P 500", and "Name" holding "^GSPC").
  * This engine fixes it to the evident intent: IndexName carries the
  * display name, IndexCode the ticker symbol. The display strings are
  * also normalized to the indexes' canonical names ("Nasdaq 100",
  * "Dow Jones Industrial Average") rather than the reference's
  * 'NASDAQ 100'/'Dow Jones'. Both deviations are intentional, same
  * class as the DayOfWeek fix above; the dashboard lookup
  * (StarServe) and every declared oracle mirror THIS mapping.
  */
object StarSchemaBuilder {

  val stocksSchema: StructType = StructType(Seq(
    StructField("Date", DateType), StructField("Ticker", StringType),
    StructField("Open", DoubleType), StructField("High", DoubleType),
    StructField("Low", DoubleType), StructField("Close", DoubleType),
    StructField("AdjClose", DoubleType), StructField("Volume", LongType)))

  val econSchema: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("GDPGrowthRate", DoubleType),
    StructField("InflationRate", DoubleType)))

  /** Incremental watermark: max date parsed from landed object names,
    * reference fetch_stocks.py:19-37. The reference names objects
    * `prefix:YYYY-MM-DD.csv`; Hadoop paths cannot contain ':' (parsed
    * as a URI scheme), so this engine's landing convention is
    * `prefix_YYYY-MM-DD.csv` — same watermark semantics. Invalid
    * names are skipped (reference logs a warning, :32-36). */
  def lastSavedDate(spark: SparkSession, landingDir: String, prefix: String): Option[java.time.LocalDate] = {
    val path = new Path(landingDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return None
    val re = s"^${java.util.regex.Pattern.quote(prefix)}_(\\d{4}-\\d{2}-\\d{2})\\.csv$$".r
    fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .flatMap { n => re.findFirstMatchIn(n).map(_.group(1)) }
      .flatMap { s => scala.util.Try(java.time.LocalDate.parse(s)).toOption }
      .sortWith(_.isBefore(_)).lastOption
  }

  /** Scan all landed CSVs for a prefix, filename recorded as a column
    * (DuckDB `filename=true`, fetch_stocks.py:153). Reads exactly the
    * objects the watermark counts — the `prefix_YYYY-MM-DD.csv` name
    * discipline — so an out-of-band object with an invalid name is
    * excluded from the scan the same way `lastSavedDate` skips it.
    * Within a well-named object, header drift FAILS the load: the
    * CSV reader's default (`enforceSchema=true`) maps the user schema
    * positionally and ignores the header, which would silently
    * misassign every value of a column-reordered object;
    * `enforceSchema=false` validates header names instead (the
    * landing contract: better a red load than corrupt facts). */
  def readLanding(spark: SparkSession, landingDir: String, prefix: String,
      schema: StructType): DataFrame = {
    val dir = new Path(landingDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = s"^${java.util.regex.Pattern.quote(prefix)}_\\d{4}-\\d{2}-\\d{2}\\.csv$$".r
    val objects =
      if (fs.exists(dir))
        fs.listStatus(dir).toSeq.map(_.getPath)
          .filter(p => re.findFirstIn(p.getName).isDefined)
          .map(_.toString)
      else Nil
    val reader = spark.read
      .option("header", "true")
      .option("enforceSchema", "false")
      .schema(schema)
    // no landed objects: preserve the glob's read so callers see the
    // same empty/err behavior as before the name filter existed
    (if (objects.isEmpty) reader.csv(s"$landingDir/${prefix}_*.csv")
     else reader.csv(objects: _*))
      .withColumn("filename", input_file_name())
  }

  /** DimDate: union-distinct of stock and econ dates + derived
    * columns (fetch_stocks.py:165-184). */
  def buildDimDate(stocks: DataFrame, econ: DataFrame): DataFrame =
    stocks.select(col("Date").cast(DateType).as("DateKey"))
      .union(econ.select(col("date").cast(DateType).as("DateKey")))
      .distinct()
      .select(
        col("DateKey"),
        col("DateKey").cast(StringType).as("Date"),
        year(col("DateKey")).as("Year"),
        month(col("DateKey")).as("Month"),
        date_format(col("DateKey"), "EEEE").as("DayOfWeek"),
        dayofweek(col("DateKey")).isin(1, 7).as("IsWeekend"))

  /** DimStockIndex: md5 surrogate key + CASE display-name mapping
    * (fetch_stocks.py:187-199). NOTE the reference swaps these two
    * columns (Ticker lands in IndexName, display strings in
    * IndexCode) and spells the display names 'NASDAQ 100'/'Dow
    * Jones'; both are fixed here to the evident intent — see the
    * object header's deviation note. */
  def buildDimStockIndex(stocks: DataFrame): DataFrame =
    stocks.select(col("Ticker")).distinct()
      .select(
        md5(col("Ticker").cast("binary")).as("IndexKey"),
        when(col("Ticker") === "^GSPC", "S&P 500")
          .when(col("Ticker") === "^DJI", "Dow Jones Industrial Average")
          .when(col("Ticker") === "^NDX", "Nasdaq 100")
          .otherwise("Other").as("IndexName"),
        col("Ticker").as("IndexCode"))

  /** DimCountry: the reference's constant single row
    * (fetch_stocks.py:202-208). */
  def buildDimCountry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("USA", "United States", "USA")).toDF("CountryKey", "CountryName", "CountryCode")
  }

  /** Fact table (fetch_stocks.py:221-241): per-ticker windows + dim
    * joins. Window shuffles once on Ticker; all dims broadcast.
    *
    * Volatility (the reference's 20-row rolling stddev of DailyReturn
    * with min_periods=20, fetch_stocks.py:216) is computed from exact
    * integer sums of FIXED-POINT returns `floor(ret·10⁸ + 0.5)`
    * rather than `stddev_samp` over raw doubles: a float stddev's
    * value depends on frame summation order, so the raw form is not
    * reproducible across engines or partition layouts, while the
    * fixed-point sums are exact integers under ANY order (§7.3 — the
    * same contract as the declared rolling-std query) at a 10⁻⁸
    * return quantization far below any use of a volatility number.
    * Exactness bound: Σfp² < 2⁵³ needs |ret| ≤ ~0.21 per tick at
    * window 20 — beyond that the sums stay correct (long overflow is
    * ~|ret| > 6·10⁸) but the final double conversion may round. */
  def buildFact(stocks: DataFrame, econ: DataFrame, dimIndex: DataFrame,
      dimCountry: DataFrame, rangePartitionForStarSort: Boolean = false): DataFrame = {
    // The surrogate key is computed on the FACT side and the windows
    // cluster by IT (md5 is injective on tickers — identical groups,
    // identical values): the dim join then keys on the same attribute
    // (using-join keeps the fact's), and a star consumer whose
    // terminal order is (IndexKey, DateKey) can satisfy BOTH the
    // window's clustering and its total order from ONE range exchange
    // via Spark's prefix rule (`rangePartitionForStarSort = true` —
    // the r15 window-family pattern). Without the flag the window
    // inserts its usual hash exchange, exactly as before — single-
    // ticker consumers (the dashboard slice) gain nothing from a
    // range layout, so they keep the default. At 100 TB the flag is
    // the difference between shuffling the fact once and twice.
    val keyed0 = stocks.withColumn("IndexKey", md5(col("Ticker").cast("binary")))
    // range on the KEY ALONE (the r15 rule): ranging on (key, Date)
    // would let one key's date range straddle a partition boundary —
    // the window's clustering requirement would then insert a second
    // hash exchange right back
    val keyed = if (rangePartitionForStarSort)
        keyed0.repartitionByRange(
          keyed0.sparkSession.sessionState.conf.numShufflePartitions,
          col("IndexKey"))
      else keyed0
    val w = Window.partitionBy(col("IndexKey")).orderBy(col("Date"))
    val frame = w.rowsBetween(-19, 0)
    val sx = col("__sx").cast("double")
    val sxx = col("__sxx").cast("double")
    val withMetrics = keyed
      .withColumn("DailyReturn", col("Close") / lag(col("Close"), 1).over(w) - lit(1.0))
      // named column, not inline: the rsi/bollinger CSE discipline
      .withColumn("__rfp",
        floor(col("DailyReturn") * lit(1.0e8) + lit(0.5)).cast("long"))
      .select(col("*"),
        count(col("DailyReturn")).over(frame).as("__n"),
        sum(col("__rfp")).over(frame).as("__sx"),
        sum(col("__rfp") * col("__rfp")).over(frame).as("__sxx"))
      // __n ≥ 20 in a 20-row frame ⇒ every frame row is non-null, so
      // the sums cover exactly 20 returns and n is the literal 20
      .withColumn("Volatility",
        when(col("__n") >= 20,
          sqrt(greatest((sxx - sx * sx / lit(20.0)) / lit(19.0), lit(0.0)))
            / lit(1.0e8)))
      .drop("__rfp", "__n", "__sx", "__sxx")
    withMetrics
      .join(broadcast(dimIndex), Seq("IndexKey"))
      .join(broadcast(econ.select(year(col("date")).as("econ_year"),
          col("GDPGrowthRate"), col("InflationRate"))),
        year(col("Date")) === col("econ_year"), "left")
      .crossJoin(broadcast(dimCountry.filter(col("CountryCode") === "USA")))
      .select(
        col("Date").cast(DateType).as("DateKey"),
        col("IndexKey"), col("CountryKey"),
        col("Open"), col("High"), col("Low"), col("Close"), col("Volume"),
        col("DailyReturn"), col("Volatility"),
        col("GDPGrowthRate"), col("InflationRate"))
  }

  /** One econ row per year, from the newest landed object (object
    * names carry the landing date, so within one landing dir they sort
    * by it; ties inside one object break on the values). The fetch
    * re-lands the whole indicator history each day, and joining every
    * landed copy by year would multiply each fact row by the number of
    * landings — the reference's J3 join does exactly that. */
  def latestEconPerYear(econ: DataFrame): DataFrame = {
    val w = Window.partitionBy(year(col("date"))).orderBy(col("filename").desc,
      col("date").desc, col("GDPGrowthRate").desc, col("InflationRate").desc)
    econ.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Full build: landing dir → star schema parquet (the reference's
    * `create_star_schema` task + COPY TO parquet, fetch_stocks.py:
    * 130-266), as one job. Returns the four output DataFrames. The fact
    * joins [[latestEconPerYear]], not every landed econ row. */
  def build(spark: SparkSession, landingDir: String, outDir: String): Map[String, DataFrame] = {
    val stocks = readLanding(spark, landingDir, "stocks", stocksSchema)
    val econ = readLanding(spark, landingDir, "world_bank", econSchema)
    val dimDate = buildDimDate(stocks, econ)
    val dimIndex = buildDimStockIndex(stocks)
    val dimCountry = buildDimCountry(spark)
    val fact = buildFact(stocks, latestEconPerYear(econ), dimIndex, dimCountry)
    val out = Map(
      "dim_date" -> dimDate, "dim_stock_index" -> dimIndex,
      "dim_country" -> dimCountry, "fact_table" -> fact)
    out.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    out
  }
}
