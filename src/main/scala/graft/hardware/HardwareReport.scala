package graft.hardware

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.F

/** The hardware-survey pipeline — the Spark re-expression of
  * `public_data_report/hardware_report/hardware_report.py`.
  *
  * The reference builds one BigQuery query with 11 ARRAY(SELECT AS STRUCT ...)
  * per-dimension aggregations over one scan (hardware_report.py:15-56), then
  * post-processes driver-side (decode :221-275, collapse :278-324, flatten
  * :327-350). Here the whole thing is DataFrame-native:
  *
  *   - dimension decode happens BEFORE aggregation as column expressions
  *     (os_arch / GPU vendor / GPU model), so the "re-sum after decode"
  *     Python loop (A10) disappears into the groupBy;
  *   - the 11 groupings run as one GROUPING SETS pass (Catalyst `Expand`,
  *     single scan — the property the reference got from array subqueries);
  *   - the 1%-threshold two-pass "Other" collapse (A11) is two groupBy
  *     rounds, not a driver loop — it scales to any key cardinality;
  *   - the weekly batches (hardware_report.py:416-470) are not a loop:
  *     the week is a grouping column, so every requested window shares
  *     one sample-count job and one aggregate/collapse pass, written once;
  *   - output is long format (dimension, key, client_count, ratio), the
  *     shape that partitions/export cleanly; the JSON export pivots at the
  *     very end on collected (tiny) results.
  */
object HardwareReport {

  /** dimension name -> decoded key expression, in the reference's order
    * (hardware_report.py:20-32 `output_fields`). */
  def dimensionKeys(deviceMap: Map[String, (String, String)]): Seq[(String, Column)] = Seq(
    "os" -> col("os"),
    "browser_arch" -> col("browser_arch"),
    "cpu_cores" -> col("cpu_cores").cast("string"),
    "cpu_vendor" -> col("cpu_vendor"),
    "cpu_speed" -> col("cpu_speed"),
    "resolution" -> col("resolution"),
    "memory_gb" -> col("memory_gb").cast("string"),
    // Python str(bool) capitalization, kept verbatim — and str(None) is
    // a distinct "None" bucket (hardware_report.py:318-321 stringifies
    // the RAW grouped value): folding null into "False" silently
    // inflated hasFlash_False and erased the hasFlash_None series
    "has_flash" -> when(col("has_flash").isNull, "None")
      .when(col("has_flash"), "True")
      .otherwise("False"),
    "os_arch" -> F.osArch(col("browser_arch"), col("os"), col("is_wow64")),
    "gfx0_vendor_name" -> F.gpuVendorName(col("gfx0_vendor_id")),
    "gfx0_model" -> deviceFamilyChipset(deviceMap)
  )

  /** (vendor_id, device_id) -> "family-chipset" or "Other"
    * (hardware_report.py:148-166) as a literal-map lookup. */
  def deviceFamilyChipset(deviceMap: Map[String, (String, String)]): Column = {
    val m = deviceMap.map { case (k, (f, c)) => k -> s"$f-$c" }
    if (m.isEmpty) lit("Other")
    else
      coalesce(
        element_at(
          typedlit(m),
          concat_ws("|", col("gfx0_vendor_id"), col("gfx0_device_id"))
        ),
        lit("Other")
      )
  }

  /** The columns that name a weekly window; every per-week grouping
    * carries both, so all requested weeks share one pass. */
  val windowCols: Seq[String] = Seq("date_from", "date_to")

  /** All weekly windows in one pass: the reference runs one query and one
    * `table$YYYYMMDD` load per weekly batch (hardware_report.py:416-470);
    * here the week is a grouping column.
    *
    *   - one job sums `client_count` per window, and every window must hold
    *     data before anything is written — the reference fails LOUDLY on an
    *     empty week (load_data raises ValueError, hardware_report.py:80-83);
    *     proceeding would exit 0 having written nothing for the week and
    *     re-exported stale JSON as if fresh (a typo'd --date_from, or an
    *     input table that hasn't landed yet);
    *   - each week's threshold is the driver's `int(total * 0.01)` (:442),
    *     carried with its sample count in a literal lookup keyed by the
    *     window (a broadcast join of a local relation ran a job of its own);
    *   - aggregate, decode and collapse then run once over every window.
    *
    * The caller writes the result once with `partitionBy("date_from")` +
    * dynamic partition overwrite — the Spark equivalent of the weekly
    * `table$YYYYMMDD` WRITE_TRUNCATE upsert (hardware_report.py:459-465).
    */
  def aggregateWeeks(
      input: DataFrame,
      deviceMap: Map[String, (String, String)],
      windows: Seq[(java.sql.Date, java.sql.Date)]
  ): DataFrame = {
    require(windows.nonEmpty, "no weekly window requested")
    val inWindows = input.filter(
      windows
        .map { case (from, to) => col("date_from") === lit(from) && col("date_to") === lit(to) }
        .reduce(_ || _)
    )
    val counted = inWindows
      .groupBy(windowCols.map(col): _*)
      .agg(coalesce(sum("client_count"), lit(0L)))
      .collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate) -> r.getLong(2))
      .toMap
    val totals = windows.map { case (from, to) =>
      val n = counted.getOrElse((from.toLocalDate, to.toLocalDate), 0L)
      require(n > 0L, s"No data in input for $from to $to")
      (from, to) -> (n, (n * 0.01).toLong)
    }.toMap
    collapseBuckets(aggregateDimensions(inWindows, deviceMap), totals)
  }

  /** One-pass multi-dimension aggregation (A3): decode dimensions as
    * columns, GROUPING SETS over the 11 singleton sets — each led by the
    * window columns, so every week aggregates in the same pass — and
    * un-pivot via grouping_id into long format (dimension, key,
    * client_count, date_from, date_to).
    * One scan; `Expand` multiplies rows 11x before the partial aggregate —
    * at 100 TB the input here is already the per-combo pre-aggregate
    * (as in the reference), so the expansion is over combos, not clients.
    */
  def aggregateDimensions(
      input: DataFrame,
      deviceMap: Map[String, (String, String)]
  ): DataFrame = {
    val dims = dimensionKeys(deviceMap)
    val decoded = input.select(
      windowCols.map(col) ++ dims.map { case (n, c) => c.as(s"k_$n") } :+ col("client_count"): _*
    )
    val spark = input.sparkSession
    decoded.createOrReplaceTempView("graft_hw_decoded")
    val window = windowCols.mkString(", ")
    val setList = dims.map { case (n, _) => s"($window, k_$n)" }.mkString(", ")
    val gid = dims.zipWithIndex
      .map { case ((n, _), i) =>
        // grouping_id bit for column i is (1 << (n-1-i)) when EXCLUDED;
        // the singleton set for dim i has all bits set except its own.
        // The window columns lead every set, so they take the high bits
        // and are never excluded: the codes are the dims-only ones.
        // (grouping_id takes no argument list: Spark rejects one that
        // names only the dimension columns, GROUPING_ID_COLUMN_MISMATCH.)
        val g = (0 until dims.size).filter(_ != i).map(j => 1L << (dims.size - 1 - j)).sum
        s"WHEN $g THEN '$n'"
      }
      .mkString(" ")
    val keyExpr = dims.zipWithIndex
      .map { case ((n, _), i) => s"WHEN dimension = '$n' THEN k_$n" }
      .mkString(" ")
    spark.sql(s"""
      WITH g AS (
        SELECT $window, ${dims.map { case (n, _) => s"k_$n" }.mkString(", ")},
               grouping_id() AS gid,
               sum(client_count) AS client_count
        FROM graft_hw_decoded
        GROUP BY GROUPING SETS ($setList)
      )
      SELECT dimension,
             -- str(metric) semantics (hardware_report.py:318-321): a NULL
             -- key (null os/cpu_vendor/resolution/... in telemetry) is
             -- Python's str(None) = a distinct 'None' bucket. Left null
             -- it would concat-propagate to a null flat_key at export
             -- and NPE the JSON writer after all weeks computed.
             coalesce(CASE $keyExpr END, 'None') AS key,
             client_count,
             $window
      FROM (SELECT *, CASE gid $gid END AS dimension FROM g)
    """)
  }

  /** Faithful 2-pass threshold collapse + ratio normalization
    * (`collapse_buckets`, hardware_report.py:278-324), per week:
    *   - `resolution` key "0x0" always folds into Other;
    *   - keys under the week's `threshold` fold to Other — except the
    *     uncollapsed dims (has_flash, os_arch), and `os` first folds to
    *     "<osname>-Other" and only in a second pass to global Other;
    *   - every count is normalized by the week's `sample_count`.
    * `totals` maps every (date_from, date_to) window of `longDf` to its
    * (sample_count, threshold); it is looked up as a literal map. Expressed
    * as two groupBy rounds over the long format, each keyed by the week as
    * well.
    */
  def collapseBuckets(
      longDf: DataFrame,
      totals: Map[(java.sql.Date, java.sql.Date), (Long, Long)]
  ): DataFrame = {
    val uncollapsed = Seq("has_flash", "os_arch")
    val week = (windowCols ++ Seq("sample_count", "threshold")).map(col)
    val threshold = col("threshold")
    val weekTotals =
      element_at(typedlit(totals), struct(col("date_from").as("_1"), col("date_to").as("_2")))
    val pass1 = longDf
      .withColumn("sample_count", weekTotals("_1"))
      .withColumn("threshold", weekTotals("_2"))
      .withColumn(
        "key1",
        when(col("dimension") === "resolution" && col("key") === "0x0", lit("Other"))
          .when(
            col("client_count") < threshold &&
              !col("dimension").isin(uncollapsed: _*),
            when(
              col("dimension") === "os",
              concat(split(col("key"), "-", 2).getItem(0), lit("-Other"))
            ).otherwise(lit("Other"))
          )
          .otherwise(col("key"))
      )
      .groupBy(week ++ Seq(col("dimension"), col("key1")): _*)
      .agg(sum("client_count").as("client_count"))
    val pass2 = pass1
      .withColumn(
        "key2",
        when(
          col("dimension") === "os" && col("client_count") < threshold,
          lit("Other")
        ).otherwise(col("key1"))
      )
      .groupBy(week ++ Seq(col("dimension"), col("key2").as("key")): _*)
      .agg(sum("client_count").as("client_count"))
    pass2.select(
      Seq(
        col("dimension"),
        col("key"),
        col("client_count"),
        (col("client_count") / col("sample_count")).as("ratio")
      ) ++ windowCols.map(col): _*
    )
  }

  /** Long -> wide flatten for export (`flatten_aggregates`,
    * hardware_report.py:327-350): prefix-translated keys, one record per
    * date, date-desc order. Returns the collected (date, json_key, ratio)
    * rows, date-desc then key — the JSON writer pivots the (tiny) result.
    */
  val keyPrefixes: Map[String, String] = Map(
    "browser_arch" -> "browserArch_",
    "cpu_cores" -> "cpuCores_",
    "cpu_vendor" -> "cpuVendor_",
    "cpu_speed" -> "cpuSpeed_",
    "gfx0_vendor_name" -> "gpuVendor_",
    "gfx0_model" -> "gpuModel_",
    "resolution" -> "resolution_",
    "memory_gb" -> "ram_",
    "os" -> "osName_",
    "os_arch" -> "osArch_",
    "has_flash" -> "hasFlash_"
  )

  def flatten(readback: DataFrame): Seq[(String, String, Double)] = {
    val prefix = typedlit(keyPrefixes)
    val rows = readback
      .select(
        date_format(col("date_from"), "yyyy-MM-dd"),
        concat(element_at(prefix, col("dimension")), col("key")),
        col("ratio")
      )
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // the rows are collected anyway, so they sort here rather than in a
    // Spark sort (a sampling job plus a sort stage); flat keys compare as
    // Spark compares strings (binary UTF-8), which the JSON key order
    // has always followed
    val binary: Ordering[UTF8String] = _ compareTo _
    rows.toSeq.sortBy(r => (r._1, UTF8String.fromString(r._2)))(
      Ordering.Tuple2(Ordering[String].reverse, binary))
  }
}
