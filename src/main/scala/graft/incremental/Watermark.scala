package graft.incremental

import graft.io.{IO, Staging}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Watermark control table + incremental discovery (SURVEY §2.1
  * S10/S11, §2.2 K6, §2.10 ST2/ST3).
  *
  * The reference tracks batch-incremental progress in a single CSV
  * `(table_name, watermark_value, update_column)` that every ingest
  * task reads, filters, and rewrites
  * (dwh/ingest_click_house_incremental_load_users.py:28-46). The table
  * is O(#tables) rows, so read-modify-overwrite through the driver is
  * the right scale design — the DATA path never touches it beyond one
  * pushed-down predicate.
  *
  * Semantics kept faithful: the watermark only advances on a non-empty
  * batch (ST2), and files/folders at-or-below the watermark are never
  * re-read, i.e. late data is dropped at-most-once (ST3).
  *
  * Durability contract (the reference's raw overwrite has none:
  * a crash mid-rewrite loses every table's watermark): [[writeTable]]
  * publishes the new CSV through [[Staging.atomicSwap]] — written
  * beside the live table, swapped in with directory renames — and
  * [[readTable]] heals a swap that crashed between its renames through
  * [[Staging.recover]] (roll back to the previous table; a stale side
  * directory is dropped by the next write). A crash at ANY point leaves
  * either the previous or the new watermark readable, never a
  * torn/absent table; the previous value merely re-reads one batch
  * (at-least-once, the safe direction). SINGLE WRITER assumed —
  * concurrent [[update]]s read-modify-write and can lose each other's
  * rows, same as the reference's design; one control table belongs to
  * one scheduler. Readers participate in recovery, so a reader racing a
  * LIVE writer could roll back its in-flight swap — serialize reads
  * with writes under that same scheduler; recovery is for crash
  * remains, not concurrency.
  *
  * The table is stored and read as three STRING columns: the engine
  * fixes its schema, so nothing is inferred — inference would rewrite
  * stored values (`007` → `7`, an ISO instant → a local timestamp
  * string) and cost extra jobs on every read.
  */
object Watermark {

  case class Entry(tableName: String, watermarkValue: String, updateColumn: String)

  private val Columns = Seq("table_name", "watermark_value", "update_column")
  private val Schema = StructType(Columns.map(StructField(_, StringType)))

  /** Read the control CSV into memory (it is tiny by construction),
    * healing a crashed swap first. */
  def readTable(spark: SparkSession, path: String): Seq[Entry] = {
    Staging.recover(spark, path)
    spark.read.option("header", "true").schema(Schema).csv(path)
      .collect()
      .toSeq
      .map(r => Entry(r.getString(0), r.getString(1), r.getString(2)))
  }

  /** S10 — scalar lookup for one table. */
  def lookup(spark: SparkSession, path: String, table: String): Option[Entry] =
    readTable(spark, path).find(_.tableName == table)

  /** K6 — advance one row and overwrite the control file. No-op when
    * `newValue` is None (empty batch; ST2). */
  def update(spark: SparkSession, path: String, table: String, newValue: Option[String]): Unit =
    newValue.foreach { v =>
      val updated = readTable(spark, path).map {
        case e if e.tableName == table => e.copy(watermarkValue = v)
        case e                         => e
      }
      writeTable(spark, path, updated)
    }

  /** Crash-safe overwrite through [[Staging.atomicSwap]] (see the
    * durability contract above). A plain `SaveMode.Overwrite` deletes
    * the live table before the new files commit — a crash in that
    * window loses every watermark. */
  def writeTable(spark: SparkSession, path: String, entries: Seq[Entry]): Unit = {
    import spark.implicits._
    Staging.atomicSwap(spark, path)(tmp =>
      IO.writeCsv(entries.toDF(Columns: _*), tmp, singleFile = true))
  }

  /** S2/P2 — incremental scan: rows strictly past the watermark. With a
    * parquet/JDBC source Catalyst pushes this predicate into the scan,
    * which is exactly the reference's `WHERE {col} > '{wm}'` pushdown. */
  def incrementalScan(df: DataFrame, updateColumn: String, watermark: String): DataFrame =
    df.filter(col(updateColumn) > lit(watermark).cast(df.schema(updateColumn).dataType))

  /** A2 — next watermark value = max(updateColumn) of the batch; None
    * when the batch is empty. */
  def nextWatermark(batch: DataFrame, updateColumn: String): Option[String] = {
    val r = batch.agg(max(col(updateColumn)).cast("string")).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  /** S11 — file-time incremental discovery
    * (dwh/preprocessing_streaming_incremental_load.py:50-77): dated
    * folders named yyyyMMdd compared as strings against the watermark
    * date, then per-file `yyyyMMddHHmmss` name prefixes against the
    * full watermark; surviving files sorted ascending. Listing is
    * driver-side metadata (same as any file-source discovery); the
    * data read stays distributed.
    */
  def discoverFiles(
      spark: SparkSession,
      base: String,
      watermark: String // yyyyMMddHHmmss
  ): Seq[String] = {
    val wmDate = watermark.take(8)
    IO.listChildren(spark, base)
      .filter(_ >= wmDate)
      .flatMap { day =>
        IO.listChildren(spark, s"$base/$day")
          .filter { f =>
            val stamp = f.takeWhile(_.isDigit)
            stamp.length == 14 && stamp > watermark
          }
          .map(f => s"$base/$day/$f")
      }
      .sorted
  }
}
