package graft.perfbench

import graft.SparkEntry
import graft.Tables
import graft.incremental.Watermark
import graft.io.IO
import graft.llm.DedupLsh
import graft.pipeline.{Browsing, Ingest}
import graft.quality.Quality
import graft.streaming.Streams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Trace.span

/** One benchmark workload: the operations it times, in the shape the
  * engine's callers use them, and the oracle checks of their outputs. */
trait Workload {
  /** Build-once artifacts (their time counts in set-up). */
  def build(spark: SparkSession, in: Inputs, out: String): Long = 0L
  /** The timed closed loop over the inputs `in`; each phase starts
    * with a warm-up pass ([[Runner.warm]]) over `warm`, written under
    * `out/warm`. */
  def measure(r: Runner, in: Inputs, warm: Inputs, out: String, seconds: Double): Unit
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "medallion_dag" => MedallionDag
    case "curation_dedup" => CurationDedup
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Warm-up passes before a phase of multi-second operations (DAG
    * runs, corpus passes): after one, the next is still about 40 %
    * slower while compilation catches up; light operations need one. */
  private[perfbench] val HeavyWarmPasses = 2

  /** Shares of a run's measured time: medallion_dag's DAG runs and
    * polls (the stream drain takes the rest), curation_dedup's corpus
    * passes (the served batches take the rest). The polls and served
    * batches get the larger shares: their median is op_p50_s. */
  private[perfbench] val DagShare = 0.2
  private[perfbench] val PollShare = 0.6
  private[perfbench] val CorpusShare = 0.3

  private[perfbench] def oracle(name: String): String =
    SparkEntry.oracleSql.getOrElse(name, sys.error(s"no oracle registered for $name"))

  /** Replace `old` in an oracle text, failing if it is not there (a
    * registry edit must not silently turn a check into a no-op). */
  private[perfbench] def substitute(sql: String, old: String, now: String): String = {
    require(sql.contains(old), s"oracle text no longer contains: ${old.take(80)}")
    sql.replace(old, now)
  }

  /** The text between `open` and the next `close` in an oracle: the
    * corpus sub-query an oracle was written over, to be replaced by the
    * generated corpus. */
  private[perfbench] def between(sql: String, open: String, close: String): String = {
    val i = sql.indexOf(open)
    val j = sql.indexOf(close, i + open.length)
    require(i >= 0 && j >= 0, s"oracle text no longer has the shape ${open}...${close}")
    sql.substring(i + open.length, j)
  }

  private[perfbench] def parquetFiles(paths: Seq[String]) =
    paths.map(p => s"'$p'").mkString("read_parquet([", ", ", "])")
}

import Workloads._

/** The reference's medallion ETL, as one Airflow schedule window runs
  * it. A batch phase repeats the nightly DAG run: the E3 full load of a
  * ProblemLog-like CSV with its QC report, the E2 browsing pipeline into
  * a bronze Parquet directory, and the QC report of the events zone. An
  * incremental phase then lands small deltas one at a time, each
  * followed by one E1 watermark poll, and a streaming phase drains the
  * delta files through the Append-mode session-window stream, one file
  * per micro-batch. The batch phase is data-heavy; the polls and
  * micro-batches sit on the coordination floor. */
object MedallionDag extends Workload {

  /** The k7 report spec; its registered oracle is defined by it. */
  private val eventsSpec = Quality.ReportSpec(
    nullCols = Seq("event_id", "event_type"),
    defaults = Map("event_type" -> lit("view")),
    dupKeys = Seq("user_id", "event_type"),
    cleanRules = Seq(
      Quality.CleanRule("value_pos", "value", col("value") > 0.0),
      Quality.CleanRule("props_json", "props", col("props").startsWith("{"))))
  private val eventsTypes = Map("event_id" -> "bigint", "event_type" -> "string")

  private val landedSpec = Quality.ReportSpec(
    nullCols = Seq("l_orderkey", "l_linenumber"),
    dupKeys = Seq("l_orderkey", "l_linenumber"),
    cleanRules = Seq(Quality.CleanRule("quantity_pos", "l_quantity", col("l_quantity") > 0.0)))

  private val streamSchema = StructType(Seq(
    StructField("entry_id", LongType), StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("pageview_count", LongType),
    StructField("event_type", StringType)))

  private def archive(out: String) =
    IO.datedPath(s"$out/archive", "archives", "problemlog", "parquet", "20250625", "20250625000000")
  private def delta(in: Inputs, i: Int) = f"${in.path}/deltas/delta_$i%04d.parquet"
  private def srcDir(out: String) = s"$out/src/events.parquet"
  private def landzone(out: String, i: Int) =
    IO.datedPath(s"$out/landzone", "stream", "events", "json", "20250625", f"20250625$i%06d")

  private def dag(spark: SparkSession, in: Inputs, out: String): Long = {
    val landed = span("pipeline.batchFullLoad") {
      Ingest.batchFullLoad(spark, s"${in.path}/problemlog.csv", "problemlog", s"$out/landzone",
        s"$out/archive", "20250625", "20250625000000",
        sampleKeys = Seq("l_orderkey", "l_linenumber"))
    }
    span("pipeline.qualityCheck") {
      Ingest.qualityCheck(landed, landedSpec, s"$out/reports/landed.json")
    }
    val bronze = span("pipeline.Browsing") { Browsing.pipeline(spark, in.path, perUser = true) }
    span("pipeline.Browsing.bronze") { IO.writeParquet(bronze, s"$out/bronze") }
    span("pipeline.qualityCheck") {
      Ingest.qualityCheck(Tables.events(spark, in.path), eventsSpec,
        s"$out/reports/events.json", eventsTypes)
    }
    in.long("csv_rows") + in.long("events")
  }

  /** Fresh poll source (the events table only) and watermark table at
    * its maximum. */
  private def reset(in: Inputs, out: String, spark: SparkSession): Unit = {
    Streams.deleteDir(spark, s"$out/src")
    Streams.deleteDir(spark, s"$out/wm")
    new java.io.File(srcDir(out)).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"${in.path}/events.parquet"),
      java.nio.file.Paths.get(s"${srcDir(out)}/history.parquet"))
    Watermark.writeTable(spark, s"$out/wm", Seq(Watermark.Entry("events", in.str("wm0"), "ts_us")))
  }

  private def land(in: Inputs, out: String, i: Int): Unit =
    java.nio.file.Files.copy(java.nio.file.Paths.get(delta(in, i)),
      java.nio.file.Paths.get(f"${srcDir(out)}/delta_$i%04d.parquet"))

  private def poll(spark: SparkSession, in: Inputs, out: String, i: Int): Long = {
    val src = Tables.events(spark, s"$out/src").withColumn("ts_us", unix_micros(col("ts")))
    span("pipeline.incrementalIngest") {
      Ingest.incrementalIngest(spark, src, "events", s"$out/wm", s"$out/landzone",
        s"$out/archive", "20250625", f"20250625$i%06d")
    }
    in.long("delta_rows")
  }

  private def drain(spark: SparkSession, in: Inputs, out: String): Long = {
    span("streaming.runFileStreamToParquet") {
      Streams.runFileStreamToParquet(spark, s"${in.path}/deltas_json/*.json", streamSchema,
        s"$out/ckpt", s"$out/stream", df => Streams.sessionWindowAppend(df),
        maxFilesPerTrigger = Some(1))
    }
    in.long("drain_rows")
  }

  override def build(spark: SparkSession, in: Inputs, out: String): Long = {
    reset(in, out, spark)
    in.long("events")
  }

  def measure(r: Runner, in: Inputs, warm: Inputs, out: String, seconds: Double): Unit = {
    r.warm((1 to HeavyWarmPasses).foreach(k => dag(r.spark, warm, s"$out/warm/dag$k")))
    val dagDeadline = r.nowS() + seconds * DagShare
    val lineitem = Map("lineitem" -> s"SELECT * FROM ${parquetFiles(Seq(s"${in.path}/lineitem.parquet"))}")
    val events = Map("events" -> s"SELECT * FROM ${parquetFiles(Seq(s"${in.path}/events.parquet"))}")
    val e3 = oracle("e3_batch_ingest")
    var k = 0
    while (r.fits("dag", dagDeadline)) {
      k += 1
      val o = s"$out/dag$k"
      val id = r.op("dag")(dag(r.spark, in, o))
      r.check("e3_batch_ingest", Seq(id), e3, lineitem,
        s"""SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           |  CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
           |FROM read_parquet('${archive(o)}/*.parquet')""".stripMargin)
      r.check("e3_landed_qc_rows", Seq(id), s"SELECT COUNT(*) AS n_rows FROM ($e3)", lineitem,
        s"SELECT n_rows FROM read_json_auto('$o/reports/landed.json')")
      r.check("e2_browsing_user", Seq(id), oracle("e2_browsing_user"), events,
        s"SELECT * FROM read_parquet('$o/bronze/*.parquet')")
      r.check("k7_quality_report", Seq(id), oracle("k7_quality_report"), events,
        s"SELECT * FROM read_json_auto('$o/reports/events.json')", columns = "oracle")
    }

    r.warm {
      reset(warm, s"$out/warm", r.spark)
      (0 until warm.long("deltas").toInt).foreach { i =>
        land(warm, s"$out/warm", i)
        poll(r.spark, warm, s"$out/warm", i)
      }
    }
    val pollDeadline = r.nowS() + seconds * PollShare
    val nDeltas = in.long("deltas").toInt
    val e1 = oracle("e1_incremental_ingest")
    val wmLiteral = "1704175200000000"
    val landedFiles = Seq.newBuilder[String]
    var i = 0
    var lastPoll = 0
    while (i < nDeltas && r.fits("poll", pollDeadline)) {
      land(in, out, i)
      val id = r.op("poll")(poll(r.spark, in, out, i))
      val before = s"${in.path}/events.parquet" +: (0 until i).map(delta(in, _))
      val now = before :+ delta(in, i)
      r.check("e1_incremental_ingest", Seq(id),
        substitute(e1, wmLiteral, s"(SELECT max(epoch_us(ts)) FROM ${parquetFiles(before)})"),
        Map("events" -> s"SELECT * FROM ${parquetFiles(now)}"),
        s"SELECT event_id, user_id, event_type, ts_us FROM read_json_auto('${landzone(out, i)}/*.json')")
      landedFiles += s"${landzone(out, i)}/*.json"
      lastPoll = id
      i += 1
    }
    r.check("final_watermark", Seq(lastPoll),
      s"SELECT CAST(max(ts_us) AS VARCHAR) AS watermark_value FROM read_json_auto(${
        landedFiles.result().map(p => s"'$p'").mkString("[", ", ", "]")})",
      Map.empty,
      s"""SELECT CAST(watermark_value AS VARCHAR) AS watermark_value
         |FROM read_csv('$out/wm/*.csv', header = true, all_varchar = true)
         |WHERE table_name = 'events'""".stripMargin)

    r.warm(drain(r.spark, warm, s"$out/warm"))
    val id = r.op("drain")(drain(r.spark, in, out))
    // Spark drops a row as late against the PREVIOUS micro-batch's
    // event-time watermark, so the first two files reach the state
    // store whole; from the third on, a file's late rows (hours behind
    // every earlier file) are dropped and the rest lie past the
    // maximum of the files before it
    val files = (0 until in.long("drain_files").toInt).map(delta(in, _))
    val accepted = files.indices.map { j =>
      if (j < 2) s"SELECT * FROM ${parquetFiles(Seq(files(j)))}"
      else s"""SELECT * FROM ${parquetFiles(Seq(files(j)))}
              |WHERE epoch_us(ts) > (SELECT max(epoch_us(ts)) FROM ${parquetFiles(files.take(j))})""".stripMargin
    }.mkString("\nUNION ALL\n")
    r.check("st4_session_window_append", Seq(id), oracle("st4_session_window_append"),
      Map("events" -> accepted), s"SELECT * FROM read_parquet('$out/stream/*.parquet')")
  }
}

/** LLM-data curation: the corpus pass (exact dedup, MinHash near-dup
  * pairs, connected components) repeated, then incoming batches served
  * against the build-once corpus band artifact. */
object CurationDedup extends Workload {

  private def sigs(out: String) = s"$out/artifact/corpus_bands"
  private def batchFile(in: Inputs, b: Int) = f"${in.path}/batches/batch_$b%04d.parquet"

  private def corpusPass(spark: SparkSession, in: Inputs, out: String): Long = {
    val docs = spark.read.parquet(s"${in.path}/documents.parquet").select("doc_id", "text")
    val exact = span("llm.exactDedup") { DedupLsh.exactDedup(docs, "doc_id", "text") }
    span("io.writeParquet") { IO.writeParquet(exact, s"$out/exact") }
    val kept = docs.join(spark.read.parquet(s"$out/exact").select("doc_id"), Seq("doc_id"), "left_semi")
    val pairs = span("llm.nearDupPairs") { DedupLsh.nearDupPairs(kept, "doc_id", "text") }
    span("llm.nearDupPairs.action") { IO.writeParquet(pairs, s"$out/pairs") }
    span("llm.nearDupClusters") {
      IO.writeParquet(DedupLsh.nearDupClusters(spark.read.parquet(s"$out/pairs")), s"$out/clusters")
    }
    in.long("docs")
  }

  private def serve(spark: SparkSession, in: Inputs, out: String, b: Int, dest: String): Long = {
    val batch = spark.read.parquet(batchFile(in, b)).select("doc_id", "text")
    val corpus = spark.read.parquet(sigs(out))
    val pairs = span("llm.crossNearDupPairsStaged") {
      DedupLsh.crossNearDupPairsStaged(batch, corpus, "doc_id", "text")
    }
    span("llm.crossNearDupPairsStaged.action") { IO.writeParquet(pairs, dest) }
    in.long("batch_docs")
  }

  override def build(spark: SparkSession, in: Inputs, out: String): Long = {
    val docs = spark.read.parquet(s"${in.path}/documents.parquet").select("doc_id", "text")
    span("llm.corpusBandSignatures") {
      IO.writeParquet(DedupLsh.corpusBandSignatures(docs, "doc_id", "text"), sigs(out))
    }
    in.long("docs")
  }

  def measure(r: Runner, in: Inputs, warm: Inputs, out: String, seconds: Double): Unit = {
    r.warm {
      build(r.spark, warm, s"$out/warm")
      (1 to HeavyWarmPasses).foreach(k => corpusPass(r.spark, warm, s"$out/warm/corpus$k"))
    }
    val corpusDeadline = r.nowS() + seconds * CorpusShare
    val documents = Map("documents" -> s"SELECT * FROM ${parquetFiles(Seq(s"${in.path}/documents.parquet"))}")
    val keptSql =
      """SELECT doc_id, text FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""".stripMargin
    val x1 = oracle("x1_exact_dedup")
    val x2 = oracle("x2_minhash_neardup")
    val x8 = oracle("x8_dedup_clusters")
    val nearCorpus = between(x2, "WITH corpus AS (", "),\nsh AS (")
    var k = 0
    while (r.fits("corpus", corpusDeadline)) {
      k += 1
      val o = s"$out/corpus$k"
      val id = r.op("corpus")(corpusPass(r.spark, in, o))
      r.check("x1_exact_dedup", Seq(id),
        substitute(x1, between(x1, "FROM (", ") GROUP BY md5(text)"),
          "SELECT doc_id, text FROM documents"),
        documents, s"SELECT * FROM read_parquet('$o/exact/*.parquet')")
      r.check("x2_minhash_neardup", Seq(id),
        substitute(x2, nearCorpus, keptSql),
        documents, s"SELECT * FROM read_parquet('$o/pairs/*.parquet')")
      // MATERIALIZED: DuckDB would otherwise recompute the pair CTE in
      // every step of the recursive closure (same values, 20x slower)
      r.check("x8_dedup_clusters", Seq(id),
        substitute(substitute(x8, nearCorpus, keptSql), "WITH RECURSIVE np AS (",
          "WITH RECURSIVE np AS MATERIALIZED ("),
        documents, s"SELECT * FROM read_parquet('$o/clusters/*.parquet')")
    }
    val x14 = oracle("x14_incremental_neardup")
    val newsrc = "WITH newsrc AS ("
    val nsh = "),\nnsh AS ("
    require(x14.startsWith(newsrc) && x14.contains(nsh), "x14 oracle no longer starts with its newsrc CTE")
    r.warm(serve(r.spark, warm, s"$out/warm", 0, s"$out/warm/serve"))
    val serveDeadline = r.nowS() + seconds * (1 - CorpusShare)
    val served = Seq.newBuilder[(Int, Int)]
    var b = 0
    val nBatches = in.long("batches").toInt
    while (b < nBatches && r.fits("serve", serveDeadline)) {
      val id = r.op("serve")(serve(r.spark, in, out, b, f"$out/serve$b%04d"))
      served += ((b, id))
      b += 1
    }
    // one oracle run for every served batch (the corpus side is the
    // expensive part), compared batch by batch on the batch's id range
    val batches = served.result()
    val bd = in.long("batch_docs")
    r.check("x14_incremental_neardup", batches.map(_._2),
      s"${newsrc}SELECT doc_id, text FROM ${parquetFiles(batches.map(x => batchFile(in, x._1)))}" +
        x14.substring(x14.indexOf(nsh)),
      documents,
      s"SELECT * FROM ${parquetFiles(batches.map(x => f"$out/serve${x._1}%04d/*.parquet"))}",
      split = Some(("id_new", batches.map { case (bi, id) =>
        (id, in.long("docs") + bi * bd, in.long("docs") + (bi + 1) * bd) })))
  }
}
