package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{Dedup, EventsEtl, Wau}
import graft.sources.{CsvSource, GraftCatalog, GraftSqlDml, SnapshotLog, TableManager}

/** The reference job end to end, in steps: set-up loads the month CSVs
  * into the external KST-partitioned table, the first month and then the
  * second (sessions continue across the month boundary); each measured step
  * reloads one month (idempotent backfill, the second month and the first
  * in turn) and then runs one group of WAU queries over the table, listed
  * by the generator in `queries.tsv` (group, kind, key, start, end): the
  * reference's templated SQL through `TableManager.extract`, `Wau.wau` and
  * `Wau.wauApprox`.
  */
object EtlBackfill extends AdaptiveSparkPlanHelper {
  val CsvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true)))
  val Jan = ("2024-01", "2024-01-01 00:00:00", "2024-02-01 00:00:00")
  val Feb = ("2024-02", "2024-02-01 00:00:00", "2024-03-01 00:00:00")

  def parquetFiles(dir: String): Set[String] = {
    val root = new File(dir)
    if (!root.exists()) Set.empty
    else FileUtils.listFiles(root, Array("parquet"), true).asScala.map(_.getPath).toSet
  }

  def csvRows(ctx: Ctx, month: String): Long = {
    val lines = Files.lines(Paths.get(ctx.in, CsvSource.monthFileName(month)), StandardCharsets.UTF_8)
    try lines.count() - 1 finally lines.close()
  }

  /** Load `month` as one traced operation. */
  def load(ctx: Ctx, t: TableManager, dir: String, month: (String, String, String)): Unit = {
    val before = if (ctx.tracer.enabled) parquetFiles(dir) else Set.empty[String]
    ctx.tracer.spanWith("operators.EventsEtl.loadBatch", (_: Unit) =>
      Map("files_written" -> (parquetFiles(dir) -- before).size.toDouble)) {
      val events = new CsvSource(CsvSchema).readMonths(ctx.spark, ctx.in, Seq(month._1))
      EventsEtl.loadBatch(ctx.spark, t, events, month._2, month._3)
    }
  }

  def template(key: String, start: String, end: String): String =
    s"""WITH activity_with_week AS (
       |  SELECT $key, DATE_TRUNC('WEEK', event_date_kst) AS event_week
       |  FROM {TABLE}
       |)
       |SELECT CAST(event_week AS DATE) AS event_week,
       |       COUNT(DISTINCT $key) AS wau
       |FROM activity_with_week
       |WHERE event_week >= DATE_TRUNC('WEEK', CAST('$start' AS DATE))
       |  AND event_week <= DATE_TRUNC('WEEK', CAST('$end' AS DATE))
       |GROUP BY event_week
       |ORDER BY event_week ASC""".stripMargin

  def filesRead(df: DataFrame): Double =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble

  /** One WAU query, collected; `q` is (group, kind, key, start, end). */
  def query(ctx: Ctx, t: TableManager, dir: String, q: Array[String]): Array[Row] = {
    val Array(_, kind, key, start, end) = q
    val spark = ctx.spark
    kind match {
      case "extract" =>
        ctx.tracer.spanWith("sources.TableManager.extract", (r: (DataFrame, Array[Row])) =>
          Map("files_read" -> filesRead(r._1), "files_total" -> parquetFiles(dir).size.toDouble)) {
          val df = t.extract(spark, template(key, start, end))
          (df, df.collect())
        }._2
      case "wau" =>
        ctx.tracer.span("operators.Wau.wau") {
          Wau.wau(t.read(spark), key, col("event_date_kst"), start, end).collect()
        }
      case "approx" =>
        ctx.tracer.span("operators.Wau.wauApprox") {
          Wau.wauApprox(t.read(spark), key, col("event_date_kst"), start, end).collect()
        }
    }
  }

  def run(ctx: Ctx): Unit = {
    val rows = Map(Jan._1 -> csvRows(ctx, Jan._1), Feb._1 -> csvRows(ctx, Feb._1))
    val groups = Files.readAllLines(Paths.get(ctx.in, "queries.tsv")).asScala.toSeq
      .map(_.split("\t")).groupBy(_(0).toInt).toSeq.sortBy(_._1).map(_._2)
    val dir = s"${ctx.work}/table"
    val t = new TableManager("perfbench_events", EventsEtl.tableSchema, Seq("event_date_kst"), Some(dir))
    t.recreate(ctx.spark)
    load(ctx, t, dir, Jan)
    load(ctx, t, dir, Feb)
    // for the reload check: the table before any reload
    FileUtils.copyDirectory(new File(dir), new File(s"${ctx.work}/table_before_reload"))
    val results = Seq.newBuilder[String]
    def step(i: Int): Unit = {
      val m = if (i % 2 == 0) Feb else Jan
      ctx.op("load_s")(load(ctx, t, dir, m))
      ctx.add("events", rows(m._1).toDouble)
      for (q <- groups(i % groups.size)) {
        ctx.op("query_s")(query(ctx, t, dir, q)).foreach { rows =>
          results += (q.mkString("\t") +: rows.map(x => s"${x.get(0)}=${x.getLong(1)}")).mkString("\t")
        }
      }
    }

    // warm-up, untimed: one step and one more reload of the first month,
    // so that the measured loads are not the engine's first few
    step(0)
    load(ctx, t, dir, Jan)
    ctx.setupDone()
    ctx.steps(1)(i => step(1 + i))
    ctx.write("wau_results.tsv", results.result())
  }
}

/** One snapshot table under change: SQL MERGE / UPDATE / DELETE through
  * GraftSqlDml, the graft-log upsert sink fed one source version per
  * trigger, and latest, time-travel and history reads between commits.
  */
object CdcUpsert {
  val Catalog = "perfbench"
  /** A time-travel read goes this many versions back from the latest. */
  val AsOfLag = 2
  val Merge =
    s"""MERGE INTO $Catalog.cdc AS t USING perfbench_changes AS s ON t.k = s.k
       |WHEN MATCHED AND s.status = 'deleted' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET t.status = s.status, t.cents = s.cents
       |WHEN NOT MATCHED AND s.status <> 'deleted' THEN INSERT *""".stripMargin

  /** Order-free digest of (k, status, cents) rows: row count, sum of keys
    * and the sum of each row's CRC-32 over `k|status|cents`.
    */
  def digest(rows: Array[Row]): (Long, Long, Long) = {
    var sumK = 0L
    var sumCrc = 0L
    rows.foreach { r =>
      val c = new CRC32
      c.update(s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}".getBytes(StandardCharsets.UTF_8))
      sumK += r.getLong(0)
      sumCrc += c.getValue
    }
    (rows.length.toLong, sumK, sumCrc)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = s"${ctx.work}/snap"
    spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", root)
    // fresh directories: the caller empties the run's directory first
    val log = new SnapshotLog(s"$root/cdc")
    log.append(spark.read.parquet(s"${ctx.in}/base.parquet"), partitions = 4)
    val feed = new SnapshotLog(s"${ctx.work}/feed")
    val feedRows = spark.read.parquet(s"${ctx.in}/feed.parquet")
    feed.createEmpty(feedRows.drop("round").schema)
    val changes = spark.read.parquet(s"${ctx.in}/merge.parquet")
    val plan = Files.readAllLines(Paths.get(ctx.in, "plan.tsv")).asScala.toSeq.map(_.split("\t"))
    val q = spark.readStream.format("graft-log").option("root", feed.root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-log")
      .option("root", log.root).option("mergeKey", "k")
      .option("deleteIndicator", "_is_delete").option("appId", "perfbench")
      .option("checkpointLocation", s"${ctx.work}/checkpoint")
      // an idle query polls its source once per interval; a short interval
      // would keep a core busy listing the feed log between rounds
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    q.processAllAvailable()

    val commits = Seq.newBuilder[String]
    val reads = Seq.newBuilder[String]
    val baseVersion = log.currentVersion.get
    commits += Seq(-1, "base", -1, baseVersion, 0, 0, 0, 0).mkString("\t")
    var lastBatch = q.recentProgress.map(_.batchId).foldLeft(-1L)(math.max)

    def dml(r: Int, kind: String, sql: String): Unit = {
      val before = log.currentVersion.get
      ctx.op(s"${kind}_s") {
        ctx.tracer.spanWith("sources.GraftSqlDml.exec", (d: GraftSqlDml.DmlResult) => Map(
          "files_rewritten" -> (log.dataFiles(before).toSet -- log.dataFiles(d.version)).size.toDouble,
          "occ_retries" -> d.occRetries.toDouble)) {
          GraftSqlDml.exec(spark, sql)
        }
      }.foreach { d =>
        commits += Seq(r, kind, before, d.version, d.rowsUpdated, d.rowsDeleted, d.rowsInserted,
          d.occRetries).mkString("\t")
      }
    }

    def trigger(r: Int): Unit = {
      val before = log.currentVersion.get
      feed.append(feedRows.where(col("round") === r).drop("round"), partitions = 1)
      ctx.op("trigger_s")(q.processAllAvailable()).foreach { _ =>
        val ps = q.recentProgress.filter(_.batchId > lastBatch)
        ps.foreach { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1000.0 }
          ctx.tracer.streamSpan("sources.GraftLogSink.trigger",
            java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            d.getOrElse("triggerExecution", 0.0) * 1000.0, p.id.toString, p.batchId,
            Map("add_batch_s" -> d.getOrElse("addBatch", 0.0),
              "wal_commit_s" -> d.getOrElse("walCommit", 0.0),
              "query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
              "latest_offset_s" -> d.getOrElse("latestOffset", 0.0)))
          lastBatch = math.max(lastBatch, p.batchId)
        }
        commits += Seq(r, "trigger", before, log.currentVersion.get, ps.map(_.numInputRows).sum,
          0, 0, 0).mkString("\t")
      }
    }

    def read(r: Int, kind: String, version: Option[Long]): Unit = {
      val v = version.getOrElse(log.currentVersion.get)
      val sql = s"SELECT k, status, cents FROM $Catalog.cdc" + version.map(x => s" VERSION AS OF $x").getOrElse("")
      ctx.op(s"${kind}_s")(ctx.tracer.span("sources.GraftCatalog.read")(spark.sql(sql).collect()))
        .foreach { rows =>
          val (n, k, c) = digest(rows)
          reads += Seq(r, kind, v, n, k, c).mkString("\t")
        }
    }

    // one operation per step, in this order; round `r` of the plan gives
    // the change sets and statement parameters of steps 7r .. 7r + 6
    val kinds = Seq("merge", "update", "trigger", "latest", "delete", "as_of", "history")
    def step(r: Int, kind: String): Unit = {
      val p = plan(r)
      kind match {
        case "merge" =>
          changes.where(col("round") === r).drop("round").createOrReplaceTempView("perfbench_changes")
          dml(r, "merge", Merge)
        case "update" =>
          dml(r, "update", s"UPDATE $Catalog.cdc SET cents = cents + ${p(3)} WHERE k % ${p(1)} = ${p(2)}")
        case "trigger" => trigger(r)
        case "latest" => read(r, "latest", None)
        case "delete" => dml(r, "delete", s"DELETE FROM $Catalog.cdc WHERE k BETWEEN ${p(4)} AND ${p(5)}")
        case "as_of" => read(r, "as_of", Some(math.max(baseVersion, log.currentVersion.get - AsOfLag)))
        case "history" =>
          val cur = log.currentVersion.get
          ctx.op("history_s")(ctx.tracer.spanWith("sources.SnapshotLog.history",
            (h: Seq[(Long, String, Int, Int, Int, Int)]) => Map("versions" -> h.size.toDouble))(log.history))
            .foreach(h => reads += Seq(r, "history", cur, h.size, h.map(_._1).sum, 0).mkString("\t"))
      }
    }

    def stepAt(i: Int): Unit = step(i / kinds.size % plan.size, kinds(i % kinds.size))

    // warm-up: the first round of steps, untimed
    kinds.indices.foreach(stepAt)
    ctx.setupDone()
    // at least one step of each kind
    ctx.steps(kinds.size)(i => stepAt(kinds.size + i))
    q.stop()
    ctx.write("cdc_commits.tsv", commits.result())
    ctx.write("cdc_reads.tsv", reads.result())
  }
}

/** Near-duplicate detection over a generated corpus: exact groups, MinHash
  * n-gram Jaccard pairs, and connected components over the verified pairs.
  */
object CorpusDedup {
  val Threshold = 0.7
  val Bands = 8
  val PairSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType), StructField("jaccard", DoubleType)))

  final case class Output(groups: Array[Row], pairs: Array[Row], comps: Array[Row])

  def pass(ctx: Ctx, docs: DataFrame): Output = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val groups = tr.span("operators.Dedup.exactGroups")(Dedup.exactGroups(docs).collect())
    val pairs = tr.spanWith("operators.Dedup.ngramJaccardPairsViaMinhash",
      (p: Array[Row]) => Map("verified_pairs" -> p.length.toDouble)) {
      Dedup.ngramJaccardPairsViaMinhash(docs, Threshold, Bands).collect()
    }
    val pairDf = spark.createDataFrame(pairs.toSeq.asJava, PairSchema)
    val (comps, _) = tr.spanWith("operators.Dedup.connectedComponentsWithRounds",
      (c: (Array[Row], Int)) => Map("rounds" -> c._2.toDouble)) {
      val (df, n) = Dedup.connectedComponentsWithRounds(docs.select(col("doc_id")), pairDf)
      (df.collect(), n)
    }
    Output(groups, pairs, comps)
  }

  def run(ctx: Ctx): Unit = {
    val docs = ctx.spark.read.parquet(s"${ctx.in}/docs.parquet")
    val nDocs = docs.count()
    // warm-up: two untimed passes
    pass(ctx, docs)
    pass(ctx, docs)
    ctx.setupDone()
    var last: Option[Output] = None
    ctx.steps(1) { _ =>
      ctx.op("pass_s")(pass(ctx, docs)).foreach { o =>
        // every pass must give the same answer; the checks read the last
        last.foreach { p =>
          require(p.pairs.map(_.toString).sorted.sameElements(o.pairs.map(_.toString).sorted),
            "dedup passes disagree on the pairs")
        }
        last = Some(o)
      }
      ctx.add("docs", nDocs.toDouble)
    }
    if (ctx.tracer.enabled) {
      val cands = Dedup.minhashBandCandidates(Dedup.minhashSignatures(docs), Bands).count()
      ctx.tracer.addCounts("operators.Dedup.ngramJaccardPairsViaMinhash", Map("candidates" -> cands.toDouble))
    }
    last.foreach { o =>
      ctx.write("dedup_groups.tsv", o.groups.map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}"))
      ctx.write("dedup_pairs.tsv", o.pairs.map(r => s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getDouble(2)}"))
      ctx.write("dedup_components.tsv", o.comps.map(r => s"${r.getLong(0)}\t${r.getLong(1)}"))
    }
  }
}
