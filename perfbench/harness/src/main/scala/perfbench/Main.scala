package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession

/** State shared by a workload run: the session, the tracer, the input and
  * output directories, the run deadline and the recorded samples.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String, seconds: Double) {
  val in = s"$work/in"
  val out = s"$work/out"
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  private var measuring = false
  private var loopStart = 0L
  private var loopEnd = 0L
  var stepCount = 0

  /** Marks the end of set-up: the caller times set-up up to this line, and
    * operations are counted and timed from here on.
    */
  def setupDone(): Unit = {
    println("PERFBENCH_SETUP_DONE")
    System.out.flush()
    measuring = true
    tracer.start()
    loopStart = System.nanoTime()
  }

  /** The measured loop: `body(i)` for steps i = 0, 1, ... until `seconds`
    * have passed and at least `min` steps have run.  A step is never cut.
    */
  def steps(min: Int)(body: Int => Unit): Unit = {
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      body(i)
      i += 1
    }
    loopEnd = System.nanoTime()
    stepCount = i
  }
  def loopSeconds: Double = (loopEnd - loopStart) / 1e9

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  /** Adds to a measured total; set-up (warm-up) work is not counted. */
  def add(key: String, v: Double): Unit = if (measuring) totals(key) = totals.getOrElse(key, 0.0) + v

  /** One closed-loop operation: timed under `key`, counted as attempted, and
    * counted as failed (with the error on stderr) if it throws.  During
    * set-up (warm-up) it just runs `body`, and a failure ends the run.
    */
  def op[T](key: String)(body: => T): Option[T] = {
    if (!measuring) return Some(body)
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      sample(key, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation $key failed: $e")
        e.printStackTrace()
        None
    }
  }

  def write(name: String, lines: Iterable[String]): Unit = {
    new File(out).mkdirs()
    Files.write(Paths.get(out, name), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Runs one workload in this JVM and writes `out/result.json`.
  *
  * {{{
  *   perfbench.Main --workload <name> --work <dir> --seconds <s> --trace <0|1> --cores <n> --run <id>
  * }}}
  * Prints `PERFBENCH_SETUP_DONE` when set-up ends and `PERFBENCH_DONE` when
  * the results are written, then waits for a line (or end of input) on
  * stdin before stopping Spark, so the caller can read the process's peak
  * RSS while every byte of it is still mapped.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getCanonicalPath
    val spark = GraftSession.builder(cores = opts("cores").toInt, appName = "perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(spark, opts("trace") == "1")
    val ctx = new Ctx(spark, tracer, work, opts("seconds").toDouble)
    opts("workload") match {
      case "etl_backfill" => EtlBackfill.run(ctx)
      case "cdc_upsert" => CdcUpsert.run(ctx)
      case "corpus_dedup" => CorpusDedup.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.drain()
    val (spans, layers, residual) = tracer.report()
    implicit val formats: Formats = DefaultFormats
    ctx.write("result.json", Seq(Serialization.write(Map(
      "session_s" -> sessionS,
      "loop_s" -> ctx.loopSeconds,
      "steps" -> ctx.stepCount,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "samples" -> ctx.samples.map { case (k, v) => k -> v.toList }.toMap,
      "totals" -> ctx.totals.toMap,
      "layers" -> layers,
      "gap_residual_s" -> residual,
      "spans" -> spans.map { case (sp, m) =>
        Map("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "run" -> opts.getOrElse("run", ""),
          "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "metrics" -> m)
      }))))
    println("PERFBENCH_DONE")
    System.out.flush()
    scala.io.StdIn.readLine()
    // nothing is left to flush: skip Spark's shutdown, the caller removes
    // the run's directory
    Runtime.getRuntime.halt(0)
  }
}
